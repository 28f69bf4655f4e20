"""The benchmark's workloads: which registered queries a pass runs, on what input.

Each workload is a fixed, ordered list of ``plans.QUERIES`` names run on
``tools/gen_sf.generate(sf, dir, seed)`` output; why each was chosen is in
``BENCHMARK.json``. The lists are subsets of the registry chosen so a warm
pass takes a few seconds on a 4-core machine and a whole run (start-up,
warm-up, timed passes) stays near a minute.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    # the tables to generate; None generates all of them
    tables: frozenset[str] | None = None


WORKLOADS = {w.name: w for w in (
    Workload(
        "search_curate", 0.05,
        (
            # the reference's own operator: exact L2 kNN, single and batch
            "q_knn", "q_knn_join",
            # LLM-data-pipeline dedup: banded MinHash LSH
            "q_dedup_minhash",
        ),
        frozenset({"documents", "embeddings"}),
    ),
    Workload(
        "relational_maintain", 0.1,
        (
            # scan, wide aggregate and top-k window
            "q_scan_filter", "q_agg_basic", "q_topk_per_group",
            # keyed change-data apply, and writes partitioned by a key, then re-reads
            "q_cdc_apply", "q_sink_roundtrip", "q_partitioned_sink",
        ),
    ),
)}

# Input size of the quality probe: in a traced run, the quality queries the
# workload does not time run once, untimed, on this size from the same seed.
PROBE_SF = 0.02


def _ann_recall(pdf: pd.DataFrame) -> dict[str, float]:
    return {"operators.ann_recall_at_10": float(pdf["recall_at_10"].mean())}


def _lsh_quality(pdf: pd.DataFrame) -> dict[str, float]:
    return {"operators.lsh_precision": float(pdf["precision"].iloc[0]),
            "operators.lsh_recall": float(pdf["recall"].iloc[0])}


# Queries whose results are per-layer quality metrics, and how to read them.
QUALITY_METRICS = ("operators.ann_recall_at_10", "operators.lsh_precision",
                   "operators.lsh_recall")
QUALITY = {"q_ann_recall": _ann_recall, "q_minhash_wide_eval": _lsh_quality}
