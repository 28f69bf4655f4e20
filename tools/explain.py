"""Dump formatted physical plans for registry queries → tools/plans/.

Used to verify, per SURVEY §4 / the scale mandate:
- predicate pushdown + column pruning reach the parquet scan
  (PushedFilters / ReadSchema),
- small sides broadcast (BroadcastHashJoin / BroadcastExchange),
- aggregations are partial+final (HashAggregate x2),
- top-k compiles to TakeOrderedAndProject (no global sort),
- WholeStageCodegen spans cover the hot expressions.

Captures TWO artifact kinds:
- tools/plans/<name>.txt  — full `explain("formatted")` text (human/judge
  reading; default sf0.01);
- tools/plans/SIGNATURES.json — per-query normalized physical-node
  sequence captured at sf0.001 (the SF the test suite uses), pinned by
  tests/test_plans.py::test_plan_signatures_unchanged. A broadcast→SMJ
  flip, a lost WindowGroupLimit, or a new shuffle changes the node
  sequence and fails the pin even though the query stays correct.

Usage:
  python tools/explain.py                      # all queries: txt + signatures
  python tools/explain.py SF_DIR q_a q_b ...   # subset: txt + merged signatures
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from create_proposals_using_vector_db_public_spark.plans import QUERIES
from create_proposals_using_vector_db_public_spark.session import get_spark

OUT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans")
SIG_PATH = os.path.join(OUT_DIR, "SIGNATURES.json")
SIG_SF = "/root/testdata/sf0.001"

_NODE = re.compile(r"^\(\d+\) ([A-Za-z][\w .]*?)\s*(?:\[codegen id : \d+\])?$",
                   re.M)


def plan_text(spark, name: str, sf_dir: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        QUERIES[name](spark, sf_dir).explain("formatted")
    return buf.getvalue()


def signature(plan: str) -> list[str]:
    """Ordered physical node names from the formatted plan's detail
    headers — one entry per node, arguments/paths/ids stripped, so the
    pin is structural (join strategy, shuffle count, agg levels) and not
    brittle against temp paths or plan-id renumbering."""
    return _NODE.findall(plan)


def main() -> None:
    txt_sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(QUERIES)
    os.makedirs(OUT_DIR, exist_ok=True)
    # a subset capture merges its entries into the existing pins, so
    # re-capturing one query never rewrites the other queries' signatures
    sigs: dict[str, list[str]] = {}
    if sys.argv[2:] and os.path.isfile(SIG_PATH):
        with open(SIG_PATH) as f:
            sigs = json.load(f)["signatures"]
    spark = get_spark("explain", shuffle_partitions=8)
    for name in names:
        with open(os.path.join(OUT_DIR, f"{name}.txt"), "w") as f:
            f.write(plan_text(spark, name, txt_sf))
        sigs[name] = signature(plan_text(spark, name, SIG_SF))
        print(f"wrote {name}")
    with open(SIG_PATH, "w") as f:
        json.dump({"sf_dir": SIG_SF, "signatures": sigs}, f, indent=0,
                  sort_keys=True)
    print(f"wrote {len(names)} of {len(sigs)} signatures -> {SIG_PATH}")
    spark.stop()


if __name__ == "__main__":
    main()
