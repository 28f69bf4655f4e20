"""Training-data selection & sampling operators (round 2 batch 7).

A 100 TB corpus pipeline doesn't just clean and dedup (pipeline_queries,
dedup_queries) — it also has to *order, select, and pair* examples before
training. Three operators the reference app never needed but the north
star mandates (BASELINE.json "LLM-data-pipeline operators"), each pure
built-in Column algebra, each DuckDB-oracle exact:

- q_corpus_shuffle  — deterministic global permutation into shards (the
  "shuffle the corpus before training" step, reproducible across runs)
- q_dsir_select     — hashed-unigram importance selection toward a target
  domain (the DSIR recipe: Xie et al. 2023, "Data Selection for Language
  Models via Importance Resampling" — public paper; ratios kept in exact
  integer arithmetic, no libm log anywhere)
- q_negative_sample — K deterministic in-batch negatives per document via
  congruential offsets over the dense id space (contrastive-training
  pairing without RNG state)

All randomness is md5-derived (functions.hashing) so Spark and DuckDB
agree bit-for-bit; no Date.now/rand() anywhere, so re-runs are stable —
the property a training-data lineage audit actually needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import d_h64, h64
from ..operators.selection import SCALE as DSIR_SCALE
from ..operators.selection import dsir_scores
from ..sources import load_table
from .duck import d_words
from .registry import query

_N_SHARDS = 16

_SHUFFLE_ORACLE = f"""
WITH h AS (
  SELECT doc_id, {d_h64("CAST(doc_id AS VARCHAR)", "shuf")} AS hv
  FROM documents
)
SELECT doc_id,
       CAST(hv % {_N_SHARDS} AS BIGINT) AS shard,
       CAST(row_number() OVER (
         PARTITION BY hv % {_N_SHARDS} ORDER BY hv, doc_id
       ) AS BIGINT) AS pos
FROM h
"""


@query("q_corpus_shuffle", oracle=_SHUFFLE_ORACLE)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle: every document gets a (shard, pos)
    address forming a global pseudo-random permutation — the reproducible
    replacement for `ORDER BY rand()` that training-data loaders need
    (same seed ⇒ same order, any cluster size, any partitioning). The
    md5-derived key both assigns the shard and orders within it, so one
    narrow (doc_id, hash) projection shuffles; the per-shard row_number
    is the unavoidable cost of a dense position — it parallelizes across
    shards, and at 100 TB you raise _N_SHARDS (1024+) so each shard's
    sort fits an executor. Position is *within shard* by design: a single
    global dense sequence would serialize on one partition."""
    h = h64(F.col("doc_id").cast("string"), seed="shuf")
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", h.alias("hv"))
        .withColumn("shard", (F.col("hv") % _N_SHARDS).cast("bigint"))
        .select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("bigint").alias("pos"),
        )
    )


_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({d_words()}) AS term FROM documents
),
stats AS (
  SELECT term,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS tcnt,
         CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS bcnt
  FROM toks GROUP BY term
),
scored AS (
  SELECT t.doc_id,
         CAST(sum(((s.tcnt + 1) * {DSIR_SCALE}) // (s.bcnt + 1))
              // count(*) AS BIGINT) AS dsir_score
  FROM toks t JOIN stats s ON s.term = t.term
  GROUP BY t.doc_id
)
SELECT doc_id, dsir_score,
       dsir_score * (SELECT count(*) FROM scored)
         > (SELECT sum(dsir_score) FROM scored) AS selected
FROM scored
"""


@query("q_dsir_select", oracle=_DSIR_ORACLE)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023): score each document by
    the mean Laplace-smoothed target/background unigram importance ratio
    (target = English docs) and flag the above-mean docs for the training
    mix. Scoring semantics live in operators.selection.dsir_scores (mean
    of floor-scaled integer ratios — monotone like the paper's mean log
    ratio, EXACT on both engines, length-normalized); the vocabulary
    preference itself is proven on a constructed two-vocabulary corpus in
    tests/test_selection.py, because the driver's synthetic documents
    share one 31-term vocabulary across every language — on that fixture
    this query's value is the exact plumbing, not the (absent) lexical
    signal. The above-mean threshold is a 1-row re-aggregate broadcast
    over the |docs|-sized score table."""
    scored = dsir_scores(
        load_table(spark, sf_dir, "documents"), F.col("lang") == "en"
    )
    tot = scored.agg(
        F.sum("dsir_score").alias("ts"), F.count("*").alias("nd")
    )
    return scored.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "dsir_score",
        (F.col("dsir_score") * F.col("nd") > F.col("ts")).alias("selected"),
    )


_NEG_K = 4

_NEG_HASH = d_h64("concat(CAST(d.doc_id AS VARCHAR), '_', CAST(k.k AS VARCHAR))", "neg")

_NEG_ORACLE = f"""
WITH n AS (SELECT max(doc_id) + 1 AS n FROM documents),
cand AS (
  SELECT d.doc_id, CAST(k.k AS INTEGER) AS k,
         (d.doc_id + 1 + ({_NEG_HASH} % (n.n - 1))) % n.n AS neg_id
  FROM documents d, n, (SELECT unnest(range({_NEG_K})) AS k) k
)
SELECT c.doc_id, c.k, c.neg_id, d2.lang AS neg_lang
FROM cand c JOIN documents d2 ON d2.doc_id = c.neg_id
"""


@query("q_negative_sample", oracle=_NEG_ORACLE)
def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    document is paired with K pseudo-random OTHER documents. The offset
    `1 + (h64(doc,k) % (N-1))` lies in [1, N-1], so adding it modulo the
    dense id count N can never return the anchor itself — no rejection
    loop, no RNG state, and the pairing is reproducible for lineage
    audits. The id-space size N is a 1-row broadcast; the only real cost
    is the K-way fan-out join back to documents on neg_id (a standard
    keyed shuffle that AQE sizes), and the hash is the md5-portable h64,
    exact at any id magnitude a 60-bit prefix covers. doc_id density
    0..N-1 is a documented precondition (holds for the driver tables;
    non-dense ids would first zip to a dense rank)."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg((F.max("doc_id") + 1).alias("n"))
    ks = F.explode(F.sequence(F.lit(0), F.lit(_NEG_K - 1))).alias("k")
    h = h64(
        F.concat(
            F.col("doc_id").cast("string"), F.lit("_"), F.col("k").cast("string")
        ),
        seed="neg",
    )
    cand = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(n))
        .select("doc_id", ks, "n")
        .select(
            "doc_id",
            F.col("k").cast("int").alias("k"),
            ((F.col("doc_id") + 1 + (h % (F.col("n") - 1))) % F.col("n")).alias(
                "neg_id"
            ),
        )
    )
    d2 = docs.select(
        F.col("doc_id").alias("_nd"), F.col("lang").alias("neg_lang")
    )
    return cand.join(d2, cand["neg_id"] == d2["_nd"]).select(
        "doc_id", "k", "neg_id", "neg_lang"
    )


# --- temperature resampling (alpha = 0.5 language rebalancing) ----------------

_TS_D = 1_000_000  # micro-rate denominator: rate6 in [0, 1e6]

_TEMPERATURE_ORACLE = f"""
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
m AS (SELECT min(n_docs) AS n_min FROM c),
r AS (
  SELECT lang, n_docs,
         CAST(floor(sqrt(CAST(n_min AS DOUBLE) / n_docs) * {_TS_D})
              AS BIGINT) AS rate6
  FROM c, m
),
k AS (
  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept
  FROM documents d JOIN r USING (lang)
  WHERE {d_h64("CAST(d.doc_id AS VARCHAR)", "temp")} % {_TS_D} < r.rate6
  GROUP BY d.lang
)
SELECT r.lang, r.n_docs, r.rate6,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
FROM r LEFT JOIN k USING (lang)
"""


@query("q_temperature_sample", oracle=_TEMPERATURE_ORACLE)
def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling of the language mix at alpha = 0.5 — the
    multilingual-corpus rebalancing of XLM-R (Conneau et al. 2020 §3.1)
    and mT5: sampling probability per language ∝ p_lang^alpha, so
    high-resource languages are down-sampled and the rarest language is
    kept whole. Where q_domain_mix consumes an EXPLICIT weight vector,
    this derives the rates from the observed distribution itself: at
    alpha = 0.5 the per-language keep rate collapses to
    sqrt(n_min / n_lang) (the normalizer cancels), and documents are kept
    by deterministic md5 threshold — reproducible lineage, no RNG state.

    alpha is fixed at 0.5 deliberately: IEEE-754 requires sqrt to be
    correctly rounded, so Spark and DuckDB produce bit-identical rates,
    where a general pow(p, alpha) is NOT correctly rounded and could
    diverge in the last ulp across libm implementations (the same
    engine-drift class the integer moment algebra elsewhere avoids).

    Scale shape: the rate table is |languages| rows, broadcast into the
    keep pass. It stays a lazy plan: the n_min aggregate reuses the count
    exchange, and both rate-table consumers reuse the n_min broadcast.
    The keep join's inferred lang IS NOT NULL filter gives the broadcast
    copy its own counts pass (a lang-only column read), so the corpus is
    read three times, the keep pass included. The keep decision is a
    narrow per-row hash filter, and the output is one partial+final
    count per language — no shuffle of document rows at all."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    nmin = counts.agg(F.min("n_docs").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        "lang",
        "n_docs",
        F.floor(
            F.sqrt(F.col("n_min").cast("double") / F.col("n_docs")) * _TS_D
        ).cast("bigint").alias("rate6"),
    )
    keep = h64(F.col("doc_id").cast("string"), seed="temp") % _TS_D
    kept = (
        d.join(F.broadcast(rates.select("lang", "rate6")), "lang")
        .filter(keep < F.col("rate6"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return rates.join(kept, "lang", "left").select(
        "lang",
        "n_docs",
        "rate6",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
    )
