"""Weighted reservoir sampling (Efraimidis–Spirakis A-ES) with deterministic
pseudo-randomness — importance sampling a training-data curator can REPLAY.

Each doc draws u ∈ (0,1] from a portable hash of its id (not `rand()`: the
sample must be identical across engines, runs, and cluster sizes — the same
argument as `deterministic_sample` in operators/text.py) and gets the A-ES
log-priority ln(u)/w; the top-K priorities are a weighted-without-
replacement sample where P(selected) scales with the weight (here: document
length — longer docs carry more tokens, the usual budget-weighted choice).

Determinism: ln and one divide are scalar IEEE ops (same pattern as tfidf's
ln — mirrored token-for-token in the oracle); priorities are rounded to e9
before ranking, so a last-ulp libm difference cannot flip an order, and
doc_id breaks exact ties totally.

Scale shape: priority is a per-row map expression (no shuffle), and the
selection is `orderBy(...).limit(K)` → TakeOrderedAndProject: per-partition
heaps of K, merged on the driver — a 100 TB corpus is sampled in one scan
with zero data shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import caching
from ..catalog import load_table
from ..functions.scalars import (
    portable_hash,
    round_half_up,
    sql_portable_hash,
    sql_tokens,
    tokens,
)

SAMPLE_K = 20
_SALT = "wsample:"
_U_DENOM = 4294967296.0  # 2^32 — portable_hash range is [0, 2^32)


def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K length-weighted deterministic sample of the documents table."""
    docs = load_table(spark, sf_dir, "documents")
    w = (F.length("text") + F.lit(1)).cast("double")
    u = (
        portable_hash(F.concat(F.lit(_SALT), F.col("doc_id").cast("string")))
        + F.lit(1)
    ).cast("double") / F.lit(_U_DENOM)
    pri = round_half_up(F.log(u) / w, 9)
    return (
        docs.select(
            "doc_id",
            (F.length("text") + F.lit(1)).cast("long").alias("weight"),
            pri.alias("log_priority"),
        )
        .orderBy(F.desc("log_priority"), F.asc("doc_id"))
        .limit(SAMPLE_K)
    )


def _sql_weighted_sample() -> str:
    h = sql_portable_hash(f"'{_SALT}' || CAST(doc_id AS VARCHAR)")
    r9 = (
        f"CAST(FLOOR((ln((CAST({h} AS DOUBLE) + 1) / {_U_DENOM!r})"
        f" / CAST(length(text) + 1 AS DOUBLE)) * 1000000000.0 + 0.5) AS DOUBLE)"
        " / 1000000000.0"
    )
    return f"""
SELECT doc_id,
       CAST(length(text) + 1 AS BIGINT) AS weight,
       {r9} AS log_priority
FROM documents
ORDER BY log_priority DESC, doc_id ASC
LIMIT {SAMPLE_K}
"""


# --- DSIR: Data Selection via Importance Resampling ------------------------
#
# Xie et al., "Data Selection for Language Models via Importance Resampling"
# (NeurIPS 2023, public arXiv 2302.03169). The raw corpus is scored against a
# TARGET domain with hashed-n-gram bag features: per doc,
# log w = Σ_b c_doc[b] · (ln p_target[b] − ln q_raw[b]) over B hash buckets,
# then a Gumbel-top-K draw resamples docs ∝ softmax(log w). Here the target
# slice is the `en` documents (the "looks like my fine-tune domain" stand-in)
# and features are hashed unigrams+bigrams, so the whole method is one
# explode→hash-agg pass plus a ≤B-row broadcast — no model, no UDF.
#
# Exactness: bucket log-ratios are rounded to 1e-6 fixed point (int64) BEFORE
# the per-doc sum, so every per-doc score is an exact integer dot product —
# order-independent under any shuffle (same argument as exact_sum /
# mixture_temperature_weights). The Gumbel keys reuse the portable-hash
# uniform, also in e6 fixed point, so resampling is replayable across
# engines, runs, and cluster sizes.

DSIR_BUCKETS = 128
DSIR_TARGET_LANG = "en"
_DSIR_SALT = "dsir:"
_DSIR_GUMBEL_SALT = "dsirg:"
_DSIR_U_DENOM = 4294967297.0  # 2^32 + 1 — keeps u strictly inside (0, 1)


def _dsir_doc_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, bucket, c): hashed unigram+bigram counts per doc.

    One explode of the token array per doc; the bucket key is bounded
    (< DSIR_BUCKETS) so the per-doc aggregation is fully map-side
    combinable and the shuffle carries ≤ B cells per doc.
    """
    from ..catalog import spread_small_scan

    # spread_small_scan: the per-gram portable-md5 fold below is the DSIR
    # family's dominant map pass (the "md5-bound" wall) and the documents
    # file scans as one split locally; no-op at scale (catalog docstring)
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    toks = tokens()
    bigrams = F.expr(
        "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)), "
        "slice(toks, 2, greatest(size(toks) - 1, 0)), "
        "(a, b) -> concat(a, ' ', b))"
    )
    bucket = (
        portable_hash(F.concat(F.lit(_DSIR_SALT), F.col("gram"))) % DSIR_BUCKETS
    ).alias("bucket")
    return (
        docs.select("doc_id", "lang", toks.alias("toks"))
        .select("doc_id", "lang", F.explode(F.concat(F.col("toks"), bigrams)).alias("gram"))
        .select("doc_id", "lang", bucket)
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _dsir_logweights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, logw_e6): exact int64 importance score per doc.

    The cell frame feeds two branches (bucket marginals and the per-doc
    dot product); caching it makes the explode→hash-agg pass run once."""
    cells = caching.materialize(_dsir_doc_cells(spark, sf_dir), "dsir_logweights.cells")
    buckets = cells.groupBy("bucket").agg(
        F.sum("c").alias("raw_c"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("c")).otherwise(F.lit(0))
        ).alias("tgt_c"),
    )
    totals = buckets.agg(
        F.sum("raw_c").alias("raw_tot"), F.sum("tgt_c").alias("tgt_tot")
    )
    smooth_b = F.lit(DSIR_BUCKETS / 2.0)  # Laplace 0.5 per bucket
    log_p = F.log(
        (F.col("tgt_c").cast("double") + F.lit(0.5))
        / (F.col("tgt_tot").cast("double") + smooth_b)
    )
    log_q = F.log(
        (F.col("raw_c").cast("double") + F.lit(0.5))
        / (F.col("raw_tot").cast("double") + smooth_b)
    )
    delta = buckets.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.floor((log_p - log_q) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("delta_e6"),
    )
    return (
        cells.join(F.broadcast(delta), "bucket")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("c") * F.col("delta_e6")).alias("logw_e6"))
    )


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance score vs the `en` target slice.

    Output is O(n) — one row per doc. Scale: the corpus is scanned once
    (explode → bounded-key hash agg); the bucket log-ratio table is ≤ B
    rows, broadcast back; the per-doc score is an exact integer dot
    product. Nothing shuffles more than (doc × ≤B) cells.
    """
    return (
        _dsir_logweights(spark, sf_dir)
        .select(
            "doc_id",
            "lang",
            (F.col("logw_e6").cast("double") / F.lit(1e6)).alias("log_weight"),
        )
        # no final orderBy: scaling output, order-insensitive gate (guide §2.4)
    )


def dsir_resample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-K resample ∝ softmax(log_weight) — the DSIR selection
    step, deterministic via the portable-hash uniform. The K winners are
    found by TakeOrderedAndProject (per-partition heaps), so selection
    costs one scan of the scored frame with zero extra shuffle.
    """
    logw = _dsir_logweights(spark, sf_dir)
    u = (
        portable_hash(F.concat(F.lit(_DSIR_GUMBEL_SALT), F.col("doc_id").cast("string")))
        + F.lit(1)
    ).cast("double") / F.lit(_DSIR_U_DENOM)
    g_e6 = F.floor(-F.log(-F.log(u)) * F.lit(1e6) + F.lit(0.5)).cast("long")
    key_e6 = (F.col("logw_e6") + g_e6).alias("key_e6")
    return (
        logw.select("doc_id", "lang", "logw_e6", key_e6)
        .select(
            "doc_id",
            "lang",
            (F.col("logw_e6").cast("double") / F.lit(1e6)).alias("log_weight"),
            (F.col("key_e6").cast("double") / F.lit(1e6)).alias("gumbel_key"),
            F.col("key_e6"),
        )
        .orderBy(F.desc("key_e6"), F.asc("doc_id"))
        .limit(SAMPLE_K)
        .drop("key_e6")
    )


_DSIR_CELLS_SQL = f"""
  SELECT doc_id, lang,
         CAST('0x' || substring(md5('{_DSIR_SALT}' || gram), 1, 8) AS BIGINT)
           % {DSIR_BUCKETS} AS bucket,
         COUNT(*) AS c
  FROM (
    SELECT doc_id, lang,
           unnest(list_concat(t, list_transform(range(1, len(t)),
                  i -> t[i] || ' ' || t[i+1]))) AS gram
    FROM (SELECT doc_id, lang,
                 {sql_tokens()} AS t
          FROM documents) toks) grams
  GROUP BY 1, 2, 3"""

_DSIR_LOGW_SQL = f"""
cells AS ({_DSIR_CELLS_SQL}),
buckets AS (
  SELECT bucket, SUM(c) AS raw_c,
         SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN c ELSE 0 END) AS tgt_c
  FROM cells GROUP BY 1),
tot AS (SELECT SUM(raw_c) AS raw_tot, SUM(tgt_c) AS tgt_tot FROM buckets),
delta AS (
  SELECT bucket,
         CAST(FLOOR((ln((CAST(tgt_c AS DOUBLE) + 0.5) / (CAST(tgt_tot AS DOUBLE) + {DSIR_BUCKETS / 2.0}))
                   - ln((CAST(raw_c AS DOUBLE) + 0.5) / (CAST(raw_tot AS DOUBLE) + {DSIR_BUCKETS / 2.0})))
                  * 1000000.0 + 0.5) AS BIGINT) AS delta_e6
  FROM buckets, tot),
logw AS (
  SELECT c.doc_id, c.lang, SUM(c.c * d.delta_e6) AS logw_e6
  FROM cells c JOIN delta d USING (bucket)
  GROUP BY 1, 2)"""

_DSIR_WEIGHTS_SQL = f"""
WITH {_DSIR_LOGW_SQL}
SELECT doc_id, lang, CAST(logw_e6 AS DOUBLE) / 1000000.0 AS log_weight
FROM logw
ORDER BY doc_id
"""


def _sql_dsir_resample() -> str:
    h = sql_portable_hash(f"'{_DSIR_GUMBEL_SALT}' || CAST(doc_id AS VARCHAR)")
    g_e6 = (
        f"CAST(FLOOR(-ln(-ln((CAST({h} AS DOUBLE) + 1) / {_DSIR_U_DENOM!r}))"
        f" * 1000000.0 + 0.5) AS BIGINT)"
    )
    return f"""
WITH {_DSIR_LOGW_SQL},
keyed AS (
  SELECT doc_id, lang, logw_e6, logw_e6 + {g_e6} AS key_e6
  FROM logw)
SELECT doc_id, lang,
       CAST(logw_e6 AS DOUBLE) / 1000000.0 AS log_weight,
       CAST(key_e6 AS DOUBLE) / 1000000.0 AS gumbel_key
FROM keyed
ORDER BY key_e6 DESC, doc_id ASC
LIMIT {SAMPLE_K}
"""


DSIR_FOLDS = 10
_DSIR_FOLD_SALT = "dsirfold:"


def dsir_heldout_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold DSIR: bucket log-ratios are fit on the 90% TRAIN fold
    and the held-out 10% is scored against that FROZEN model — the
    train/serve hygiene version of dsir_importance_weights (in-sample
    scoring lets a doc's own n-grams inflate its score; the held-out
    score is what a production selector applying yesterday's model to
    today's crawl actually computes, the same O(new-batch) contract as
    incremental_minhash_update / incremental_ivf_update).

    Same exactness and scale shape as the in-sample pass: one cached
    explode→bounded-key agg over the corpus, a ≤B-row broadcast ratio
    table from the train slice, exact int64 per-doc dot products for
    the held-out slice.

    On the driver's synthetic word-salad corpus the held-out scores show
    exactly why this pass matters: the in-sample `en` advantage (+0.18
    mean at sf0.01) nearly vanishes out-of-fold (−0.13) — most of the
    in-sample signal WAS self-influence, which a production selector
    must not credit. Pinned in tests.
    """
    cells = caching.materialize(_dsir_doc_cells(spark, sf_dir), "dsir_heldout_scores.cells")
    fold = (
        portable_hash(
            F.concat(F.lit(_DSIR_FOLD_SALT), F.col("doc_id").cast("string"))
        )
        % DSIR_FOLDS
    )
    train = cells.filter(fold != 0)
    held = cells.filter(fold == 0)
    buckets = train.groupBy("bucket").agg(
        F.sum("c").alias("raw_c"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("c")).otherwise(F.lit(0))
        ).alias("tgt_c"),
    )
    totals = buckets.agg(
        F.sum("raw_c").alias("raw_tot"), F.sum("tgt_c").alias("tgt_tot")
    )
    smooth_b = F.lit(DSIR_BUCKETS / 2.0)
    log_p = F.log(
        (F.col("tgt_c").cast("double") + F.lit(0.5))
        / (F.col("tgt_tot").cast("double") + smooth_b)
    )
    log_q = F.log(
        (F.col("raw_c").cast("double") + F.lit(0.5))
        / (F.col("raw_tot").cast("double") + smooth_b)
    )
    delta = buckets.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.floor((log_p - log_q) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("delta_e6"),
    )
    return (
        held.join(F.broadcast(delta), "bucket")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("c") * F.col("delta_e6")).alias("logw_e6"))
        .select(
            "doc_id",
            "lang",
            (F.col("logw_e6").cast("double") / F.lit(1e6)).alias("log_weight"),
        )
        # no final orderBy: scaling output, order-insensitive gate (guide §2.4)
    )


def _sql_dsir_heldout() -> str:
    fold = (
        sql_portable_hash(f"'{_DSIR_FOLD_SALT}' || CAST(doc_id AS VARCHAR)")
        + f" % {DSIR_FOLDS}"
    )
    return f"""
WITH cells AS ({_DSIR_CELLS_SQL}),
folded AS (SELECT *, {fold} AS fold FROM cells),
buckets AS (
  SELECT bucket, SUM(c) AS raw_c,
         SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN c ELSE 0 END) AS tgt_c
  FROM folded WHERE fold <> 0 GROUP BY 1),
tot AS (SELECT SUM(raw_c) AS raw_tot, SUM(tgt_c) AS tgt_tot FROM buckets),
delta AS (
  SELECT bucket,
         CAST(FLOOR((ln((CAST(tgt_c AS DOUBLE) + 0.5) / (CAST(tgt_tot AS DOUBLE) + {DSIR_BUCKETS / 2.0}))
                   - ln((CAST(raw_c AS DOUBLE) + 0.5) / (CAST(raw_tot AS DOUBLE) + {DSIR_BUCKETS / 2.0})))
                  * 1000000.0 + 0.5) AS BIGINT) AS delta_e6
  FROM buckets, tot)
SELECT f.doc_id, f.lang,
       CAST(SUM(f.c * d.delta_e6) AS DOUBLE) / 1000000.0 AS log_weight
FROM folded f JOIN delta d USING (bucket)
WHERE f.fold = 0
GROUP BY 1, 2
ORDER BY doc_id
"""


QUERIES = {
    "weighted_sample_topk": weighted_sample_topk,
    "dsir_importance_weights": dsir_importance_weights,
    "dsir_resample_topk": dsir_resample_topk,
    "dsir_heldout_scores": dsir_heldout_scores,
}
ORACLES = {
    "weighted_sample_topk": _sql_weighted_sample(),
    "dsir_importance_weights": _DSIR_WEIGHTS_SQL,
    "dsir_resample_topk": _sql_dsir_resample(),
    "dsir_heldout_scores": _sql_dsir_heldout(),
}
