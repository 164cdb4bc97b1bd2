"""Blocked fuzzy matching (entity resolution) over the `part` dimension.

The classic record-linkage shape a training-data pipeline needs for entity
dedup: candidate generation by BLOCKING KEY, then an edit-distance
comparator only within blocks. Naive fuzzy join is O(n²) comparisons; with
blocking it is Σ_b |block_b|², and the comparator (levenshtein) runs
JVM-side as a codegen'd expression — no Python in the loop.

Scale notes (100 TB):
- Exact-duplicate names are collapsed FIRST (groupBy name → min key), so
  the quadratic stage runs on the distinct-name dictionary, which is
  orders of magnitude smaller than the fact table and bounded by the
  vocabulary, not the row count.
- The self-join key is the blocking token, so each block's cross product
  is local to one shuffle partition; skewed blocks (a stopword noun) are
  the hazard — blocks above MAX_BLOCK names are dropped, the same cap
  strategy as MinHash-LSH bucket capping (dedup.MAX_BUCKET).
- `p_partkey < p_partkey` ordering emits each unordered pair once.

Reference parity note: the reference has no fuzzy matching; this extends
its exact equi-join surface (SURVEY.md §2.3) with the similarity-join
family expected of a corpus-curation engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import caching
from ..catalog import load_table

MAX_EDIT_DISTANCE = 4
MAX_BLOCK = 200  # drop blocking keys shared by more distinct names than this


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct part-name pairs within edit distance MAX_EDIT_DISTANCE,
    blocked on the last name token (the head noun), each pair once."""
    part = load_table(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.min("p_partkey").alias("pk"))
        .withColumn("block", F.element_at(F.split(F.col("p_name"), " "), -1))
    )
    block_sizes = names.groupBy("block").agg(F.count(F.lit(1)).alias("n"))
    kept = names.join(
        F.broadcast(block_sizes.filter(F.col("n") <= MAX_BLOCK).select("block")), "block"
    )
    a = kept.select(F.col("pk").alias("pk_a"), F.col("p_name").alias("name_a"), "block")
    b = kept.select(F.col("pk").alias("pk_b"), F.col("p_name").alias("name_b"), "block")
    return (
        a.join(b, "block")
        .filter(F.col("pk_a") < F.col("pk_b"))
        .withColumn("edit_distance", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_distance") <= MAX_EDIT_DISTANCE)
        .select("name_a", "name_b", "edit_distance")
        .orderBy("name_a", "name_b")
    )


_FUZZY_PAIRS_SQL = f"""
WITH names AS (
  SELECT p_name, MIN(p_partkey) AS pk,
         string_split(p_name, ' ')[-1] AS block
  FROM part GROUP BY p_name),
kept AS (
  SELECT * FROM names WHERE block IN (
    SELECT block FROM names GROUP BY block HAVING COUNT(*) <= {MAX_BLOCK}))
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS edit_distance
FROM kept a JOIN kept b ON a.block = b.block AND a.pk < b.pk
WHERE levenshtein(a.p_name, b.p_name) <= {MAX_EDIT_DISTANCE}
ORDER BY name_a, name_b
"""


def fuzzy_match_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization rollup: every part name mapped to the lexicographically
    smallest name within edit distance in its block (one hop — the
    candidate-pair graph's min-neighbor, the cheap first pass of entity
    canonicalization before full transitive closure via near_dup_clusters'
    iterative scheme). Output: canonical name → member count."""
    part = load_table(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("block", F.element_at(F.split(F.col("p_name"), " "), -1))
    )
    a = names.select(F.col("p_name").alias("name"), "block", "n_parts")
    b = names.select(F.col("p_name").alias("cand"), "block")
    joined = (
        a.join(b, "block")
        .filter(F.levenshtein("name", "cand") <= MAX_EDIT_DISTANCE)
        .groupBy("name", "n_parts")
        .agg(F.min("cand").alias("canonical"))
    )
    return (
        joined.groupBy("canonical")
        .agg(
            F.count(F.lit(1)).alias("n_names"),
            F.sum("n_parts").alias("n_parts"),
        )
        .orderBy("canonical")
    )


_FUZZY_GROUPS_SQL = f"""
WITH names AS (
  SELECT p_name, COUNT(*) AS n_parts,
         string_split(p_name, ' ')[-1] AS block
  FROM part GROUP BY p_name),
mapped AS (
  SELECT a.p_name AS name, a.n_parts, MIN(b.p_name) AS canonical
  FROM names a JOIN names b ON a.block = b.block
  WHERE levenshtein(a.p_name, b.p_name) <= {MAX_EDIT_DISTANCE}
  GROUP BY a.p_name, a.n_parts)
SELECT canonical, COUNT(*) AS n_names, CAST(SUM(n_parts) AS BIGINT) AS n_parts
FROM mapped
GROUP BY canonical
ORDER BY canonical
"""


# --- blocking-key quality audit ----------------------------------------------

# recall audit runs brute-force O(n²) on a 10%-of-names deterministic
# sample (hash bucket < 10 of 100) — n²/100 comparisons, bounded enough to
# run at any tested SF while still estimating recall tightly
RECALL_SAMPLE_PCT = 10


def fuzzy_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit of the last-token blocking key: on a deterministic 10%
    sample of the distinct-name dictionary, compare ALL true fuzzy pairs
    (levenshtein ≤ 4, brute force) against the pairs the blocking key would
    generate (same last token). `recall_share` is the fraction of true
    matches blocking keeps — the number that justifies (or indicts) the
    blocking key before trusting `fuzzy_name_pairs` at scale. Same
    estimator-audit pattern as `minhash_estimate_audit` / `cms_token_counts`.

    Scale: the quadratic stage is sample²/10⁴ of the dictionary (itself
    vocabulary-bounded); the audit's cost knob is RECALL_SAMPLE_PCT, and
    membership is hash-deterministic so reruns are comparable.
    """
    from ..functions.scalars import portable_hash

    part = load_table(spark, sf_dir, "part")
    names = caching.materialize(
        part.select("p_name")
        .distinct()
        .filter(portable_hash(F.col("p_name")) % 100 < RECALL_SAMPLE_PCT)
        .withColumn("block", F.element_at(F.split(F.col("p_name"), " "), -1)),
        "fuzzy_blocking_recall.names",
    )
    a = names.select(F.col("p_name").alias("name_a"), F.col("block").alias("block_a"))
    b = names.select(F.col("p_name").alias("name_b"), F.col("block").alias("block_b"))
    true_pairs = (
        a.crossJoin(b)
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.levenshtein("name_a", "name_b") <= MAX_EDIT_DISTANCE)
        .select((F.col("block_a") == F.col("block_b")).cast("long").alias("same_block"))
    )
    # in-plan 1-row scalar (fleet_summary pattern) — building this query must
    # not trigger a Spark job; a driver-side count() here made every
    # registry-wide plan sweep eagerly materialize the cache
    n_names = names.agg(F.count(F.lit(1)).cast("long").alias("n_names_sampled"))
    return (
        true_pairs.agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum("same_block").alias("n_found_by_blocking"),
        )
        .crossJoin(F.broadcast(n_names))
        .withColumn(
            "recall_share",
            F.expr(
                "(n_found_by_blocking * 20000 + n_true_pairs) div (2 * n_true_pairs)"
            ).cast("double")
            / F.lit(10000.0),
        )
        .select("n_names_sampled", "n_true_pairs", "n_found_by_blocking", "recall_share")
    )


def _sql_blocking_recall() -> str:
    from ..functions.scalars import sql_portable_hash

    h = sql_portable_hash("p_name")
    return f"""
WITH names AS (
  SELECT p_name, string_split(p_name, ' ')[-1] AS block
  FROM (SELECT DISTINCT p_name FROM part) d
  WHERE {h} % 100 < {RECALL_SAMPLE_PCT}),
true_pairs AS (
  SELECT CASE WHEN a.block = b.block THEN 1 ELSE 0 END AS same_block
  FROM names a JOIN names b ON a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) <= {MAX_EDIT_DISTANCE})
SELECT CAST((SELECT COUNT(*) FROM names) AS BIGINT) AS n_names_sampled,
       CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(same_block) AS BIGINT) AS n_found_by_blocking,
       CAST((SUM(same_block) * 20000 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 10000.0
         AS recall_share
FROM true_pairs
"""


QUERIES = {
    "fuzzy_name_pairs": fuzzy_name_pairs,
    "fuzzy_match_groups": fuzzy_match_groups,
    "fuzzy_blocking_recall": fuzzy_blocking_recall,
}

ORACLES = {
    "fuzzy_name_pairs": _FUZZY_PAIRS_SQL,
    "fuzzy_match_groups": _FUZZY_GROUPS_SQL,
    "fuzzy_blocking_recall": _sql_blocking_recall(),
}
