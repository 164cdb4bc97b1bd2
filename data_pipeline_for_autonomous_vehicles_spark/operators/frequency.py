"""Heavy-hitter (hot-key) detection — the measurement half of skew handling
(`functions/skew.py:salted_join` is the mitigation half).

Finds join/group keys whose frequency exceeds HOT_MULTIPLE× the mean key
frequency — the keys a planner would salt, and the report AQE's skew-join
reads off shuffle statistics at runtime. The reference has no frequency
analysis at all; this is engine infrastructure for the 100 TB path.

Exactness: the threshold compare is pure int64 cross-multiplication
(cnt·D·10 ≥ 15·N ⇔ cnt ≥ 1.5·N/D), so hot-set membership is exact in both
engines — no double division at the decision point. The reported ratios are
display-rounded after the fact.

Scale shape: ONE shuffle — groupBy(key).count() with map-side partial
aggregation, so the shuffle carries one row per (task × distinct key). The
corpus scalars (total rows N, distinct keys D) come from a second agg over
the tiny per-key relation — the fact table is scanned once. The hot filter
then reduces that relation to the handful of skewed keys, and top-k is a
TakeOrderedAndProject, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import caching
from ..catalog import load_table
from ..functions.scalars import round_half_up, sql_round_half_up, sql_tokens, tokens

HOT_MULTIPLE_E1 = 15  # threshold = 1.5× mean frequency, as tenths
TOP_K = 100


def hot_keys_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys of lineitem.l_partkey whose frequency ≥ 1.5× the mean, with
    exact count, share of rows, and ratio to the mean frequency."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    scalars = counts.agg(
        F.sum("cnt").alias("n_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    hot = (
        counts.crossJoin(F.broadcast(scalars))
        # int64 cross-multiply: cnt/N ≥ 1.5/D without a double in the predicate
        .filter(
            F.col("cnt") * F.col("n_keys") * F.lit(10)
            >= F.lit(HOT_MULTIPLE_E1) * F.col("n_rows")
        )
        .select(
            "l_partkey",
            "cnt",
            round_half_up(
                F.col("cnt").cast("double") / F.col("n_rows").cast("double"), 6
            ).alias("row_share"),
            round_half_up(
                F.col("cnt").cast("double")
                * F.col("n_keys").cast("double")
                / F.col("n_rows").cast("double"),
                4,
            ).alias("ratio_to_mean"),
        )
    )
    return hot.orderBy(F.desc("cnt"), F.asc("l_partkey")).limit(TOP_K)


def _sql_hot_keys() -> str:
    share = sql_round_half_up(
        "CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE)", 6
    )
    ratio = sql_round_half_up(
        "CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)", 4
    )
    return f"""
WITH counts AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey),
scalars AS (
  SELECT SUM(cnt) AS n_rows, COUNT(*) AS n_keys FROM counts)
SELECT l_partkey, cnt,
       {share} AS row_share,
       {ratio} AS ratio_to_mean
FROM counts CROSS JOIN scalars
WHERE cnt * n_keys * 10 >= {HOT_MULTIPLE_E1} * n_rows
ORDER BY cnt DESC, l_partkey ASC
LIMIT {TOP_K}
"""


# --- activity concentration (Gini) --------------------------------------------


def user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row Gini coefficient of event-count concentration across users —
    the inequality number behind the hot-key story: G ≈ 0 means uniform
    load, G → 1 means a few users generate everything (and their keys are
    the ones `hot_keys_report` will flag and `salted_join` must split).

    Exact, no per-user sort materialized globally: users collapse to
    (events-per-user, n_users) CELLS; with cells ordered by value, the
    rank-weighted sum Σ i·xᵢ expands per cell to
    x·(c·p + c(c+1)/2) where p is the running count before the cell —
    all int64. G = 2·Σi·xᵢ / (n·Σx) − (n+1)/n with one IEEE division per
    term, round-half-up 6dp.

    Scale: one fact shuffle to per-user counts, then value-domain-bounded
    cells and a single ordered pass over them.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    cells = caching.materialize(
        per_user.groupBy("x").agg(F.count(F.lit(1)).alias("c")), "user_activity_gini.cells"
    )
    # running count p via a broadcast theta self-join over the VALUE-DOMAIN
    # cells (cells² is domain-bounded) — keeps the registry-wide
    # no-unpartitioned-window invariant absolute instead of special-casing
    lower = cells.select(F.col("x").alias("xl"), F.col("c").alias("cl"))
    with_p = (
        cells.join(F.broadcast(lower), F.col("xl") < F.col("x"), "left")
        .groupBy("x", "c")
        .agg(F.coalesce(F.sum("cl"), F.lit(0)).alias("p"))
    )
    sums = with_p.agg(
        F.sum(F.col("c")).alias("n_users"),
        F.sum(F.col("x") * F.col("c")).alias("total_events"),
        F.sum(
            F.col("x")
            * (F.col("c") * F.col("p") + F.expr("c * (c + 1) div 2"))
        ).alias("rank_weighted"),
    )
    g = (
        F.lit(2.0) * F.col("rank_weighted").cast("double")
        / (F.col("n_users").cast("double") * F.col("total_events").cast("double"))
        - (F.col("n_users") + 1).cast("double") / F.col("n_users").cast("double")
    )
    return sums.select(
        "n_users",
        "total_events",
        round_half_up(g, 6).alias("gini"),
    )


def _sql_gini() -> str:
    g = sql_round_half_up(
        "2.0 * CAST(rank_weighted AS DOUBLE) / (CAST(n_users AS DOUBLE) * CAST(total_events AS DOUBLE))"
        " - CAST(n_users + 1 AS DOUBLE) / CAST(n_users AS DOUBLE)",
        6,
    )
    return f"""
WITH per_user AS (SELECT user_id, COUNT(*) AS x FROM events GROUP BY user_id),
cells AS (SELECT x, COUNT(*) AS c FROM per_user GROUP BY x),
with_p AS (
  SELECT a.x, a.c, COALESCE(SUM(b.c), 0) AS p
  FROM cells a LEFT JOIN cells b ON b.x < a.x
  GROUP BY a.x, a.c),
sums AS (
  SELECT SUM(c) AS n_users,
         SUM(x * c) AS total_events,
         SUM(x * (c * p + (c * (c + 1)) // 2)) AS rank_weighted
  FROM with_p)
SELECT CAST(n_users AS BIGINT) AS n_users,
       CAST(total_events AS BIGINT) AS total_events,
       {g} AS gini
FROM sums
"""


# --- count-min sketch audit -------------------------------------------------

# CMS geometry: D independent hash rows × W counters. Overestimate bound:
# err ≤ e·N/W with prob ≥ 1 − e^-D (Cormode & Muthukrishnan 2005).
CMS_DEPTH = 4
CMS_WIDTH = 512
CMS_TOP_K = 20


def _cms_bucket(token_col: F.Column, d: int) -> F.Column:
    from ..functions.scalars import portable_hash

    return portable_hash(F.concat(F.lit(f"cms{d}:"), token_col)) % CMS_WIDTH


def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch of corpus term frequencies, audited against exact
    counts: build a D×W counter grid over every token occurrence, then for
    the top-K exact tokens report the CMS estimate (min over rows of the
    hashed counter) next to the truth. `overestimate` is ≥ 0 by
    construction — the one-sided CMS guarantee — and its observed size is
    the number that validates W before pointing the sketch at the real
    corpus (expected ≤ e·N/W per row).

    Scale (100 TB): the sketch is FIXED-SIZE — the (row, bucket) group key
    has D·W = 2048 cells no matter the corpus, so the shuffle after
    map-side partial aggregation is constant-width, and two daily sketches
    merge by cell-wise addition (the same mergeability story as
    `hll_mergeable_distinct`, but for frequencies). The exact counts here
    exist only to audit; at deployment scale only the sketch is kept.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = caching.materialize(
        docs.select(F.explode(tokens()).alias("token")).filter(F.length("token") >= 1),
        "cms_token_counts.toks",
    )
    grid = F.array(
        *[
            F.struct(F.lit(d).alias("d"), _cms_bucket(F.col("token"), d).alias("bucket"))
            for d in range(CMS_DEPTH)
        ]
    )
    counters = (
        toks.select(F.explode(grid).alias("g"))
        .select(F.col("g.d").alias("d"), F.col("g.bucket").alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cell_n"))
    )
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "token")
        .limit(CMS_TOP_K)
    )
    probes = top.select(
        "token",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(d).alias("d"), _cms_bucket(F.col("token"), d).alias("bucket"))
                    for d in range(CMS_DEPTH)
                ]
            )
        ).alias("g"),
    ).select("token", "exact_n", F.col("g.d").alias("d"), F.col("g.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(counters), ["d", "bucket"])
        .groupBy("token", "exact_n")
        .agg(F.min("cell_n").alias("cms_n"))
        .withColumn("overestimate", F.col("cms_n") - F.col("exact_n"))
        .orderBy(F.desc("exact_n"), "token")
    )


def _sql_cms() -> str:
    from ..functions.scalars import sql_portable_hash

    def bucket(expr: str, d: int) -> str:
        salted = f"'cms{d}:' || {expr}"
        return f"{sql_portable_hash(salted)} % {CMS_WIDTH}"

    grid = " UNION ALL ".join(
        f"SELECT {d} AS d, {bucket('token', d)} AS bucket FROM tk"
        for d in range(CMS_DEPTH)
    )
    probes = " UNION ALL ".join(
        f"SELECT token, exact_n, {d} AS d, {bucket('token', d)} AS bucket FROM top"
        for d in range(CMS_DEPTH)
    )
    return f"""
WITH tk AS (
  SELECT token FROM (
    SELECT unnest({sql_tokens()}) AS token
    FROM documents) t
  WHERE length(token) >= 1),
grid AS ({grid}),
counters AS (SELECT d, bucket, COUNT(*) AS cell_n FROM grid GROUP BY 1, 2),
top AS (
  SELECT token, COUNT(*) AS exact_n FROM tk GROUP BY token
  ORDER BY exact_n DESC, token LIMIT {CMS_TOP_K}),
probes AS ({probes})
SELECT p.token,
       CAST(p.exact_n AS BIGINT) AS exact_n,
       CAST(MIN(c.cell_n) AS BIGINT) AS cms_n,
       CAST(MIN(c.cell_n) - p.exact_n AS BIGINT) AS overestimate
FROM probes p JOIN counters c USING (d, bucket)
GROUP BY p.token, p.exact_n
ORDER BY exact_n DESC, token
"""


# --- Bloom filter audit -------------------------------------------------------

# m bits, k hashes over the member set; theoretical FPR ≈ (1 − e^{−kn/m})^k.
BLOOM_M = 1 << 15
BLOOM_K = 4


def _bloom_pos(key_col: F.Column, j: int) -> F.Column:
    from ..functions.scalars import portable_hash

    return portable_hash(F.concat(F.lit(f"bf{j}:"), key_col)) % BLOOM_M


N_BLOOM_PROBES = 2000


def bloom_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row Bloom-filter quality audit: build an m=32768-bit / k=4
    filter over the distinct order customer keys, probe it with 2000
    synthetic keys that are absent by construction ('probe:<i>' cannot
    collide with numeric keys), and report the observed false-positive
    rate next to the bit occupancy. This is the structure behind Spark's
    own runtime bloom-join pruning (asserted in `tests/test_plans.py`)
    built explicitly, so its FPR is measurable before trusting m/k choices
    on real key volumes.

    Exactness: the filter is the DISTINCT set of set bit positions (≤ m
    rows); a probe is positive iff all k of its positions are present —
    counted by joining the probe's exploded positions against the set and
    requiring k hits. Pure integer/hash arithmetic; identical both engines.

    Scale: build = one distinct over (k·n) ints capped at m distinct rows;
    the bit set is broadcast-sized by construction (≤ m rows ≈ 32 k), so
    probing any number of keys is a broadcast lookup, no shuffle of the
    probe side.
    """
    orders = load_table(spark, sf_dir, "orders")
    members = orders.select(F.col("o_custkey").cast("string").alias("key")).distinct()
    negatives = spark.range(N_BLOOM_PROBES).select(
        F.concat(F.lit("probe:"), F.col("id").cast("string")).alias("key")
    )
    pos_array = lambda: F.array(*[_bloom_pos(F.col("key"), j) for j in range(BLOOM_K)])
    bits = members.select(F.explode(pos_array()).alias("pos")).distinct()
    probe_hits = (
        negatives.select("key", F.explode(pos_array()).alias("pos"))
        .join(F.broadcast(bits), "pos")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") == BLOOM_K)
    )
    n_members = members.agg(F.count(F.lit(1)).alias("n")).select(
        F.col("n").alias("n_members")
    )
    n_bits = bits.agg(F.count(F.lit(1)).alias("n")).select(F.col("n").alias("n_bits_set"))
    n_neg = negatives.agg(F.count(F.lit(1)).alias("n")).select(F.col("n").alias("n_negatives"))
    n_fp = probe_hits.agg(F.count(F.lit(1)).alias("n")).select(F.col("n").alias("n_false_positives"))
    return (
        n_members.crossJoin(n_bits)
        .crossJoin(n_neg)
        .crossJoin(n_fp)
        .withColumn(
            "observed_fpr",
            F.expr("(n_false_positives * 20000 + n_negatives) div (2 * n_negatives)").cast(
                "double"
            )
            / F.lit(10000.0),
        )
    )


def _sql_bloom() -> str:
    from ..functions.scalars import sql_portable_hash

    def pos(expr: str, j: int) -> str:
        salted = f"'bf{j}:' || {expr}"
        return f"{sql_portable_hash(salted)} % {BLOOM_M}"

    member_pos = " UNION ALL ".join(
        f"SELECT {pos('key', j)} AS pos FROM members" for j in range(BLOOM_K)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT key, {pos('key', j)} AS pos FROM negatives" for j in range(BLOOM_K)
    )
    return f"""
WITH members AS (
  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key FROM orders),
negatives AS (
  SELECT 'probe:' || CAST(i AS VARCHAR) AS key
  FROM (SELECT unnest(range({N_BLOOM_PROBES})) AS i) t),
bits AS (SELECT DISTINCT pos FROM ({member_pos}) mp),
probe_hits AS (
  SELECT key FROM ({probe_pos}) pp JOIN bits USING (pos)
  GROUP BY key HAVING COUNT(*) = {BLOOM_K}),
s AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM negatives) AS n_negatives,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM probe_hits) AS n_false_positives)
SELECT n_members, n_bits_set, n_negatives, n_false_positives,
       CAST((n_false_positives * 20000 + n_negatives) // (2 * n_negatives) AS DOUBLE)
         / 10000.0 AS observed_fpr
FROM s
"""


QUERIES = {
    "hot_keys_report": hot_keys_report,
    "cms_token_counts": cms_token_counts,
    "bloom_filter_audit": bloom_filter_audit,
    "user_activity_gini": user_activity_gini,
}
ORACLES = {
    "hot_keys_report": _sql_hot_keys(),
    "cms_token_counts": _sql_cms(),
    "bloom_filter_audit": _sql_bloom(),
    "user_activity_gini": _sql_gini(),
}
