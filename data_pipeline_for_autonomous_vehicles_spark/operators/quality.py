"""Data-quality profiling and constraint checking (Deequ-style) over the
driver tables.

A 100 TB ingestion pipeline gates every batch on profile + constraints
before it reaches training; these operators express that gate as ordinary
aggregation plans:

- `table_profile`: per-column completeness / cardinality / numeric range
  in ONE scan — the table is melted to (column, value) pairs with
  `stack`-style explode, so adding a column adds a group, not a scan, and
  the shuffle carries one row per (task × column), never the data.
- `dq_checks`: a constraint suite (completeness, uniqueness, domain,
  range, referential integrity) evaluated as a union of 1-row aggregates;
  every check shares scans where Catalyst can and the result is a tiny
  (check, value, passed) report — the shape a scheduler can alert on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import caching
from ..catalog import load_table
from ..functions.scalars import round_half_up, sql_round_half_up

_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)
_NUMERIC_COLS = ("o_orderkey", "o_custkey", "o_totalprice")


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of `orders`: row/null/distinct counts plus numeric
    min/max — one melt, one hash-agg keyed by column name."""
    orders = load_table(spark, sf_dir, "orders")
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(c).cast("string").alias("sval"),
                (
                    F.col(c).cast("double")
                    if c in _NUMERIC_COLS
                    else F.lit(None).cast("double")
                ).alias("dval"),
            )
            for c in _PROFILE_COLS
        ]
    )
    melted = orders.select(F.explode(pairs).alias("p")).select(
        "p.col_name", "p.sval", "p.dval"
    )
    return (
        melted.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("sval").isNull(), 1).otherwise(0)).alias("n_nulls"),
            F.countDistinct("sval").alias("n_distinct"),
            F.min("dval").alias("min_val"),
            F.max("dval").alias("max_val"),
        )
        .withColumn(
            "null_rate",
            round_half_up(F.col("n_nulls").cast("double") / F.col("n_rows").cast("double"), 4),
        )
        .orderBy("col_name")
    )


def _sql_profile() -> str:
    arms = []
    for c in _PROFILE_COLS:
        dval = f"CAST({c} AS DOUBLE)" if c in _NUMERIC_COLS else "CAST(NULL AS DOUBLE)"
        arms.append(
            f"SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS sval, {dval} AS dval FROM orders"
        )
    melted = "\nUNION ALL\n".join(arms)
    return f"""
WITH melted AS (
{melted})
SELECT col_name, n_rows, n_nulls, n_distinct, min_val, max_val,
       {sql_round_half_up("CAST(n_nulls AS DOUBLE) / CAST(n_rows AS DOUBLE)", 4)} AS null_rate
FROM (
  SELECT col_name,
         COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN sval IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         COUNT(DISTINCT sval) AS n_distinct,
         MIN(dval) AS min_val,
         MAX(dval) AS max_val
  FROM melted GROUP BY col_name) t
ORDER BY col_name
"""


_ORDER_STATUSES = ("F", "O", "P")


def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suite over orders/lineitem: each row is one check with its
    measured metric and pass flag. Thresholds are plan-time literals.

    Scale shape: the three orders checks share ONE aggregate pass (melted to
    rows afterwards — a 1-row explode, not three scans), and the two
    lineitem checks (non-negativity, referential integrity) ride ONE
    left-join pass: the join that proves key existence also carries
    l_quantity, so the 100 TB fact table is scanned and shuffled once. Only
    the orders key projection is read twice, and that second read is the
    join's (column-pruned) build side.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    r6 = lambda num, den: round_half_up(  # noqa: E731
        num.cast("double") / den.cast("double"), 6
    )
    o = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0)).alias("n_complete"),
        F.countDistinct("o_orderkey").alias("n_unique"),
        F.sum(
            F.when(F.col("o_orderstatus").isin(*_ORDER_STATUSES), 1).otherwise(0)
        ).alias("n_domain"),
    )
    orders_checks = o.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("completeness_o_custkey").alias("check_name"),
                    r6(F.col("n_complete"), F.col("n")).alias("metric"),
                ),
                F.struct(
                    F.lit("uniqueness_o_orderkey").alias("check_name"),
                    r6(F.col("n_unique"), F.col("n")).alias("metric"),
                ),
                F.struct(
                    F.lit("domain_o_orderstatus").alias("check_name"),
                    r6(F.col("n_domain"), F.col("n")).alias("metric"),
                ),
            )
        ).alias("c")
    ).select("c.check_name", "c.metric")

    # distinct() keeps exact IN-subquery semantics even if the key side ever
    # carried duplicates (the join must never fan lineitem rows out)
    joined = li.select("l_orderkey", "l_quantity").join(
        orders.select(F.col("o_orderkey")).distinct(),
        li.l_orderkey == F.col("o_orderkey"),
        "left",
    )
    l = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("l_quantity") >= 0, 1).otherwise(0)).alias("n_nonneg"),
        F.sum(F.when(F.col("o_orderkey").isNotNull(), 1).otherwise(0)).alias("n_matched"),
    )
    li_checks = l.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("nonnegative_l_quantity").alias("check_name"),
                    r6(F.col("n_nonneg"), F.col("n")).alias("metric"),
                ),
                F.struct(
                    F.lit("referential_l_orderkey").alias("check_name"),
                    r6(F.col("n_matched"), F.col("n")).alias("metric"),
                ),
            )
        ).alias("c")
    ).select("c.check_name", "c.metric")

    checks = orders_checks.unionByName(li_checks)
    return checks.withColumn("passed", F.col("metric") >= 1.0).orderBy("check_name")


def _sql_dq() -> str:
    statuses = ", ".join(f"'{s}'" for s in _ORDER_STATUSES)
    r6 = lambda e: sql_round_half_up(e, 6)  # noqa: E731
    return f"""
WITH checks AS (
  SELECT 'completeness_o_custkey' AS check_name,
         {r6("CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS metric
  FROM orders
  UNION ALL
  SELECT 'uniqueness_o_orderkey',
         {r6("CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")}
  FROM orders
  UNION ALL
  SELECT 'domain_o_orderstatus',
         {r6(f"CAST(SUM(CASE WHEN o_orderstatus IN ({statuses}) THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")}
  FROM orders
  UNION ALL
  SELECT 'nonnegative_l_quantity',
         {r6("CAST(SUM(CASE WHEN l_quantity >= 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")}
  FROM lineitem
  UNION ALL
  SELECT 'referential_l_orderkey',
         {r6("CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM orders)) AS DOUBLE) / CAST((SELECT COUNT(*) FROM lineitem) AS DOUBLE)")}
)
SELECT check_name, metric, metric >= 1.0 AS passed
FROM checks
ORDER BY check_name
"""


import math

# Benford first-digit expectation log10(1 + 1/d), literalized in Python so
# both engines parse one decimal constant instead of re-deriving it
_BENFORD = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of o_totalprice vs Benford's law
    — the classic synthetic-data / fraud smell test. Digit extraction is
    exact: price → integer cents → first character of the decimal string
    (no log10 on doubles near power-of-ten boundaries). One scan, 9-group
    hash agg, scalar total via reused exchange."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("long")
    counts = (
        orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    total = counts.agg(F.sum("n_obs").alias("n_total"))
    obs = F.col("n_obs").cast("double") / F.col("n_total").cast("double")
    exp_share = F.element_at(
        F.array(*[F.lit(_BENFORD[d]) for d in range(1, 10)]), F.col("digit").cast("int")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_obs",
            round_half_up(obs, 6).alias("obs_share"),
            round_half_up(exp_share, 6).alias("exp_share"),
            round_half_up(F.abs(obs - exp_share), 6).alias("abs_dev"),
        )
        .orderBy("digit")
    )


def _sql_benford() -> str:
    exp_case = " ".join(
        f"WHEN digit = {d} THEN {_BENFORD[d]!r}" for d in range(1, 10)
    )
    return f"""
WITH counts AS (
  SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         COUNT(*) AS n_obs
  FROM orders
  GROUP BY 1),
t AS (SELECT SUM(n_obs) AS n_total FROM counts),
shares AS (
  SELECT digit, n_obs,
         CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) AS obs,
         CASE {exp_case} END AS exp
  FROM counts CROSS JOIN t)
SELECT digit, n_obs,
       {sql_round_half_up("obs", 6)} AS obs_share,
       {sql_round_half_up("exp", 6)} AS exp_share,
       {sql_round_half_up("ABS(obs - exp)", 6)} AS abs_dev
FROM shares
ORDER BY digit
"""


def value_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust statistics of `value`: 5th/95th-percentile winsorized
    bounds, clip counts, and the winsorized mean — the outlier-resistant
    summary a quality gate trusts when raw means are skewed by tail junk.

    Scale-safe exact order statistics WITHOUT buffering a group's values
    (the `customer_spend_deciles` two-pass pattern, not `F.percentile`):
    the fact table collapses to (type, cent-value) CELLS with counts — cell
    cardinality is bounded by the value domain (≈|cents in range|), never
    by row count — a running count over cells ordered by value picks the
    bound as the smallest cell whose CDF reaches ceil(p·n) (percentile_disc
    lower-bound semantics, integer-exact: k = (p·n + 99) div 100), and the
    winsorized mean is an int64 sum of clamped cents re-joined broadcast.
    Every comparison is integer; the only float is the final display division.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("v_e2"),
        )
        .groupBy("event_type", "v_e2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    per_type = Window.partitionBy("event_type")
    run = (
        Window.partitionBy("event_type")
        .orderBy("v_e2")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cdf = (
        cells.withColumn("n", F.sum("cnt").over(per_type))
        .withColumn("running", F.sum("cnt").over(run))
        .withColumn("k_lo", F.expr("(5 * n + 99) div 100"))
        .withColumn("k_hi", F.expr("(95 * n + 99) div 100"))
    )
    bounds = (
        with_cdf.groupBy("event_type")
        .agg(
            F.min(F.when(F.col("running") >= F.col("k_lo"), F.col("v_e2"))).alias("lo_e2"),
            F.min(F.when(F.col("running") >= F.col("k_hi"), F.col("v_e2"))).alias("hi_e2"),
        )
    )
    clamped = cells.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "cnt",
        F.greatest(F.least(F.col("v_e2"), F.col("hi_e2")), F.col("lo_e2")).alias("w_e2"),
        (F.col("v_e2") < F.col("lo_e2")).cast("long").alias("below"),
        (F.col("v_e2") > F.col("hi_e2")).cast("long").alias("above"),
        "lo_e2",
        "hi_e2",
    )
    return (
        clamped.groupBy("event_type")
        .agg(
            F.sum("cnt").alias("n"),
            (F.min("lo_e2").cast("double") / F.lit(100.0)).alias("p05_value"),
            (F.min("hi_e2").cast("double") / F.lit(100.0)).alias("p95_value"),
            F.sum(F.col("cnt") * F.col("below")).alias("n_clipped_low"),
            F.sum(F.col("cnt") * F.col("above")).alias("n_clipped_high"),
            round_half_up(
                F.sum(F.col("cnt") * F.col("w_e2")).cast("double")
                / F.sum("cnt").cast("double")
                / F.lit(100.0),
                4,
            ).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )


_WINSOR_SQL = f"""
WITH cells AS (
  SELECT event_type, CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v_e2,
         COUNT(*) AS cnt
  FROM events
  GROUP BY 1, 2),
cdf AS (
  SELECT *,
         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY v_e2
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
  FROM cells),
bounds AS (
  SELECT event_type,
         MIN(CASE WHEN running >= (5 * n + 99) // 100 THEN v_e2 END) AS lo_e2,
         MIN(CASE WHEN running >= (95 * n + 99) // 100 THEN v_e2 END) AS hi_e2
  FROM cdf GROUP BY event_type),
clamped AS (
  SELECT c.event_type, c.cnt,
         GREATEST(LEAST(c.v_e2, b.hi_e2), b.lo_e2) AS w_e2,
         CASE WHEN c.v_e2 < b.lo_e2 THEN 1 ELSE 0 END AS below,
         CASE WHEN c.v_e2 > b.hi_e2 THEN 1 ELSE 0 END AS above,
         b.lo_e2, b.hi_e2
  FROM cells c JOIN bounds b USING (event_type))
SELECT event_type,
       CAST(SUM(cnt) AS BIGINT) AS n,
       CAST(MIN(lo_e2) AS DOUBLE) / 100.0 AS p05_value,
       CAST(MIN(hi_e2) AS DOUBLE) / 100.0 AS p95_value,
       CAST(SUM(cnt * below) AS BIGINT) AS n_clipped_low,
       CAST(SUM(cnt * above) AS BIGINT) AS n_clipped_high,
       {sql_round_half_up("CAST(SUM(cnt * w_e2) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) / 100.0", 4)}
         AS winsorized_mean
FROM clamped
GROUP BY event_type
ORDER BY event_type
"""


# --- five-number summary (boxplot) -------------------------------------------


def value_five_number_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type boxplot summary of `value`: min / p25 / p50 / p75 / max,
    IQR, and the count of Tukey outliers (outside [p25 − 1.5·IQR,
    p75 + 1.5·IQR]) — the distribution snapshot every monitoring dashboard
    draws first.

    Same exact cell-CDF order statistics as `value_winsorized_stats`
    (percentile_disc lower bound over cent cells, no per-group buffering);
    the Tukey fence test is integer cross-multiplied (2·|dev| > 3·IQR in
    cents), so outlier counts are exact in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("v_e2"),
        )
        .groupBy("event_type", "v_e2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    per_type = Window.partitionBy("event_type")
    run = (
        Window.partitionBy("event_type")
        .orderBy("v_e2")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cdf = (
        cells.withColumn("n", F.sum("cnt").over(per_type))
        .withColumn("running", F.sum("cnt").over(run))
        .withColumn("k25", F.expr("(25 * n + 99) div 100"))
        .withColumn("k50", F.expr("(50 * n + 99) div 100"))
        .withColumn("k75", F.expr("(75 * n + 99) div 100"))
    )
    q = with_cdf.groupBy("event_type").agg(
        F.min("n").alias("n"),
        F.min("v_e2").alias("min_e2"),
        F.min(F.when(F.col("running") >= F.col("k25"), F.col("v_e2"))).alias("p25_e2"),
        F.min(F.when(F.col("running") >= F.col("k50"), F.col("v_e2"))).alias("p50_e2"),
        F.min(F.when(F.col("running") >= F.col("k75"), F.col("v_e2"))).alias("p75_e2"),
        F.max("v_e2").alias("max_e2"),
    )
    flagged = (
        cells.join(F.broadcast(q), "event_type")
        .withColumn("iqr_e2", F.col("p75_e2") - F.col("p25_e2"))
        .withColumn(
            "is_out",
            (
                (
                    F.lit(2) * (F.col("p25_e2") - F.col("v_e2")) > F.lit(3) * F.col("iqr_e2")
                )
                | (
                    F.lit(2) * (F.col("v_e2") - F.col("p75_e2")) > F.lit(3) * F.col("iqr_e2")
                )
            ).cast("long"),
        )
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.min("n").alias("n"),
            (F.min("min_e2").cast("double") / F.lit(100.0)).alias("min_value"),
            (F.min("p25_e2").cast("double") / F.lit(100.0)).alias("p25"),
            (F.min("p50_e2").cast("double") / F.lit(100.0)).alias("p50"),
            (F.min("p75_e2").cast("double") / F.lit(100.0)).alias("p75"),
            (F.min("max_e2").cast("double") / F.lit(100.0)).alias("max_value"),
            (F.min("iqr_e2").cast("double") / F.lit(100.0)).alias("iqr"),
            F.sum(F.col("cnt") * F.col("is_out")).alias("n_tukey_outliers"),
        )
        .orderBy("event_type")
    )


_FIVE_NUM_SQL = """
WITH cells AS (
  SELECT event_type, CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v_e2,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2),
cdf AS (
  SELECT *,
         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY v_e2
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
  FROM cells),
q AS (
  SELECT event_type, MIN(n) AS n, MIN(v_e2) AS min_e2,
         MIN(CASE WHEN running >= (25 * n + 99) // 100 THEN v_e2 END) AS p25_e2,
         MIN(CASE WHEN running >= (50 * n + 99) // 100 THEN v_e2 END) AS p50_e2,
         MIN(CASE WHEN running >= (75 * n + 99) // 100 THEN v_e2 END) AS p75_e2,
         MAX(v_e2) AS max_e2
  FROM cdf GROUP BY event_type),
flagged AS (
  SELECT c.event_type, c.cnt, q.n, q.min_e2, q.p25_e2, q.p50_e2, q.p75_e2, q.max_e2,
         q.p75_e2 - q.p25_e2 AS iqr_e2,
         CASE WHEN 2 * (q.p25_e2 - c.v_e2) > 3 * (q.p75_e2 - q.p25_e2)
                OR 2 * (c.v_e2 - q.p75_e2) > 3 * (q.p75_e2 - q.p25_e2)
              THEN 1 ELSE 0 END AS is_out
  FROM cells c JOIN q USING (event_type))
SELECT event_type,
       CAST(MIN(n) AS BIGINT) AS n,
       CAST(MIN(min_e2) AS DOUBLE) / 100.0 AS min_value,
       CAST(MIN(p25_e2) AS DOUBLE) / 100.0 AS p25,
       CAST(MIN(p50_e2) AS DOUBLE) / 100.0 AS p50,
       CAST(MIN(p75_e2) AS DOUBLE) / 100.0 AS p75,
       CAST(MIN(max_e2) AS DOUBLE) / 100.0 AS max_value,
       CAST(MIN(iqr_e2) AS DOUBLE) / 100.0 AS iqr,
       CAST(SUM(cnt * is_out) AS BIGINT) AS n_tukey_outliers
FROM flagged
GROUP BY event_type
ORDER BY event_type
"""


# --- median/MAD robust outlier gate ----------------------------------------

# 3σ-equivalent MAD threshold: |x − med| > 3 · 1.4826 · MAD. 1.4826 is the
# normal-consistency constant; kept in integer arithmetic as ×14826 / ×10⁴.
MAD_K_E4 = 3 * 14826


def value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type median/MAD robust outlier report — the detector that stays
    calibrated when the mean/σ gate (`value_outliers`) is itself dragged by
    the outliers it is hunting. Flags rows with |value − median| >
    3·1.4826·MAD (the normal-consistent 3σ analogue).

    Exact order statistics with NO per-group buffering, twice: pass 1
    collapses events to (type, cent-value) cells and picks the median by
    running-count CDF (`value_winsorized_stats`' pattern); pass 2
    re-aggregates the same cells into (type, |deviation|) cells —
    cardinality again domain-bounded, not row-bounded — and picks the MAD
    the same way. The outlier test cross-multiplies integers
    (|dev|·10⁴ > 3·14826·MAD) so no float enters any comparison.

    Scale (100 TB): two cell-sized window passes (cells ≈ |value domain| ·
    |types|, independent of row count) + one broadcast join back to cells.
    MAD = 0 (over half the group at one value) degenerates to flagging
    every deviating row — the documented MAD failure mode, surfaced by the
    mad_value column being 0 rather than hidden.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    cells = caching.materialize(
        ev.select(
            "event_type",
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("v_e2"),
        )
        .groupBy("event_type", "v_e2")
        .agg(F.count(F.lit(1)).alias("cnt")),
        "value_mad_outliers.cells",
    )
    per_type = Window.partitionBy("event_type")

    def _median_of(cdf_cells: DataFrame, val_col: str) -> DataFrame:
        run = (
            Window.partitionBy("event_type")
            .orderBy(val_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        with_cdf = (
            cdf_cells.withColumn("n", F.sum("cnt").over(per_type))
            .withColumn("running", F.sum("cnt").over(run))
            .withColumn("k", F.expr("(50 * n + 99) div 100"))
        )
        return with_cdf.groupBy("event_type").agg(
            F.min(F.when(F.col("running") >= F.col("k"), F.col(val_col))).alias("med"),
            F.min("n").alias("n"),
        )

    med = _median_of(cells, "v_e2").withColumnRenamed("med", "med_e2")
    dev_cells = (
        cells.join(F.broadcast(med.select("event_type", "med_e2")), "event_type")
        .select("event_type", F.abs(F.col("v_e2") - F.col("med_e2")).alias("dev_e2"), "cnt")
        .groupBy("event_type", "dev_e2")
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = (
        _median_of(dev_cells, "dev_e2")
        .withColumnRenamed("med", "mad_e2")
        .drop("n")
    )
    flagged = (
        cells.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .withColumn(
            "is_out",
            (F.abs(F.col("v_e2") - F.col("med_e2")) * F.lit(10000) > F.lit(MAD_K_E4) * F.col("mad_e2")).cast("long"),
        )
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.min("n").alias("n"),
            (F.min("med_e2").cast("double") / F.lit(100.0)).alias("median_value"),
            (F.min("mad_e2").cast("double") / F.lit(100.0)).alias("mad_value"),
            F.sum(F.col("cnt") * F.col("is_out")).alias("n_outliers"),
        )
        .withColumn(
            "outlier_share",
            F.expr("(n_outliers * 20000 + n) div (2 * n)").cast("double") / F.lit(10000.0),
        )
        .orderBy("event_type")
    )


_MAD_SQL = f"""
WITH cells AS (
  SELECT event_type, CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v_e2,
         COUNT(*) AS cnt
  FROM events
  GROUP BY 1, 2),
cdf1 AS (
  SELECT *,
         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY v_e2
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
  FROM cells),
med AS (
  SELECT event_type,
         MIN(CASE WHEN running >= (50 * n + 99) // 100 THEN v_e2 END) AS med_e2,
         MIN(n) AS n
  FROM cdf1 GROUP BY event_type),
dev_cells AS (
  SELECT c.event_type, abs(c.v_e2 - m.med_e2) AS dev_e2, SUM(c.cnt) AS cnt
  FROM cells c JOIN med m USING (event_type)
  GROUP BY 1, 2),
cdf2 AS (
  SELECT *,
         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS dn,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY dev_e2
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
  FROM dev_cells),
mad AS (
  SELECT event_type,
         MIN(CASE WHEN running >= (50 * dn + 99) // 100 THEN dev_e2 END) AS mad_e2
  FROM cdf2 GROUP BY event_type),
flagged AS (
  SELECT c.event_type, c.cnt, m.n, m.med_e2, d.mad_e2,
         CASE WHEN abs(c.v_e2 - m.med_e2) * 10000 > {MAD_K_E4} * d.mad_e2
              THEN 1 ELSE 0 END AS is_out
  FROM cells c JOIN med m USING (event_type) JOIN mad d USING (event_type))
SELECT event_type,
       CAST(MIN(n) AS BIGINT) AS n,
       CAST(MIN(med_e2) AS DOUBLE) / 100.0 AS median_value,
       CAST(MIN(mad_e2) AS DOUBLE) / 100.0 AS mad_value,
       CAST(SUM(cnt * is_out) AS BIGINT) AS n_outliers,
       CAST((SUM(cnt * is_out) * 20000 + MIN(n)) // (2 * MIN(n)) AS DOUBLE) / 10000.0
         AS outlier_share
FROM flagged
GROUP BY event_type
ORDER BY event_type
"""


# --- k-anonymity -------------------------------------------------------------

K_ANON_THRESHOLDS = (2, 5, 10)


def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification risk audit over the events table: the
    quasi-identifier tuple is (event_type, event date, value decile band
    floor(value/10)) — the combination an adversary with side knowledge
    could match. For each k in {2, 5, 10}: how many QI equivalence
    classes have fewer than k rows, and how many rows sit in them (the
    rows a release at that k-anonymity level must suppress or
    generalize).

    Scale: one hash aggregation on the QI key (map-side combined), then
    the class-size histogram is a ≤threshold-count cross of a tiny
    aggregate — the fact table is scanned once regardless of how many k
    levels are reported.
    """
    events = load_table(spark, sf_dir, "events")
    classes = (
        events.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") / F.lit(10.0)).alias("value_band"),
        )
        .groupBy("event_type", "day", "value_band")
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    ks = spark.createDataFrame(
        [(k,) for k in K_ANON_THRESHOLDS], "k int"
    )
    total = classes.agg(
        F.sum("class_size").alias("_total_rows"),
        F.count(F.lit(1)).alias("_total_classes"),
    )
    return (
        classes.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("class_size") < F.col("k"), 1).otherwise(0)).alias(
                "n_classes_below"
            ),
            F.sum(
                F.when(F.col("class_size") < F.col("k"), F.col("class_size")).otherwise(
                    F.lit(0)
                )
            ).alias("n_rows_at_risk"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "k",
            "n_classes_below",
            "n_rows_at_risk",
            F.col("_total_classes").alias("n_classes_total"),
            round_half_up(
                F.col("n_rows_at_risk").cast("double")
                / F.col("_total_rows").cast("double"),
                4,
            ).alias("frac_rows_at_risk"),
        )
        .orderBy("k")
    )


_K_ANON_SQL = f"""
WITH classes AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(FLOOR(value / 10.0) AS BIGINT) AS value_band,
         COUNT(*) AS class_size
  FROM events GROUP BY 1, 2, 3),
ks AS (SELECT unnest({list(K_ANON_THRESHOLDS)}) AS k),
tot AS (SELECT SUM(class_size) AS total_rows, COUNT(*) AS total_classes FROM classes)
SELECT CAST(k AS INTEGER) AS k,
       CAST(SUM(CASE WHEN class_size < k THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_below,
       CAST(SUM(CASE WHEN class_size < k THEN class_size ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
       CAST(MIN(total_classes) AS BIGINT) AS n_classes_total,
       {sql_round_half_up('CAST(SUM(CASE WHEN class_size < k THEN class_size ELSE 0 END) AS DOUBLE) / CAST(MIN(total_rows) AS DOUBLE)', 4)}
         AS frac_rows_at_risk
FROM classes CROSS JOIN ks CROSS JOIN tot
GROUP BY k
ORDER BY k
"""


L_DIV_THRESHOLDS = (2, 3, 5)


def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The homogeneity-attack companion to `k_anonymity_report`
    (Machanavajjhala et al. 2007): k-anonymity alone cannot stop an
    adversary when every row of a QI equivalence class belongs to the
    SAME person — the class is large but reveals the sensitive attribute
    anyway. Same QI tuple as the k-report (event_type, day, value band);
    sensitive attribute = user_id (a class whose rows all trace to one
    user discloses that user's activity pattern). For each ℓ in
    L_DIV_THRESHOLDS: QI classes with fewer than ℓ DISTINCT users, the
    rows inside them, and the at-risk row fraction — the suppression
    budget a release at that diversity level must pay.

    Scale: one (QI, user) dedup agg then one QI-keyed distinct count —
    both map-side combinable hash aggregations; the ℓ grid crosses a tiny
    aggregate, never the fact table.
    """
    events = load_table(spark, sf_dir, "events")
    classes = (
        events.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") / F.lit(10.0)).alias("value_band"),
            "user_id",
        )
        .groupBy("event_type", "day", "value_band")
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct("user_id").alias("n_distinct_users"),
        )
    )
    ls = spark.createDataFrame([(l,) for l in L_DIV_THRESHOLDS], "l int")
    total = classes.agg(
        F.sum("class_size").alias("_total_rows"),
        F.count(F.lit(1)).alias("_total_classes"),
    )
    return (
        classes.crossJoin(F.broadcast(ls))
        .groupBy("l")
        .agg(
            F.sum(
                F.when(F.col("n_distinct_users") < F.col("l"), 1).otherwise(0)
            ).alias("n_classes_below"),
            F.sum(
                F.when(
                    F.col("n_distinct_users") < F.col("l"), F.col("class_size")
                ).otherwise(F.lit(0))
            ).alias("n_rows_at_risk"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "l",
            "n_classes_below",
            "n_rows_at_risk",
            F.col("_total_classes").alias("n_classes_total"),
            round_half_up(
                F.col("n_rows_at_risk").cast("double")
                / F.col("_total_rows").cast("double"),
                4,
            ).alias("frac_rows_at_risk"),
        )
        .orderBy("l")
    )


_L_DIV_SQL = f"""
WITH classes AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(FLOOR(value / 10.0) AS BIGINT) AS value_band,
         COUNT(*) AS class_size,
         COUNT(DISTINCT user_id) AS n_distinct_users
  FROM events GROUP BY 1, 2, 3),
ls AS (SELECT unnest({list(L_DIV_THRESHOLDS)}) AS l),
tot AS (SELECT SUM(class_size) AS total_rows, COUNT(*) AS total_classes FROM classes)
SELECT CAST(l AS INTEGER) AS l,
       CAST(SUM(CASE WHEN n_distinct_users < l THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_below,
       CAST(SUM(CASE WHEN n_distinct_users < l THEN class_size ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
       CAST(MIN(total_classes) AS BIGINT) AS n_classes_total,
       {sql_round_half_up('CAST(SUM(CASE WHEN n_distinct_users < l THEN class_size ELSE 0 END) AS DOUBLE) / CAST(MIN(total_rows) AS DOUBLE)', 4)}
         AS frac_rows_at_risk
FROM classes CROSS JOIN ls CROSS JOIN tot
GROUP BY l
ORDER BY l
"""


QUERIES = {
    "table_profile": table_profile,
    "dq_checks": dq_checks,
    "k_anonymity_report": k_anonymity_report,
    "l_diversity_report": l_diversity_report,
    "benford_audit": benford_audit,
    "value_winsorized_stats": value_winsorized_stats,
    "value_mad_outliers": value_mad_outliers,
    "value_five_number_summary": value_five_number_summary,
}

ORACLES = {
    "table_profile": _sql_profile(),
    "dq_checks": _sql_dq(),
    "k_anonymity_report": _K_ANON_SQL,
    "l_diversity_report": _L_DIV_SQL,
    "benford_audit": _sql_benford(),
    "value_winsorized_stats": _WINSOR_SQL,
    "value_mad_outliers": _MAD_SQL,
    "value_five_number_summary": _FIVE_NUM_SQL,
}
