"""Window-function operators: per-group top-k, moving aggregates,
sessionization.

The reference's only window shapes are latest-row-per-group (DISTINCT ON,
queries.py:80-83) and a per-key top-3 cap (opensky_source.py:141-142) —
covered in metrics.py and sources/opensky.py. This module carries the
general forms a fleet-analytics user needs at scale.

Scale notes: window functions shuffle once on the partition key and sort
within partitions. Skewed partition keys (one vehicle with 10^9 rows) are
the hazard at 100 TB — all windows here partition on bounded-cardinality
keys (priority, supplier, user) whose per-key row counts grow linearly, and
the moving-average first reduces to per-(supplier, day) grain before
windowing, so the windowed input is ~10^3 smaller than the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import caching
from ..catalog import load_table
from ..functions.scalars import round_half_up

# --- top-k per group -------------------------------------------------------


def top_orders_per_priority(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Highest-value k orders within each priority class.
    row_number over (partition priority, order totalprice desc, tiebreak key)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank_in_priority", F.row_number().over(w))
        .filter(F.col("rank_in_priority") <= k)
        .select("o_orderpriority", "rank_in_priority", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rank_in_priority")
    )


_TOP_ORDERS_SQL = """
SELECT o_orderpriority, rank_in_priority, o_orderkey, o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank_in_priority
  FROM orders) t
WHERE rank_in_priority <= 3
ORDER BY o_orderpriority, rank_in_priority
"""


# --- moving aggregate over a reduced grain ---------------------------------


def supplier_weekly_revenue_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier weekly revenue with a 4-week trailing moving average.

    Two-stage: (1) hash-agg to (suppkey, week) grain with exact scaled-int
    revenue — this is the only full-table pass; (2) window over the tiny
    aggregate. The moving sum stays in int64 (revenue_e4) so the frame
    accumulation order cannot produce float drift vs the oracle.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev_e4 = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(10_000.0)
        + F.lit(0.5)
    ).cast("long")
    weekly = (
        # to_date: DuckDB's date_trunc('week') yields DATE — match the type
        lineitem.withColumn("week", F.to_date(F.date_trunc("week", F.col("l_shipdate"))))
        .groupBy("l_suppkey", "week")
        .agg(F.sum(rev_e4).alias("revenue_e4"))
    )
    w = Window.partitionBy("l_suppkey").orderBy("week").rowsBetween(-3, 0)
    return weekly.select(
        "l_suppkey",
        "week",
        (F.col("revenue_e4").cast("double") / F.lit(10_000.0)).alias("weekly_revenue"),
        (
            F.sum("revenue_e4").over(w).cast("double")
            / (F.lit(10_000.0) * F.count("revenue_e4").over(w).cast("double"))
        ).alias("revenue_ma4"),
    )  # no final orderBy: scaling output, order-insensitive gate (guide §2.4)


_SUPPLIER_MA_SQL = """
WITH weekly AS (
  SELECT l_suppkey, date_trunc('week', l_shipdate) AS week,
         SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)) AS revenue_e4
  FROM lineitem
  GROUP BY l_suppkey, date_trunc('week', l_shipdate))
SELECT l_suppkey, week,
       CAST(revenue_e4 AS DOUBLE) / 10000.0 AS weekly_revenue,
       CAST(SUM(revenue_e4) OVER w AS DOUBLE)
         / (10000.0 * CAST(COUNT(revenue_e4) OVER w AS DOUBLE)) AS revenue_ma4
FROM weekly
WINDOW w AS (PARTITION BY l_suppkey ORDER BY week ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
ORDER BY l_suppkey, week
"""


# --- sessionization (lag + gap threshold + running count) ------------------

SESSION_GAP_MINUTES = 30


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each user's event stream into sessions at >30 min gaps; emit
    per-user session count and mean session length (events/session).

    lag(ts) over (user order ts, id) → gap flag → running sum = session id.
    The batch twin of streaming session_window(ts, gap) — see streaming/.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_sec = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    with_flag = events.withColumn(
        "new_session",
        F.when(gap_sec.isNull() | (gap_sec > SESSION_GAP_MINUTES * 60), 1).otherwise(0),
    )
    with_sid = with_flag.withColumn(
        "session_id",
        F.sum("new_session").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    per_session = with_sid.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            round_half_up(
                F.sum("n_events").cast("double") / F.count(F.lit(1)).cast("double"), 4
            ).alias("avg_events_per_session"),
        )
        .orderBy("user_id")
    )


_SESSIONS_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev_ts IS NULL
                   OR (FLOOR(epoch(ts)) - FLOOR(epoch(prev_ts))) > {SESSION_GAP_MINUTES * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM (
    SELECT user_id, ts, event_id,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events) t),
sid AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged),
per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events
  FROM sid GROUP BY user_id, session_id)
SELECT user_id, COUNT(*) AS n_sessions,
       CAST(FLOOR((CAST(SUM(n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0
         AS avg_events_per_session
FROM per_session
GROUP BY user_id
ORDER BY user_id
"""


# --- cumulative / rank mix over events ------------------------------------


def user_value_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running total of `value` (exact cents) with event rank —
    the cumulative-metric shape (odometer-style monotone series).
    Returns the final row per user to keep result size bounded."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    running = (
        events.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "running_value",
            F.sum(cents).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double")
            / F.lit(100.0),
        )
    )
    last = Window.partitionBy("user_id").orderBy(F.desc("rn"))
    return (
        running.withColumn("last_rn", F.row_number().over(last))
        .filter(F.col("last_rn") == 1)
        .select("user_id", F.col("rn").alias("n_events"), "running_value")
        .orderBy("user_id")
    )


_RUNNING_SQL = """
WITH running AS (
  SELECT user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
           AS running_value
  FROM events)
SELECT user_id, rn AS n_events, running_value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn DESC) AS last_rn
  FROM running) t
WHERE last_rn = 1
ORDER BY user_id
"""


# --- ranking-function zoo (rank / dense_rank / ntile) ------------------------
#
# None of these may use a GLOBAL window (Window.orderBy with no partitionBy):
# that plan funnels the whole input through one task — correct at sf0.1,
# dead at 100×. Instead, exact global ranks are computed with the same
# two-pass boundary/broadcast idea as olap.customer_spend_deciles:
#
#   1. reduce to a distinct-key table (one row per key value, with a count);
#   2. split it into ~n_parts order-contiguous slices via DETERMINISTIC
#      hash-sampled key-quantile cuts (below) and take per-slice running
#      counts — each slice window is ~|distinct keys|/n_parts rows;
#   3. per-slice subtotals (≤ n_parts rows per part group) give each
#      slice's global offset via a bounded-size prefix window; broadcast
#      them back to finish the tie-aware running counts.
#
# rank / dense_rank / percent_rank / cume_dist / ntile are all pure
# functions of those counts, so the results are bit-identical to the
# single-window formulation the oracles use.


# hash-sampled keys per target slice for the `_tie_aware_running` cuts:
# per-slice key-count error ~ 1/sqrt(OVERSAMPLE) ≈ 12% — balance only,
# never correctness. 64·n_parts sampled values ≈ a few MB broadcast even
# at n_parts = 10⁴ (1000-executor scale).
OVERSAMPLE = 64


def _tie_aware_running(
    dist: DataFrame, part_cols: list[str], order_col: str, *, ascending: bool, n_parts: int
) -> DataFrame:
    """Exact global tie-aware running counts over a distinct-key table,
    with no data-sized single-partition window.

    `dist` must hold one row per (part_cols…, order_col) key with a `cnt`
    column. Adds `rows_before` (total cnt of keys strictly before this key
    in the given order, within its part group) and `keys_before` (distinct
    keys strictly before). rank = rows_before+1, dense_rank = keys_before+1,
    cume counts = rows_before + cnt.
    """
    okey = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    # lazy cache on the distinct-key table (≪ fact size): it feeds four
    # plan branches (count, sample, pid annotation×2) and each would
    # otherwise re-run the fact aggregation that produced it. cache(), not
    # localCheckpoint — building the query stays job-free (no eager
    # materialization), and correctness never depends on it (every derived
    # quantity is a pure function of the key multiset), it only avoids
    # recompute.
    dist = caching.materialize(dist, "tie_aware_running.dist")
    # Data-derived range-partition id. `d` feeds two plan branches
    # (per-partition subtotals + the join-back); a repartitionByRange +
    # spark_partition_id() here would compile to two independent
    # rangepartitioning exchanges whose RangePartitioner re-SAMPLES
    # boundaries with an RDD-id-derived seed — the same key landing in
    # different `_pid`s across branches silently corrupts every offset
    # (round-2 fix: eager localCheckpoint; this version removes the
    # materialization). The split points must therefore be DETERMINISTIC
    # under independent re-evaluation. percentile_approx is NOT (its
    # QuantileSummaries partial-merge is shuffle-arrival-order dependent
    # once summaries compress at scale), and seeded random sampling is NOT
    # (Sample's XORShift stream advances per row, so within-partition
    # arrival order leaks into membership). The cuts therefore come from a
    # HASH-sampled key-quantile sketch: sample ≈ OVERSAMPLE·n_parts
    # distinct keys by a pure predicate on xxhash64(order_col) (membership
    # is a function of the key alone — re-evaluation-proof), sort the
    # sample into one broadcast row, and read the n_parts−1 equal-KEY-
    # quantile cuts out of the array in closed form. `_pid` = #cut values
    # strictly before the key in query order: a pure function of the key,
    # monotone along `okey` (equal keys share a pid), which is all the
    # offset algebra below needs. KEY-quantiles (not mass quantiles) are
    # the right balance metric: the per-pid window below runs over the
    # DISTINCT-KEY table, so task size = keys per pid, and hash sampling
    # is distribution-free — heavy-tailed value ranges that collapse
    # equal-width value bins (the previous scheme) leave it unmoved.
    # Balance error is ~1/√OVERSAMPLE per slice, irrelevant to
    # correctness; irreducible single-VALUE skew (one key carrying huge
    # cnt) only widens the later per-tie fact window, as before.
    if n_parts > 1:
        sample_target = n_parts * OVERSAMPLE
        stats = dist.agg(F.count(F.lit(1)).alias("_k"))
        # pure-function membership: keep ≈ sample_target keys. The e4
        # fixed-point threshold keeps the predicate integer-exact; the +1
        # guarantees a nonzero rate so tiny inputs keep their cuts.
        rate_e4 = F.least(
            F.lit(10_000),
            (F.lit(10_000) * F.lit(sample_target)) / F.greatest(F.col("_k"), F.lit(1)) + 1,
        ).cast("long")
        sampled = (
            dist.crossJoin(F.broadcast(stats))
            .filter(F.pmod(F.xxhash64(order_col), F.lit(10_000)) < rate_e4)
            .select(order_col)
        )
        cb_row = sampled.agg(F.sort_array(F.collect_list(order_col)).alias("_s"))
        idx = lambda i: F.greatest(  # noqa: E731 — 1-based clamp into the sample
            F.lit(1), F.floor(F.lit(i) * F.size("_s") / F.lit(n_parts)).cast("int")
        )
        cuts = F.when(F.size("_s") == 0, F.array().cast(f"array<{dist.schema[order_col].dataType.simpleString()}>")).otherwise(
            F.array_distinct(
                F.array(*[F.element_at("_s", idx(i)) for i in range(1, n_parts)])
            )
        )
        cb_row = cb_row.select(cuts.alias("_cbs"))
        before = (lambda cb: cb < F.col(order_col)) if ascending else (
            lambda cb: cb > F.col(order_col)
        )
        d = (
            dist.crossJoin(F.broadcast(cb_row))
            .withColumn("_pid", F.size(F.filter(F.col("_cbs"), before)))
            .drop("_cbs")
        )
    else:
        d = dist.withColumn("_pid", F.lit(0))
    # Intra-partition running counts first; the per-partition subtotals are
    # then an aggregate OVER THE WINDOWED FRAME, so both consumers share the
    # single hashpartitioning(_pid, part_cols) exchange under the window
    # (ReusedExchange at runtime) instead of re-deriving the distinct-key
    # table from the fact scan per branch.
    wloc = Window.partitionBy("_pid", *part_cols).orderBy(okey)
    run = F.sum("cnt").over(wloc.rowsBetween(Window.unboundedPreceding, -1))
    ann = d.withColumn("_run", F.coalesce(run, F.lit(0))).withColumn(
        "_krun", F.row_number().over(wloc) - 1
    )
    seg = ann.groupBy("_pid", *part_cols).agg(
        F.sum("cnt").alias("_rows"), F.count(F.lit(1)).alias("_keys")
    )
    # Prefix offsets over the tiny per-partition subtotal table via a
    # conditional self-join (≤ n_parts² pairs) — not a global window.
    cond = F.col("b._pid") < F.col("a._pid")
    for c in part_cols:
        cond = cond & (F.col(f"b.{c}") == F.col(f"a.{c}"))
    offs = (
        seg.alias("a")
        .join(seg.alias("b"), cond, "left")
        .groupBy(F.col("a._pid").alias("_pid"), *[F.col(f"a.{c}").alias(c) for c in part_cols])
        .agg(
            F.coalesce(F.sum("b._rows"), F.lit(0)).alias("_rows_off"),
            F.coalesce(F.sum("b._keys"), F.lit(0)).alias("_keys_off"),
        )
    )
    return (
        ann.join(F.broadcast(offs), ["_pid", *part_cols])
        .withColumn("rows_before", F.col("_rows_off") + F.col("_run"))
        .withColumn("keys_before", F.col("_keys_off") + F.col("_krun"))
        .drop("_pid", "_rows_off", "_keys_off", "_run", "_krun")
    )


def _n_shuffle_parts(spark: SparkSession) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))


def supplier_revenue_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers ranked by exact total revenue: row_number, rank and
    dense_rank side by side (ties — identical revenues — make the three
    functions diverge; exact int revenue keeps tie structure identical in
    both engines).

    Scale shape: ranks come from `_tie_aware_running` over the distinct
    revenue values — no global window. The only per-tie window partitions
    by rev_e4 (bounded by tie multiplicity); ties in exact int revenue are
    rare by construction."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev_e4 = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(10_000.0)
        + F.lit(0.5)
    ).cast("long")
    totals = lineitem.groupBy("l_suppkey").agg(F.sum(rev_e4).alias("rev_e4"))
    dist = totals.groupBy("rev_e4").agg(F.count(F.lit(1)).alias("cnt"))
    dist = _tie_aware_running(
        dist, [], "rev_e4", ascending=False, n_parts=_n_shuffle_parts(spark)
    )
    ranked = totals.join(
        dist.select(
            "rev_e4",
            (F.col("rows_before") + 1).alias("_rnk"),
            (F.col("keys_before") + 1).alias("_dense"),
        ),
        "rev_e4",
    )
    w_tie = Window.partitionBy("rev_e4").orderBy("l_suppkey")
    return ranked.select(
        "l_suppkey",
        (F.col("rev_e4").cast("double") / 10_000.0).alias("revenue"),
        (F.col("_rnk") + F.row_number().over(w_tie) - 1).cast("long").alias("row_num"),
        F.col("_rnk").cast("long").alias("rnk"),
        F.col("_dense").cast("long").alias("dense_rnk"),
    ).orderBy("row_num")


_SUPPLIER_RANKS_SQL = """
WITH totals AS (
  SELECT l_suppkey,
         SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)) AS rev_e4
  FROM lineitem GROUP BY l_suppkey)
SELECT l_suppkey,
       CAST(rev_e4 AS DOUBLE) / 10000.0 AS revenue,
       CAST(ROW_NUMBER() OVER (ORDER BY rev_e4 DESC, l_suppkey ASC) AS BIGINT) AS row_num,
       CAST(RANK() OVER (ORDER BY rev_e4 DESC) AS BIGINT) AS rnk,
       CAST(DENSE_RANK() OVER (ORDER BY rev_e4 DESC) AS BIGINT) AS dense_rnk
FROM totals
ORDER BY row_num
"""


def customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) over account balance → per-quartile count and exact balance
    range. The ntile order includes the unique custkey tiebreak so bucket
    membership is total-order deterministic.

    Scale shape: the global row number each customer would get under
    NTILE's total order is rows_before(acctbal) [via `_tie_aware_running`]
    + position within the acctbal tie group; NTILE(k) is then a closed-form
    function of (row_number, N): the first N%k buckets take ceil(N/k) rows,
    the rest floor(N/k). No global window anywhere."""
    customer = load_table(spark, sf_dir, "customer")
    dist = customer.groupBy("c_acctbal").agg(F.count(F.lit(1)).alias("cnt"))
    dist = _tie_aware_running(
        dist, [], "c_acctbal", ascending=False, n_parts=_n_shuffle_parts(spark)
    )
    n_total = dist.agg(F.sum("cnt").alias("_n"))  # 1-row scalar, broadcast
    w_tie = Window.partitionBy("c_acctbal").orderBy("c_custkey")
    rn = F.col("rows_before") + F.row_number().over(w_tie)  # global 1..N
    q, r = F.floor(F.col("_n") / 4), F.col("_n") % 4
    big = r * (q + 1)  # rows covered by the ceil-sized buckets
    quartile = (
        F.when(rn <= big, F.ceil(rn / (q + 1)))
        .otherwise(r + F.ceil((rn - big) / q))
        .cast("long")
    )
    tiled = (
        customer.join(dist.select("c_acctbal", "rows_before"), "c_acctbal")
        .crossJoin(F.broadcast(n_total))
        .select("c_acctbal", quartile.alias("quartile"))
    )
    return (
        tiled.groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
        .orderBy("quartile")
    )


_QUARTILES_SQL = """
SELECT quartile, COUNT(*) AS n_customers,
       MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
FROM (
  SELECT c_acctbal,
         CAST(NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS quartile
  FROM customer) t
GROUP BY quartile
ORDER BY quartile
"""


# --- native session_window stats ---------------------------------------------


def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session stats via Spark's NATIVE `session_window` operator —
    the engine-surface twin of the lag/cumsum islands in `user_sessions`
    (same 30-min gap rule; this one exercises the built-in merging
    aggregation, which is also the streaming sessionization primitive).
    Emits per-user session count, the busiest session's event count, and
    the longest session's span in seconds (exact ints).

    Semantics note: `session_window(ts, g)` closes a session when the next
    event is ≥ g after the previous (half-open [start, last+g)), so the
    islands twin flags a new session at gap ≥ g — one `=` different from
    `user_sessions`' strictly-greater rule, both pinned by their oracles.

    Scale: one shuffle on user_id with merging session aggregation —
    Spark's own implementation of the gaps-and-islands pass; state per
    user is O(open sessions), which the gap bound keeps at 1.
    """
    ev = load_table(spark, sf_dir, "events")
    per_session = ev.groupBy(
        "user_id", F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("span_s"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.max("span_s").alias("max_session_seconds"),
        )
        .orderBy("user_id")
    )


_SESSION_WINDOW_SQL = f"""
WITH ordered AS (
  SELECT user_id, ts, event_id,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
flagged AS (
  -- gap test at MICROSECOND precision: session_window merges iff
  -- ts − prev < gap on raw timestamps; flooring first misclassifies gaps
  -- in [gap−1s, gap) (caught by the sf0.1 oracle sweep)
  SELECT user_id, ts, event_id,
         CASE WHEN prev_ts IS NULL
                   OR (epoch_us(ts) - epoch_us(prev_ts)) >= {SESSION_GAP_MINUTES * 60} * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM ordered),
sids AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged),
per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT) AS span_s
  FROM sids GROUP BY user_id, session_id)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(MAX(n_events) AS BIGINT) AS max_session_events,
       CAST(MAX(span_s) AS BIGINT) AS max_session_seconds
FROM per_session
GROUP BY user_id
ORDER BY user_id
"""


# --- event transition matrix (lag) ------------------------------------------


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts: for each user-ordered consecutive event
    pair, count (from_type → to_type) fleet-wide — the behavioral-model
    input. One window pass (lag) sharing the per-user partitioning."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("from_type", F.lag("event_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("from_type", "to_type")
    )


_TRANSITIONS_SQL = """
SELECT from_type, event_type AS to_type, COUNT(*) AS n_transitions
FROM (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_type
  FROM events) t
WHERE from_type IS NOT NULL
GROUP BY from_type, event_type
ORDER BY from_type, to_type
"""


# --- ordered event sequences (deterministic array agg) -----------------------

SEQ_PREFIX = 8


def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 event types per user as an ordered array. collect_list alone
    is partition-order nondeterministic; sorting an array of (ts, event_id,
    type) structs restores a total order — the portable way to build
    sequence features."""
    ev = load_table(spark, sf_dir, "events")
    seq = F.transform(
        F.slice(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("event_type")))
            ),
            1,
            SEQ_PREFIX,
        ),
        lambda s: s.getField("event_type"),
    )
    return (
        ev.groupBy("user_id")
        .agg(F.array_join(seq, ",").alias("first_events"))
        .orderBy("user_id")
    )


_SEQUENCES_SQL = f"""
SELECT user_id,
       array_to_string(
         (list(event_type ORDER BY ts, event_id))[1:{SEQ_PREFIX}], ',') AS first_events
FROM events
GROUP BY user_id
ORDER BY user_id
"""


# --- distribution position (percent_rank / cume_dist) -----------------------


def order_price_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each order's price position within its priority class: percent_rank
    (= (rank-1)/(n-1)) and cume_dist (= rows ≤ current / n). Completes the
    ranking-function family (rank/dense_rank/ntile are in
    supplier_revenue_ranks / customer_balance_quartiles).

    Both values are ratios of tie-aware integer counts, so they are
    bit-identical across engines and partitionings — no float-accumulation
    hazard.

    Scale shape: o_orderpriority has only 5 values, so a window partitioned
    by it is 5 giant single-task sorts at 100×. Instead the tie-aware counts
    come from `_tie_aware_running` over the distinct (priority, price) table
    — range-partitioned on (priority, price), so each priority spreads over
    many range partitions — and are joined back to the fact rows on the
    well-distributed (priority, price) key. percent_rank = rows_before/(N−1)
    and cume_dist = (rows_before+cnt)/N are then computed from the exact
    same integers Spark's window functions would use.
    """
    orders = load_table(spark, sf_dir, "orders")
    dist = orders.groupBy("o_orderpriority", "o_totalprice").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    dist = _tie_aware_running(
        dist,
        ["o_orderpriority"],
        "o_totalprice",
        ascending=True,
        n_parts=_n_shuffle_parts(spark),
    )
    per_priority = orders.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("_n"))
    pct = F.when(
        F.col("_n") > 1,
        F.col("rows_before").cast("double") / (F.col("_n") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    cume = (F.col("rows_before") + F.col("cnt")).cast("double") / F.col("_n").cast(
        "double"
    )
    return (
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
        .join(
            dist.select("o_orderpriority", "o_totalprice", "cnt", "rows_before"),
            ["o_orderpriority", "o_totalprice"],
        )
        .join(F.broadcast(per_priority), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            pct.alias("price_pct_rank"),
            cume.alias("price_cume_dist"),
        )
        # no final orderBy: scaling output, order-insensitive gate (guide §2.4)
    )


_PRICE_POSITION_SQL = """
SELECT o_orderkey, o_orderpriority,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       PERCENT_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)
         AS price_pct_rank,
       CUME_DIST() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)
         AS price_cume_dist
FROM orders
ORDER BY o_orderkey
"""


QUERIES = {
    "supplier_revenue_ranks": supplier_revenue_ranks,
    "customer_balance_quartiles": customer_balance_quartiles,
    "event_transitions": event_transitions,
    "user_event_sequences": user_event_sequences,
    "top_orders_per_priority": top_orders_per_priority,
    "supplier_weekly_revenue_ma": supplier_weekly_revenue_ma,
    "user_sessions": user_sessions,
    "session_window_stats": session_window_stats,
    "user_value_running": user_value_running,
    "order_price_position": order_price_position,
}

ORACLES = {
    "supplier_revenue_ranks": _SUPPLIER_RANKS_SQL,
    "customer_balance_quartiles": _QUARTILES_SQL,
    "event_transitions": _TRANSITIONS_SQL,
    "user_event_sequences": _SEQUENCES_SQL,
    "top_orders_per_priority": _TOP_ORDERS_SQL,
    "supplier_weekly_revenue_ma": _SUPPLIER_MA_SQL,
    "user_sessions": _SESSIONS_SQL,
    "session_window_stats": _SESSION_WINDOW_SQL,
    "user_value_running": _RUNNING_SQL,
    "order_price_position": _PRICE_POSITION_SQL,
}
