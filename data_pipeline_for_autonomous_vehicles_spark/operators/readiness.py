"""Corpus readiness scorecard: the single "can we train on this" table.

The eval-integrity and health gates exist as separate operators — embedding
drift (`similarity.embedding_drift_audit`), embedding coverage + orphan
join-keys (`similarity.embedding_coverage_audit`), near-dup train/holdout
leakage under the committed split policy (`dedup.split_leakage_compare`),
the decontamination policy's token cost (`dedup.decontamination_policy_sweep`),
and funnel vocabulary bias (`corpus.curation_vocab_impact`). A training run
does not read five reports; it reads ONE row per gate with the headline
number and a boolean verdict against a committed threshold, and blocks on
any ``pass = false``. This operator is that composition — pure reuse of the
existing frames (each gate's plan is built exactly once per run; nothing is
recomputed twice), each reduced to a 1-row aggregate and unioned.

Every headline is normalized to a "badness percent" so one rule covers the
table: ``pass ⇔ badness ≤ threshold_pct``, decided on the RAW badness
(recomputed from integer counts where the source report publishes a rounded
percent — a zero-tolerance gate must not let tiny-but-real badness round to
0.0000 and pass) and failing CLOSED on NULL (an empty input slice blocks
training rather than sailing through). ``headline_pct`` is the 4dp display
of the same raw value. Thresholds are committed module constants — the
point of the scorecard is that changing a gate's tolerance is a reviewed
diff here, not a notebook variable.

Scale (100 TB): the expensive inputs are the gate frames themselves, each
already audited for scale shape (posexplode dim cells, broadcast eval
shingles, capped band joins); the scorecard adds six 1-row aggregates and a
constant-size union — free. One Spark action materializes the whole table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import caching
from ..functions.scalars import round_half_up, sql_round_half_up

# committed gate tolerances (badness percent, pass when headline <= threshold)
DRIFT_MAX_DIM_PCT = 0.0      # no embedding dimension may drift (frozen quantizers)
COVERAGE_MAX_MISSING_PCT = 1.0   # worst source may miss <= 1% embeddings
ORPHAN_MAX_PCT = 0.0         # orphan embeddings mean join-key corruption
LEAKAGE_MAX_PCT = 0.0        # cluster-representative split must leak nothing
DECON_THETA = 0.2            # committed decontamination policy (grid member)
DECON_MAX_TOKEN_PCT = 5.0    # the policy may cost <= 5% of training tokens
VOCAB_LOST_MAX_PCT = 20.0    # worst language may lose <= 20% of vocabulary

# (order, gate, threshold) — the table's fixed spine
_GATES = (
    (1, "embedding_drift", DRIFT_MAX_DIM_PCT),
    (2, "embedding_coverage", COVERAGE_MAX_MISSING_PCT),
    (3, "embedding_orphans", ORPHAN_MAX_PCT),
    (4, "split_leakage", LEAKAGE_MAX_PCT),
    (5, "decontamination_cost", DECON_MAX_TOKEN_PCT),
    (6, "vocab_loss", VOCAB_LOST_MAX_PCT),
)


def _gate_row(order: int, gate: str, threshold: float, headline: DataFrame) -> DataFrame:
    """Shape a 1-row (h: double) frame into a scorecard row. The verdict
    compares the RAW headline (identical integer-sum/divide sequences on
    both engines), not the 4dp display rounding — a zero-tolerance gate
    must not let one leaked pair in a billion round to 0.0000 and pass —
    and fails CLOSED: a NULL headline (empty input slice, zero
    denominator) is `pass = false`, because "no data" is exactly when a
    train gate must block."""
    h = F.col("h")
    return headline.select(
        F.lit(order).cast("long").alias("gate_order"),
        F.lit(gate).alias("gate"),
        round_half_up(h, 4).alias("headline_pct"),
        F.lit(float(threshold)).alias("threshold_pct"),
        F.coalesce(h <= F.lit(float(threshold)), F.lit(False)).alias("pass"),
    )


def corpus_readiness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per readiness gate: normalized badness percent, committed
    threshold, boolean verdict. See module docstring; the committed
    DECON_THETA must be a `dedup.DECON_RATE_GRID` member (asserted) so the
    cost gate reads the same sweep the policy was chosen from."""
    from .corpus import curation_vocab_impact
    from .dedup import (
        DECON_RATE_GRID,
        decontamination_policy_sweep,
        split_leakage_compare,
    )
    from .similarity import embedding_coverage_audit, embedding_drift_audit

    assert DECON_THETA in DECON_RATE_GRID

    drift = embedding_drift_audit(spark, sf_dir).agg(
        (
            F.lit(100.0)
            * F.sum(F.col("drifted").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("h")
    )
    # two gates reduce the same 20-row audit — cache it so its full-outer
    # doc⋈embedding plan runs once
    cov_frame = caching.materialize(embedding_coverage_audit(spark, sf_dir), "corpus_readiness_report.cov")
    coverage = cov_frame.agg(
        F.max(
            F.when(
                F.col("n_docs") > 0,
                F.lit(100.0)
                * F.col("n_missing_embedding").cast("double")
                / F.col("n_docs").cast("double"),
            )
        ).alias("h")
    )
    orphans = cov_frame.agg(
        (
            F.lit(100.0)
            * F.sum("n_orphan_embeddings").cast("double")
            / (F.sum("n_with_embedding") + F.sum("n_orphan_embeddings")).cast("double")
        ).alias("h")
    )
    # zero-tolerance gate: recompute the share from the RAW counts — the
    # report's 6dp leaked_pct would round one-in-a-billion leakage to 0
    leak = (
        split_leakage_compare(spark, sf_dir)
        .filter(F.col("policy") == "cluster_representative")
        .select(
            F.when(
                F.col("n_pairs_live") > 0,
                F.lit(100.0)
                * F.col("n_cross_split").cast("double")
                / F.col("n_pairs_live").cast("double"),
            )
            .otherwise(F.lit(0.0))  # nothing live ⇒ nothing can leak
            .alias("h")
        )
    )
    decon = (
        decontamination_policy_sweep(spark, sf_dir)
        .filter(F.col("theta") == F.lit(DECON_THETA))
        .select(F.col("dropped_tokens_pct").alias("h"))
    )
    # raw counts, not the report's 6dp vocab_lost_frac (same rationale)
    vocab = curation_vocab_impact(spark, sf_dir).agg(
        F.max(
            F.lit(100.0)
            * F.col("vocab_lost").cast("double")
            / F.col("vocab_total").cast("double")
        ).alias("h")
    )

    frames = dict(
        embedding_drift=drift,
        embedding_coverage=coverage,
        embedding_orphans=orphans,
        split_leakage=leak,
        decontamination_cost=decon,
        vocab_loss=vocab,
    )
    out = None
    for order, gate, thr in _GATES:
        row = _gate_row(order, gate, thr, frames[gate])
        out = row if out is None else out.unionByName(row)
    return out.orderBy("gate_order")


def _sql_readiness() -> str:
    from .corpus import _sql_vocab_impact
    from .dedup import _sql_decon_policy_sweep, _sql_split_leakage
    from .similarity import _COVERAGE_AUDIT_SQL, _DRIFT_AUDIT_SQL

    heads = {
        "embedding_drift": f"""
  SELECT 100.0 * SUM(CASE WHEN drifted THEN 1 ELSE 0 END)
         / CAST(COUNT(*) AS DOUBLE) AS h
  FROM ({_DRIFT_AUDIT_SQL}) d""",
        "embedding_coverage": f"""
  SELECT MAX(CASE WHEN n_docs > 0 THEN
           100.0 * CAST(n_missing_embedding AS DOUBLE) / CAST(n_docs AS DOUBLE)
         END) AS h
  FROM ({_COVERAGE_AUDIT_SQL}) c""",
        "embedding_orphans": f"""
  SELECT 100.0 * CAST(SUM(n_orphan_embeddings) AS DOUBLE)
         / CAST(SUM(n_with_embedding) + SUM(n_orphan_embeddings) AS DOUBLE) AS h
  FROM ({_COVERAGE_AUDIT_SQL}) c2""",
        "split_leakage": f"""
  SELECT CASE WHEN n_pairs_live > 0 THEN
           100.0 * CAST(n_cross_split AS DOUBLE) / CAST(n_pairs_live AS DOUBLE)
         ELSE 0.0 END AS h
  FROM ({_sql_split_leakage()}) l
  WHERE policy = 'cluster_representative'""",
        "decontamination_cost": f"""
  SELECT dropped_tokens_pct AS h
  FROM ({_sql_decon_policy_sweep()}) ds
  WHERE theta = {DECON_THETA!r}""",
        "vocab_loss": f"""
  SELECT MAX(100.0 * CAST(vocab_lost AS DOUBLE) / CAST(vocab_total AS DOUBLE)) AS h
  FROM ({_sql_vocab_impact()}) v""",
    }
    arms = []
    for order, gate, thr in _GATES:
        r = sql_round_half_up("h", 4)
        arms.append(
            f"SELECT CAST({order} AS BIGINT) AS gate_order, '{gate}' AS gate,"
            f" {r} AS headline_pct, {float(thr)!r}::DOUBLE AS threshold_pct,"
            f" COALESCE(h <= {float(thr)!r}::DOUBLE, FALSE) AS pass"
            f" FROM ({heads[gate]}) s_{gate}"
        )
    return "SELECT * FROM (\n" + "\nUNION ALL\n".join(arms) + "\n) t ORDER BY gate_order"


QUERIES = {"corpus_readiness_report": corpus_readiness_report}

ORACLES = {"corpus_readiness_report": _sql_readiness()}
