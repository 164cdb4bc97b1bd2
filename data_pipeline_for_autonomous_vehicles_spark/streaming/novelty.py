"""Streaming incremental dedup: novelty admission on a document stream.

The batch `operators.dedup.minhash_delta_probe` answers "is this new batch
near-dup of the corpus" for a batch at rest; this is the same admission
decision made ON THE STREAM — the shape a live crawl ingest runs, where
documents arrive continuously and each must be admitted or dropped against
the corpus built so far. It upgrades the reference's consumer loop (buffer
→ batch INSERT, `/root/reference/src/processing/consumer.py:133-149`),
which admits everything unconditionally.

Design (stream-static probe via foreachBatch):
  - the corpus band INDEX is built once, batch-side, and eagerly
    materialized (`caching.checkpoint`) before the stream starts — at 100 TB
    this is the persisted band table bucketed by (band_id, band_hash);
  - each micro-batch runs the exact batch probe machinery
    (`dedup.probe_band_index`: signatures → band postings → index
    equi-join → per-doc verdict) — stream state stays EMPTY (no watermark,
    no aggregation state): all cross-batch knowledge lives in the index,
    so any micro-batch chunking yields the same per-doc verdicts
    (proven by the stream≡batch pytest and the shared DuckDB oracle);
  - per-batch verdicts land through the sink callback; the default driver
    accumulation here stands in for the parquet/alert sink a production
    run would use (verdicts are one narrow row per delta doc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import caching
from ..operators.dedup import _is_delta, corpus_band_index, probe_band_index

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

VERDICT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_corpus_matches", LongType()),
        StructField("first_match_doc", LongType()),
        StructField("is_novel", LongType()),
    ]
)


def stream_documents(
    spark: SparkSession, path: str, glob: str = "documents.parquet"
) -> DataFrame:
    """readStream over a documents parquet directory (explicit schema, as
    the file streaming source requires). The default glob picks the single
    `documents.parquet` out of an sf_dir; tests pass `*.parquet` with a
    dir of split files to force genuine multi-batch runs."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", glob)
        .load(path)
    )


def run_novelty_probe(
    doc_stream: DataFrame,
    index: DataFrame,
    sink,
) -> None:
    """Run the AvailableNow probe: for every micro-batch of documents,
    compute verdicts against `index` and hand the batch's verdict FRAME to
    `sink(batch_verdicts_df, batch_id)`. The index must already be
    materialized (checkpointed/persisted) — otherwise every micro-batch
    would rebuild it, the exact per-iteration re-read the component loop
    also guards against."""

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sink(probe_band_index(batch_df, index), batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(_probe)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_novelty_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry form: stream the delta slice of `documents` (the
    doc_id % DELTA_MOD == DELTA_MOD-1 "new crawl" docs) through the
    micro-batch probe against the static corpus index; verdicts are
    identical to the batch `minhash_delta_probe` — same columns, same
    values, same DuckDB oracle."""
    import atexit
    import shutil
    import tempfile

    index = caching.checkpoint(corpus_band_index(spark, sf_dir), "streaming_novelty_probe.index")
    stream = stream_documents(spark, sf_dir).where(_is_delta())
    # Verdicts append to a scratch parquet dir inside each micro-batch —
    # executor-side writes, nothing funnels through the driver (r4 verdict
    # task 3 removed the collect() this adapter used to do). At 100 TB this
    # IS the production sink shape: append to the verdict table, then read
    # it back for downstream admission joins. The scratch dir must outlive
    # this call (the returned DataFrame reads it lazily), so cleanup is
    # process-exit scoped — repeated sweeps in one process don't pile up
    # dirs past the process lifetime.
    out_dir = tempfile.mkdtemp(prefix="novelty_verdicts_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)

    def _sink(verdicts: DataFrame, batch_id: int) -> None:
        verdicts.write.mode("append").parquet(out_dir)

    run_novelty_probe(stream, index, _sink)
    out = spark.read.schema(VERDICT_SCHEMA).parquet(out_dir)
    return out.select(
        "doc_id",
        "n_corpus_matches",
        "first_match_doc",
        F.col("is_novel").cast("int").alias("is_novel"),
    ).orderBy("doc_id")


# --- streaming curation admission (round-6 verdict task 6) -------------------


def corpus_bigram_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The static (bigram, corpus_count) fluency model built from the full
    corpus at rest — the KenLM-style artifact a streaming admission gate
    loads before the stream starts. Eagerly materialized by the caller
    (localCheckpoint), like the band index."""
    from ..catalog import load_table
    from ..operators.text import _bigram_posts

    docs = load_table(spark, sf_dir, "documents")
    return _bigram_posts(docs).groupBy("bigram").agg(
        F.sum("occ").alias("corpus_count")
    )


def curation_verdict_frame(
    batch_docs: DataFrame, index: DataFrame, bigram_model: DataFrame
) -> DataFrame:
    """Per-doc curation verdict for ANY (doc_id, text, lang, source,
    n_chars) frame — the batch funnel's stage ladder with the near-dup
    stage replaced by its streaming analogue (novelty against the static
    band index; cluster-canonical election needs the whole corpus, novelty
    needs only the index):

      not novel → dropped_near_dup; quality < cutoff → dropped_quality;
      classifier reject → dropped_classifier; fluency below floor (against
      the static bigram model) → dropped_fluency; else kept.

    Quality and classifier are pure per-row expressions; fluency joins the
    static model; novelty probes the static index — so verdicts depend
    ONLY on (doc, static state), never on which micro-batch a doc landed
    in: any chunking yields identical verdicts (pinned by pytest, same
    argument as the novelty probe). Shared verbatim by the batch twin and
    the foreachBatch stream."""
    from ..operators.corpus import FLUENCY_FLOOR
    from ..operators.dedup import QUALITY_CUTOFF, probe_band_index
    from ..operators.text import _clf_frame, _fluency_frame, _quality_frame

    probe = probe_band_index(batch_docs, index).select("doc_id", "is_novel")
    q = _quality_frame(batch_docs).select("doc_id", "quality_score")
    c = _clf_frame(batch_docs).select("doc_id", "keep_flag")
    fl = _fluency_frame(batch_docs, bigram_model).select("doc_id", "fluency_score")
    joined = (
        batch_docs.select("doc_id", "lang")
        .join(probe, "doc_id")
        .join(q, "doc_id")
        .join(c, "doc_id")
        .join(fl, "doc_id", "left")
    )
    verdict = (
        F.when(F.col("is_novel") == 0, F.lit("dropped_near_dup"))
        .when(F.col("quality_score") < F.lit(QUALITY_CUTOFF), F.lit("dropped_quality"))
        .when(F.col("keep_flag") != 1, F.lit("dropped_classifier"))
        .when(
            F.col("fluency_score").isNull()
            | (F.col("fluency_score") < F.lit(FLUENCY_FLOOR)),
            F.lit("dropped_fluency"),
        )
        .otherwise(F.lit("kept"))
    )
    return joined.select("doc_id", "lang", verdict.alias("verdict"))


CURATION_VERDICT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("verdict", StringType()),
    ]
)


def streaming_curation_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry form: stream the delta slice of `documents` through the
    FULL curation admission — novelty probe + heuristic quality + hashed
    classifier + bigram fluency — so a streamed micro-batch gets the same
    keep/drop verdict (and the same first-dropping-stage attribution) the
    batch funnel computes, not just the dedup gate. Static state (band
    index, bigram model) is materialized once pre-stream; per-batch
    verdicts append executor-side to a scratch parquet sink, exactly like
    `streaming_novelty_probe`."""
    import atexit
    import shutil
    import tempfile

    index = caching.checkpoint(corpus_band_index(spark, sf_dir), "streaming_curation_verdicts.index")
    model = caching.checkpoint(corpus_bigram_model(spark, sf_dir), "streaming_curation_verdicts.model")
    stream = stream_documents(spark, sf_dir).where(_is_delta())
    out_dir = tempfile.mkdtemp(prefix="curation_verdicts_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        curation_verdict_frame(batch_df, index, model).write.mode("append").parquet(
            out_dir
        )

    q = stream.writeStream.foreachBatch(_probe).trigger(availableNow=True).start()
    q.awaitTermination()
    out = spark.read.schema(CURATION_VERDICT_SCHEMA).parquet(out_dir)
    return out.select("doc_id", "lang", "verdict").orderBy("doc_id")


# --- streaming boilerplate admission ------------------------------------------


def corpus_boiler_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The static boilerplate digest index over the at-rest corpus slice:
    segment digests whose corpus doc-frequency already clears
    BOILERPLATE_DF. Built once pre-stream and eagerly materialized by the
    caller, like the band index — at 100 TB this is a persisted table
    bucketed by digest."""
    from ..catalog import load_table
    from ..functions.scalars import tokens
    from ..operators.corpus import _boiler_digests, _nonempty, _segment_rows

    docs = _nonempty(load_table(spark, sf_dir, "documents")).filter(~_is_delta())
    segs = _segment_rows(docs.select("doc_id", tokens().alias("toks")))
    return _boiler_digests(segs)


def boilerplate_gate_frame(batch_docs: DataFrame, boiler_index: DataFrame) -> DataFrame:
    """Per-doc on-sight boilerplate verdict for ANY documents frame: which
    of the doc's segments are ALREADY boilerplate in the static index, and
    the token cut the gate would make. Depends only on (doc, static
    index), so any micro-batch chunking yields identical verdicts.

    Deliberately narrower than `boilerplate_delta_probe`: NEWLY-minted
    boilerplate (segments the delta batch itself tips over the threshold)
    is not decidable on the stream without cross-batch state and a second
    look at already-admitted docs — the stream gate cuts on sight, and the
    batch probe runs as the end-of-ingest reconciliation that catches the
    delta-minted remainder. This split (causal gate + batch reconcile) is
    the production shape; the pytest pins gate ≡ the probe's `known`
    component exactly."""
    from ..functions.scalars import tokens
    from ..operators.corpus import _nonempty, _segment_rows

    from ..functions.scalars import round_half_up

    base = _nonempty(batch_docs).select("doc_id", tokens().alias("toks"))
    segs = _segment_rows(base)
    flagged = segs.join(
        boiler_index.withColumn("boiler", F.lit(1)), "digest", "left"
    ).withColumn("boiler", F.coalesce("boiler", F.lit(0)))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum("boiler").cast("long").alias("n_known_boiler"),
            F.sum("ntok").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("boiler") == 1, F.col("ntok")).otherwise(0))
            .cast("long")
            .alias("n_cut_tokens"),
        )
        .select(
            "doc_id",
            "n_segments",
            "n_known_boiler",
            "n_tokens",
            "n_cut_tokens",
            round_half_up(
                F.col("n_cut_tokens").cast("double") / F.col("n_tokens").cast("double"),
                4,
            ).alias("cut_frac"),
        )
    )


BOILER_GATE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_segments", LongType()),
        StructField("n_known_boiler", LongType()),
        StructField("n_tokens", LongType()),
        StructField("n_cut_tokens", LongType()),
        StructField("cut_frac", DoubleType()),
    ]
)


def streaming_boilerplate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry form: stream the delta slice of `documents` through the
    on-sight boilerplate gate against the static corpus digest index;
    per-batch verdicts append executor-side to a scratch parquet sink,
    exactly like the other streaming admission entries."""
    import atexit
    import shutil
    import tempfile

    index = caching.checkpoint(corpus_boiler_index(spark, sf_dir), "streaming_boilerplate_gate.index")
    stream = stream_documents(spark, sf_dir).where(_is_delta())
    out_dir = tempfile.mkdtemp(prefix="boiler_gate_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        boilerplate_gate_frame(batch_df, index).write.mode("append").parquet(out_dir)

    q = stream.writeStream.foreachBatch(_probe).trigger(availableNow=True).start()
    q.awaitTermination()
    out = spark.read.schema(BOILER_GATE_SCHEMA).parquet(out_dir)
    return out.orderBy("doc_id")


QUERIES = {
    "streaming_novelty_probe": streaming_novelty_probe,
    "streaming_curation_verdicts": streaming_curation_verdicts,
    "streaming_boilerplate_gate": streaming_boilerplate_gate,
}


def _oracles():
    from ..operators.dedup import _sql_delta_probe
    from ..operators.text import _CLF_SQL, _FLUENCY_SQL, _QUALITY_SQL

    def _curation_sql() -> str:
        from ..operators.corpus import FLUENCY_FLOOR
        from ..operators.dedup import QUALITY_CUTOFF

        return f"""
WITH probe AS (SELECT doc_id, is_novel FROM ({_sql_delta_probe()}) p),
q AS (SELECT doc_id, quality_score FROM ({_QUALITY_SQL}) x),
c AS (SELECT doc_id, keep_flag FROM ({_CLF_SQL}) x),
f AS (SELECT doc_id, fluency_score FROM ({_FLUENCY_SQL}) x)
SELECT d.doc_id, d.lang,
       CASE WHEN p.is_novel = 0 THEN 'dropped_near_dup'
            WHEN q.quality_score < {QUALITY_CUTOFF} THEN 'dropped_quality'
            WHEN c.keep_flag <> 1 THEN 'dropped_classifier'
            WHEN f.fluency_score IS NULL OR f.fluency_score < {FLUENCY_FLOOR}
              THEN 'dropped_fluency'
            ELSE 'kept' END AS verdict
FROM probe p
JOIN documents d ON d.doc_id = p.doc_id
JOIN q ON q.doc_id = p.doc_id
JOIN c ON c.doc_id = p.doc_id
LEFT JOIN f ON f.doc_id = p.doc_id
ORDER BY d.doc_id
"""

    def _boiler_gate_sql() -> str:
        from ..operators.corpus import _SEG_SQL_CTES, _sql_boiler_digests
        from ..operators.dedup import DELTA_MOD
        from ..functions.scalars import sql_round_half_up

        d = DELTA_MOD
        corpus_segs = f"(SELECT * FROM segs WHERE doc_id % {d} <> {d - 1}) cs"
        return f"""
WITH {_SEG_SQL_CTES},
boiler AS ({_sql_boiler_digests(corpus_segs)}),
flagged AS (
  SELECT s.doc_id, s.ntok,
         CASE WHEN b.digest IS NOT NULL THEN 1 ELSE 0 END AS boiler
  FROM segs s LEFT JOIN boiler b USING (digest)
  WHERE s.doc_id % {d} = {d - 1})
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(boiler) AS BIGINT) AS n_known_boiler,
       CAST(SUM(ntok) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN boiler = 1 THEN ntok ELSE 0 END) AS BIGINT)
         AS n_cut_tokens,
       {sql_round_half_up('CAST(SUM(CASE WHEN boiler = 1 THEN ntok ELSE 0 END) AS DOUBLE) / CAST(SUM(ntok) AS DOUBLE)', 4)}
         AS cut_frac
FROM flagged
GROUP BY doc_id
ORDER BY doc_id
"""

    return {
        "streaming_novelty_probe": _sql_delta_probe(),
        "streaming_curation_verdicts": _curation_sql(),
        "streaming_boilerplate_gate": _boiler_gate_sql(),
    }


ORACLES = _oracles()
