"""Incremental ingest: a delta batch of new documents taken ALL the way from
raw text to the curated-shard APPEND artifact, probing already-ingested
corpus indexes instead of rebuilding anything (the round-8 capstone that
closes the O(delta) loop the probe triad opened).

The measuring probes (`dedup.minhash_delta_probe`,
`corpus.boilerplate_delta_probe`, `similarity.incremental_semdedup_probe`)
each grade ONE admission signal for the deterministic
``doc_id % DELTA_MOD == DELTA_MOD - 1`` "new crawl" slice. This module is
the acting composition: the same delta slice pushed through the FULL
curation ladder —

  1. **novelty** (MinHash band probe against the capped corpus band index,
     PLUS in-batch band collisions — a batch that near-duplicates itself
     must not admit both copies),
  2. **quality** (the C4-style heuristic, a pure per-row expression —
     scored on sight),
  3. **classifier** (hashed-linear keep flag, per-row fold — on sight),
  4. **fluency** (corpus bigram LM *updated with the delta's own counts*:
     the count index is digest-keyed, so the delta increments it in
     O(delta) and each delta doc grades against exactly the counts a full
     rebuild would see),
  5. **boilerplate** (segment doc-frequency probe — known df_corpus ≥
     BOILERPLATE_DF plus segments the batch itself tips over the
     threshold; a doc that is mostly chrome is rejected on sight),

then ExactSubstr span-cutting against the corpus window index (per-digest
MIN doc_id — presence alone is not enough when ids are not ingest-ordered),
hash-shard assignment, and the per-shard APPEND balance sheet.

**Append ≡ rebuild** (pytest-pinned): every ADMITTED doc's manifest row
(shard, token/byte counts, span-cut text) is byte-identical to the row a
full `corpus.curated_shard_manifest` rebuild over corpus+delta produces for
it. The gates guarantee this by construction: an admitted doc has NO band
collision anywhere, so the rebuild's near-dup clustering makes it a
singleton canonical; quality/classifier are pure per-row; the incremental
fluency counts equal the rebuild's by the index-update identity; and
``min(corpus_min, delta_min) < doc_id`` is exactly the rebuild's
keep-first-occurrence window rule split across the two slices. The gates
are deliberately one-sided: they may REJECT a doc a rebuild would keep
(e.g. the batch collides with a corpus doc of lower quality, where a
rebuild would re-canonicalize the cluster), never admit one it would drop
— admission is a monotone append, re-canonicalization belongs to the next
full rebuild.

Scale (100 TB): every corpus-side input here is ONE digest/band-keyed
aggregate — the band index, the window MIN-id index, the segment df index,
the bigram count index — each persisted and bucketed by its key in a real
ingest so a new batch shuffles only its own postings; nothing rescans or
re-pairs the corpus. In this repo the indexes are derived on the fly from
the parquet (the probe cost at test scale), but the plan shape is the
persisted-index shape: delta postings equi-join index keys, no pairwise
corpus work anywhere.
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
    sql_round_half_up,
    sql_tokens,
    tokens,
)

# reject a delta doc on sight when boilerplate segments would cut at least
# NUM/DEN of its tokens (integer cross-multiply — no float threshold drift)
BOILER_REJECT_NUM = 1
BOILER_REJECT_DEN = 2

_LONG_MAX = 2**63 - 1  # "no corpus occurrence" sentinel for the MIN-id probe

# first-failing-gate order — the ladder order of `corpus.curation_funnel_report`
# with the on-sight boilerplate gate appended
_GATES = ("novelty", "quality", "classifier", "fluency", "boilerplate")


def _admission_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsorted per-delta-doc admission frame: (doc_id, verdict, shard,
    n_tokens, n_bytes, kept_text). verdict is the FIRST failing gate
    (`rejected_novelty` / `rejected_quality` / `rejected_classifier` /
    `rejected_fluency` / `rejected_boilerplate`) or `admitted`; counts,
    bytes and the span-cut text are populated for admitted docs only
    (rejected docs appear with zeros — the audit trail row). Shared by
    `incremental_admission_manifest` (adds the sort) and
    `incremental_shard_update` (aggregates it)."""
    from .corpus import (
        FLUENCY_FLOOR,
        _boiler_delta_frame,
        _cut_intervals,
        _excise,
        _nonempty,
        _positioned_windows,
    )
    from .dedup import (
        MAX_BUCKET,
        QUALITY_CUTOFF,
        _banded,
        _cap_buckets,
        _is_delta,
        _minhash_signatures,
    )
    from .text import N_SHARDS, _bigram_posts, _clf_frame, _fluency_frame, _quality_frame

    docs = load_table(spark, sf_dir, "documents")
    delta = docs.filter(_is_delta())

    # gate 1 — novelty: one cached signature pass feeds the corpus index and
    # the delta postings (the batch shortcut; a real ingest reads the
    # persisted band index and computes signatures for the delta only)
    sigs = caching.materialize(_minhash_signatures(spark, sf_dir), "admission_frame.sigs")
    bands = _banded(sigs)
    corpus_idx = _cap_buckets(
        bands.filter(~_is_delta()), ["band_id", "band_hash"], MAX_BUCKET
    ).select("band_id", "band_hash").distinct()
    delta_bands = bands.filter(_is_delta())
    crowded = (
        delta_bands.groupBy("band_id", "band_hash")
        .agg(F.countDistinct("doc_id").alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("band_id", "band_hash")
    )
    # a bucket key is "risky" if the corpus index holds it or >=2 delta docs
    # share it; one semi-join marks every non-novel delta doc
    risky = corpus_idx.unionByName(crowded)
    not_novel = (
        delta_bands.join(risky, ["band_id", "band_hash"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )

    # gates 2+3 — pure per-row expressions, scored on sight
    qual = _quality_frame(delta).select("doc_id", "quality_score")
    clf = _clf_frame(delta).select("doc_id", "keep_flag")

    # gate 4 — fluency against the UPDATED bigram count index: for every
    # bigram the delta touches, count = corpus index value + the delta's own
    # occurrences — exactly the count a full corpus+delta rebuild sees, at
    # O(delta) probe cost (bigrams the delta never uses are irrelevant to
    # its scores and never read)
    corpus_counts = (
        _bigram_posts(docs.filter(~_is_delta()))
        .groupBy("bigram")
        .agg(F.sum("occ").alias("_c_corpus"))
    )
    delta_counts = (
        _bigram_posts(delta).groupBy("bigram").agg(F.sum("occ").alias("_c_delta"))
    )
    combined = delta_counts.join(corpus_counts, "bigram", "left").select(
        "bigram",
        (F.coalesce("_c_corpus", F.lit(0)) + F.col("_c_delta")).alias("corpus_count"),
    )
    flu = _fluency_frame(delta, combined).select("doc_id", "fluency_score")

    # gate 5 — on-sight boilerplate share (known + batch-minted, the
    # `boilerplate_delta_probe` rule) as a doc-level rejection
    boil = _boiler_delta_frame(spark, sf_dir).select(
        "doc_id",
        F.col("n_tokens").alias("_b_tot"),
        F.col("n_cut_tokens").alias("_b_cut"),
    )

    # span cut — the corpus window index carries MIN doc_id per digest (not
    # mere presence: ids are not ingest-ordered, and the rebuild's
    # keep-first rule is min-id); combined with the batch's own min the cut
    # condition equals the rebuild's exactly
    # NOTE (round 8, measured): a digest-partitioned window rewrite of this
    # block (one pass, conditional corpus/delta MINs) was tried and is
    # SLOWER here (14.6 → 26.9 s at ~sf1): the join form's three `wins`
    # evaluations are each heavily filtered or partially aggregated BEFORE
    # their shuffles (c_keep ships ~distinct digests, d_keep/dwins ship
    # only delta windows), while the window form shuffles + sorts the
    # ENTIRE corpus window frame through one exchange. Unlike
    # `_removal_frame` (whose every row participates), the delta split
    # makes recompute-cheap-and-filter the right trade.
    base_all = _nonempty(docs).select("doc_id", tokens().alias("toks"))
    wins = _positioned_windows(base_all)
    c_keep = wins.filter(~_is_delta()).groupBy("digest").agg(
        F.min("doc_id").alias("_c_min")
    )
    # the DELTA window postings feed two consumers (the per-digest batch
    # min and the probe side of the cut join) — cache the small
    # delta-filtered frame so its tokenize + digest pass runs once
    # (round-9 verdict task 9, guide §1.2; the corpus-side c_keep pass is
    # a single consumer and stays uncached — the full-corpus window
    # rewrite measured slower, see the NOTE above)
    dwins = caching.materialize(wins.filter(_is_delta()), "admission_frame.dwins")
    d_keep = dwins.groupBy("digest").agg(F.min("doc_id").alias("_d_min"))
    cut = (
        dwins.join(c_keep, "digest", "left")
        .join(d_keep, "digest")
        .filter(
            F.least(F.coalesce(F.col("_c_min"), F.lit(_LONG_MAX)), F.col("_d_min"))
            < F.col("doc_id")
        )
        .select("doc_id", "pos")
    )
    rem = _excise(base_all.filter(_is_delta()), _cut_intervals(cut)).select(
        "doc_id", "kept_toks"
    )

    per = (
        delta.select("doc_id")
        .join(not_novel, "doc_id", "left")
        .join(qual, "doc_id")
        .join(clf, "doc_id")
        .join(flu, "doc_id", "left")
        .join(boil, "doc_id", "left")
        .join(rem, "doc_id", "left")
    )
    verdict = (
        F.when(F.col("_hit").isNotNull(), F.lit("rejected_novelty"))
        .when(F.col("quality_score") < F.lit(QUALITY_CUTOFF), F.lit("rejected_quality"))
        .when(F.col("keep_flag") != 1, F.lit("rejected_classifier"))
        .when(
            F.col("fluency_score").isNull()
            | (F.col("fluency_score") < F.lit(FLUENCY_FLOOR)),
            F.lit("rejected_fluency"),
        )
        .when(
            (F.coalesce("_b_tot", F.lit(0)) > 0)
            & (
                F.coalesce("_b_cut", F.lit(0)) * F.lit(BOILER_REJECT_DEN)
                >= F.col("_b_tot") * F.lit(BOILER_REJECT_NUM)
            ),
            F.lit("rejected_boilerplate"),
        )
        .otherwise(F.lit("admitted"))
    )
    adm = F.col("verdict") == "admitted"
    ktext = F.when(
        adm, F.coalesce(F.array_join("kept_toks", " "), F.lit(""))
    ).otherwise(F.lit(""))
    return (
        per.withColumn("verdict", verdict)
        .select(
            "doc_id",
            "verdict",
            (portable_hash(F.col("doc_id").cast("string")) % N_SHARDS)
            .cast("long")
            .alias("shard"),
            F.when(adm, F.coalesce(F.size("kept_toks"), F.lit(0)))
            .otherwise(0)
            .cast("long")
            .alias("n_tokens"),
            F.length(ktext).cast("long").alias("n_bytes"),
            ktext.alias("kept_text"),
        )
    )


def incremental_admission_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document APPEND artifact of the incremental ingest: one row
    per DELTA doc with its first-failing-gate verdict, its shard id, and —
    for admitted docs — the span-cut text plus token/byte counts the shard
    writer appends (`df.filter("verdict = 'admitted'")
    .repartition(N_SHARDS, 'shard').write.mode('append')...`). Rejected
    docs appear with zeroed payload: the row IS the audit trail a crawl
    operator reads when a batch's admission rate drops.

    Admitted rows are byte-identical to the full-rebuild
    `curated_shard_manifest` rows for the same docs (pytest-pinned; see the
    module docstring for why the gates force this). Scale: O(delta)
    index probes only — module docstring. No final orderBy: per-delta-doc
    output carrying the span-cut text; the driver comparator is
    order-insensitive and a real append writer repartitions by shard
    (guide §2.4)."""
    return _admission_frame(spark, sf_dir)


def incremental_shard_update(
    spark: SparkSession, sf_dir: str, frame: DataFrame | None = None
) -> DataFrame:
    """The per-shard balance sheet of one incremental append: for every
    shard (plus a ``shard = -1`` batch-total rollup row) the delta docs
    that hash there, how many were admitted, the rejection count per gate
    (first-failing attribution, same ladder order as the funnel), the
    token/byte mass actually appended, and the append's balance — each
    shard's share of the appended tokens and its deviation from the uniform
    1/N_SHARDS (a hot shard here means the append is skewing the layout;
    the post-append FILE state is `shard_file_audit`'s job). Rejected docs
    keep their would-be shard, so a gate that targets one shard's content
    is visible too.

    Scale: the per-doc admission frame is O(delta) index probes; this
    report is one ROLLUP hash-agg on a 16-value key plus a 1-row broadcast
    for the shares. Inject ``frame=_admission_frame(...)`` (cached) when a
    job also materializes the manifest — the gate pass then runs once.
    """
    from .text import N_SHARDS

    per = _admission_frame(spark, sf_dir) if frame is None else frame
    adm = F.col("verdict") == "admitted"
    g = per.rollup("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_delta_docs"),
        F.sum(adm.cast("long")).cast("long").alias("n_admitted"),
        *[
            F.sum((F.col("verdict") == f"rejected_{k}").cast("long"))
            .cast("long")
            .alias(f"n_rej_{k}")
            for k in _GATES
        ],
        F.sum(F.when(adm, F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("n_tokens_appended"),
        F.sum(F.when(adm, F.col("n_bytes")).otherwise(0))
        .cast("long")
        .alias("n_bytes_appended"),
    )
    # the batch token total IS the rollup's grand-total row — cache the
    # 17-row aggregate so reading it twice (rows + total) runs the whole
    # admission plan once, not twice
    g = caching.materialize(g, "incremental_shard_update.g")
    tot = g.filter(F.col("shard").isNull()).select(
        F.col("n_tokens_appended").alias("_tot_tok")
    )
    share_raw = F.col("n_tokens_appended").cast("double") / F.col("_tot_tok").cast(
        "double"
    )
    sharey = F.col("shard").isNotNull() & (F.col("_tot_tok") > 0)
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            F.coalesce(F.col("shard"), F.lit(-1)).cast("long").alias("shard"),
            "n_delta_docs",
            "n_admitted",
            *[f"n_rej_{k}" for k in _GATES],
            "n_tokens_appended",
            "n_bytes_appended",
            F.when(sharey, round_half_up(share_raw, 6)).alias("append_tok_share"),
            F.when(sharey, round_half_up(share_raw - F.lit(1.0 / N_SHARDS), 6)).alias(
                "share_dev"
            ),
        )
        .orderBy("shard")
    )


def _sql_admission_manifest() -> str:
    from .corpus import (
        FLUENCY_FLOOR,
        PASSAGE_TOKENS,
        _sql_boiler_delta,
    )
    from .dedup import (
        DELTA_MOD,
        MAX_BUCKET,
        QUALITY_CUTOFF,
        _sql_banded_cte,
        _sql_minhash_cte,
    )
    from .text import _CLF_SQL, _FLUENCY_SQL, _QUALITY_SQL, N_SHARDS

    d, w = DELTA_MOD, PASSAGE_TOKENS
    return f"""
WITH {_sql_minhash_cte()},
{_sql_banded_cte()},
corpus_idx AS (
  SELECT band_id, band_hash FROM banded WHERE doc_id % {d} <> {d - 1}
  GROUP BY band_id, band_hash HAVING COUNT(*) <= {MAX_BUCKET}),
delta_bands AS (SELECT * FROM banded WHERE doc_id % {d} = {d - 1}),
risky AS (
  SELECT band_id, band_hash FROM corpus_idx
  UNION ALL
  SELECT band_id, band_hash FROM delta_bands
  GROUP BY band_id, band_hash HAVING COUNT(DISTINCT doc_id) >= 2),
nn AS (
  SELECT DISTINCT db.doc_id
  FROM delta_bands db JOIN risky r USING (band_id, band_hash)),
qual AS (SELECT doc_id, quality_score FROM ({_QUALITY_SQL}) q),
clf AS (SELECT doc_id, keep_flag FROM ({_CLF_SQL}) c),
flu AS (SELECT doc_id, fluency_score FROM ({_FLUENCY_SQL}) f),
boil AS (SELECT doc_id, n_tokens AS b_tot, n_cut_tokens AS b_cut
         FROM ({_sql_boiler_delta()}) bb),
basex AS (SELECT doc_id, {sql_tokens()} AS toks
          FROM documents WHERE trim(text) <> ''),
winsx AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(toks[i : i + {w} - 1], ' ')) AS digest
  FROM basex, LATERAL unnest(range(1, len(toks) - {w} + 2)) u(i)
  WHERE len(toks) >= {w}),
ck AS (SELECT digest, MIN(doc_id) AS m FROM winsx
       WHERE doc_id % {d} <> {d - 1} GROUP BY digest),
dwins AS (SELECT * FROM winsx WHERE doc_id % {d} = {d - 1}),
dk AS (SELECT digest, MIN(doc_id) AS m FROM dwins GROUP BY digest),
cutw AS (
  SELECT dw.doc_id, dw.pos
  FROM dwins dw LEFT JOIN ck ON ck.digest = dw.digest
  JOIN dk ON dk.digest = dw.digest
  WHERE LEAST(COALESCE(ck.m, {_LONG_MAX}), dk.m) < dw.doc_id),
ivsx AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + {w} - 1 AS e
  FROM (SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM cutw) g2
  GROUP BY doc_id, grp),
dtok AS (
  SELECT b.doc_id, CAST(i AS BIGINT) AS i, toks[i] AS tok
  FROM basex b, LATERAL unnest(range(1, len(toks) + 1)) u(i)
  WHERE b.doc_id % {d} = {d - 1}),
dflag AS (
  SELECT t.doc_id, t.i, t.tok,
         NOT EXISTS (SELECT 1 FROM ivsx v
                     WHERE v.doc_id = t.doc_id AND t.i BETWEEN v.s AND v.e)
           AS kept
  FROM dtok t),
remx AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_tok,
         COALESCE(string_agg(CASE WHEN kept THEN tok END, ' ' ORDER BY i), '')
           AS ktext
  FROM dflag GROUP BY doc_id),
verd AS (
  SELECT dd.doc_id,
         CASE WHEN nn.doc_id IS NOT NULL THEN 'rejected_novelty'
              WHEN q.quality_score < {QUALITY_CUTOFF} THEN 'rejected_quality'
              WHEN c.keep_flag <> 1 THEN 'rejected_classifier'
              WHEN f.fluency_score IS NULL OR f.fluency_score < {FLUENCY_FLOOR}
                THEN 'rejected_fluency'
              WHEN COALESCE(b.b_tot, 0) > 0
                   AND COALESCE(b.b_cut, 0) * {BOILER_REJECT_DEN}
                       >= b.b_tot * {BOILER_REJECT_NUM}
                THEN 'rejected_boilerplate'
              ELSE 'admitted' END AS verdict,
         r.kept_tok, r.ktext
  FROM (SELECT doc_id FROM documents WHERE doc_id % {d} = {d - 1}) dd
  LEFT JOIN nn ON nn.doc_id = dd.doc_id
  JOIN qual q ON q.doc_id = dd.doc_id
  JOIN clf c ON c.doc_id = dd.doc_id
  LEFT JOIN flu f ON f.doc_id = dd.doc_id
  LEFT JOIN boil b ON b.doc_id = dd.doc_id
  LEFT JOIN remx r ON r.doc_id = dd.doc_id)
SELECT doc_id, verdict,
       {sql_portable_hash("CAST(doc_id AS VARCHAR)")} % {N_SHARDS} AS shard,
       CAST(CASE WHEN verdict = 'admitted' THEN COALESCE(kept_tok, 0)
                 ELSE 0 END AS BIGINT) AS n_tokens,
       CAST(CASE WHEN verdict = 'admitted' THEN len(COALESCE(ktext, ''))
                 ELSE 0 END AS BIGINT) AS n_bytes,
       CASE WHEN verdict = 'admitted' THEN COALESCE(ktext, '') ELSE '' END
         AS kept_text
FROM verd
ORDER BY doc_id
"""


def _sql_shard_update() -> str:
    from .text import N_SHARDS

    rej = ",\n         ".join(
        f"CAST(SUM(CASE WHEN verdict = 'rejected_{k}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_rej_{k}"
        for k in _GATES
    )
    share = "CAST(n_tokens_appended AS DOUBLE) / CAST(t.tot_tok AS DOUBLE)"
    return f"""
WITH per AS (SELECT * FROM ({_sql_admission_manifest()}) m),
tot AS (SELECT SUM(CASE WHEN verdict = 'admitted' THEN n_tokens ELSE 0 END)
          AS tot_tok FROM per),
g AS (
  SELECT shard,
         CAST(COUNT(*) AS BIGINT) AS n_delta_docs,
         CAST(SUM(CASE WHEN verdict = 'admitted' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_admitted,
         {rej},
         CAST(SUM(CASE WHEN verdict = 'admitted' THEN n_tokens ELSE 0 END)
              AS BIGINT) AS n_tokens_appended,
         CAST(SUM(CASE WHEN verdict = 'admitted' THEN n_bytes ELSE 0 END)
              AS BIGINT) AS n_bytes_appended
  FROM per GROUP BY ROLLUP(shard))
SELECT CAST(COALESCE(g.shard, -1) AS BIGINT) AS shard,
       n_delta_docs, n_admitted,
       {", ".join(f"n_rej_{k}" for k in _GATES)},
       n_tokens_appended, n_bytes_appended,
       CASE WHEN g.shard IS NOT NULL AND t.tot_tok > 0 THEN
         {sql_round_half_up(share, 6)} END AS append_tok_share,
       CASE WHEN g.shard IS NOT NULL AND t.tot_tok > 0 THEN
         {sql_round_half_up(f"{share} - {1.0 / N_SHARDS!r}", 6)} END AS share_dev
FROM g CROSS JOIN tot t
ORDER BY shard
"""


# --- post-append shard layout: materialize, audit, compact -------------------

# a file is "small" when it carries less than 1/SMALL_FILE_DIV of its
# shard's rows (integer cross-multiply; the row-based twin of
# maintenance.DEFAULT_TARGET_FILE_BYTES, chosen so the oracle can predict
# smallness from data alone — on-disk bytes are encoder-dependent)
SMALL_FILE_DIV = 4

_MANIFEST_COLS = ("doc_id", "n_tokens", "n_bytes", "kept_text")


def _derived_dir(prefix: str, sf_dir: str) -> str:
    """Deterministic scratch dir for a corpus-derived artifact: readable
    basename plus a hash of the FULL path, so two corpora that share a leaf
    name (pytest tmp dirs, parallel runs) cannot clobber each other."""
    import hashlib
    import os

    leaf = os.path.basename(sf_dir.rstrip("/"))
    tag = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:8]
    return f"/tmp/{prefix}_{leaf}_{tag}"


def _shard_layout_dir(sf_dir: str) -> str:
    return _derived_dir("shard_layout", sf_dir)


def _materialize_shard_layout(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Write the post-append curated-shard layout at ``path``: the base
    build (full-rebuild `curated_shard_manifest` restricted to
    already-ingested doc_ids — what the last full build wrote) as one file
    per shard, then the incremental batch's ADMITTED rows appended — one
    more file per shard that received appends. `repartition(N, shard)`
    puts each shard's rows in one task, so the dynamic partition writer
    emits exactly one file per shard per write: the layout (and therefore
    the audit below) is deterministic and oracle-predictable. The previous
    layout is wiped first, so re-runs are idempotent."""
    from ..maintenance import _fs, _hadoop_path
    from .corpus import curated_shard_manifest
    from .dedup import DELTA_MOD
    from .text import N_SHARDS

    _fs(spark, path).delete(_hadoop_path(spark, path), True)
    base = curated_shard_manifest(spark, sf_dir).filter(
        (F.col("doc_id") % F.lit(DELTA_MOD)) != F.lit(DELTA_MOD - 1)
    )
    for frame, mode in (
        (base, "overwrite"),
        (
            _admission_frame(spark, sf_dir).filter(F.col("verdict") == "admitted"),
            "append",
        ),
    ):
        (
            frame.select("shard", *_MANIFEST_COLS)
            .repartition(N_SHARDS, "shard")
            .write.partitionBy("shard")
            .mode(mode)
            .parquet(path)
        )


def shard_file_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-file health report of the curated-shard layout AFTER an
    incremental append: materialize base-build + appended-batch shard
    directories (see `_materialize_shard_layout`), then per shard count
    files, rows, content bytes, and files carrying under 1/SMALL_FILE_DIV
    of the shard's rows — the signal that schedules
    `maintenance.compact_partitions(..., partition_col="shard")` before
    append churn turns every trainer scan into a file-listing storm (each
    50-doc append is one more file per shard; a day of hourly batches is
    24× the file count for the same bytes).

    Content bytes are the manifest's `n_bytes` sums (data-derived, so the
    DuckDB twin can recompute them); ON-DISK bytes are encoder-dependent
    and come from `maintenance.list_partitions` in a real scheduler.

    Scale: the audit is one `input_file_name()` group-by over the shard
    directories — file-count many groups, no wide shuffle; the layout
    write itself is the shard writer this family exists to feed."""
    path = _shard_layout_dir(sf_dir)
    _materialize_shard_layout(spark, sf_dir, path)
    from ..maintenance import list_partitions

    if not list_partitions(spark, path, partition_col="shard"):
        # a corpus the funnel rejects ENTIRELY (plus an all-rejected batch)
        # writes no shard directory at all — the audit of an empty layout
        # is an empty table, not a schema-inference crash
        from pyspark.sql.types import LongType, StructField, StructType

        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField(c, LongType())
                    for c in (
                        "shard", "n_files", "n_rows", "n_content_bytes", "n_small_files"
                    )
                ]
            ),
        )
    per_file = (
        spark.read.parquet(path)
        .groupBy(F.col("shard").cast("long").alias("shard"), F.input_file_name().alias("_f"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("_rows"),
            F.sum("n_bytes").cast("long").alias("_bytes"),
        )
    )
    tot = per_file.groupBy("shard").agg(F.sum("_rows").alias("_shard_rows"))
    return (
        per_file.join(tot, "shard")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("_rows").cast("long").alias("n_rows"),
            F.sum("_bytes").cast("long").alias("n_content_bytes"),
            F.sum(
                (F.col("_rows") * F.lit(SMALL_FILE_DIV) < F.col("_shard_rows")).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("n_small_files"),
        )
        .orderBy("shard")
    )


def _sql_shard_file_audit() -> str:
    from .corpus import _sql_curated_manifest
    from .dedup import DELTA_MOD

    d = DELTA_MOD
    return f"""
WITH man AS (SELECT * FROM ({_sql_curated_manifest()}) mm),
basef AS (
  SELECT shard, CAST(COUNT(*) AS BIGINT) AS rows_, CAST(SUM(n_bytes) AS BIGINT) AS bytes_
  FROM man WHERE doc_id % {d} <> {d - 1} GROUP BY shard),
appf AS (
  SELECT shard, CAST(COUNT(*) AS BIGINT) AS rows_, CAST(SUM(n_bytes) AS BIGINT) AS bytes_
  FROM ({_sql_admission_manifest()}) am WHERE verdict = 'admitted' GROUP BY shard),
per_file AS (SELECT * FROM basef UNION ALL SELECT * FROM appf),
tot AS (SELECT shard, SUM(rows_) AS shard_rows FROM per_file GROUP BY shard)
SELECT p.shard,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(p.rows_) AS BIGINT) AS n_rows,
       CAST(SUM(p.bytes_) AS BIGINT) AS n_content_bytes,
       CAST(SUM(CASE WHEN p.rows_ * {SMALL_FILE_DIV} < t.shard_rows
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_small_files
FROM per_file p JOIN tot t USING (shard)
GROUP BY p.shard
ORDER BY p.shard
"""


# --- observed-write run report: zero-extra-scan output accounting ------------


def pipeline_run_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the full curated-shard manifest through
    `observe.observed_write` and return the row accounting computed ON THE
    ROWS ACTUALLY WRITTEN — doc/token/byte totals, empty-payload count, and
    an order-insensitive row checksum — as a 1-row DataFrame: the run
    manifest a scheduler stores next to the output and alerts on (a
    checksum or count drift between two runs of the same input is a
    correctness incident, caught for zero extra scans because the
    Observation rides the write job itself).

    The DuckDB twin recomputes every column from the manifest definition,
    so the driver gate proves the OBSERVED values equal the declared
    semantics — the write path drops or duplicates nothing.

    Scale: `df.observe` merges per-task partial aggregates on the driver —
    no second pass, no shuffle beyond the write's own; the checksum is a
    SUM of bounded per-row hashes (< 2^32 each), exact in int64 to ~10^9
    rows per run."""
    from ..observe import observed_write
    from .corpus import curated_shard_manifest

    man = curated_shard_manifest(spark, sf_dir)
    row_hash = portable_hash(
        F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.col("shard").cast("string"),
            F.col("n_tokens").cast("string"),
            F.col("kept_text"),
        )
    )
    path = _derived_dir("pipeline_run", sf_dir)
    vals = observed_write(
        man,
        path,
        {
            "n_docs": F.count(F.lit(1)).cast("long"),
            "n_tokens": F.sum("n_tokens").cast("long"),
            "n_bytes": F.sum("n_bytes").cast("long"),
            "n_empty_docs": F.sum((F.length("kept_text") == 0).cast("long")).cast(
                "long"
            ),
            "row_checksum": F.sum(row_hash).cast("long"),
        },
    )
    from pyspark.sql.types import LongType, StructField, StructType

    cols = ["n_docs", "n_tokens", "n_bytes", "n_empty_docs", "row_checksum"]
    schema = StructType([StructField(c, LongType()) for c in cols])
    return spark.createDataFrame([tuple(vals[c] for c in cols)], schema)


def _sql_run_report() -> str:
    from .corpus import _sql_curated_manifest

    h = sql_portable_hash(
        "CAST(doc_id AS VARCHAR) || '|' || CAST(shard AS VARCHAR) || '|' || "
        "CAST(n_tokens AS VARCHAR) || '|' || kept_text"
    )
    return f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
       CAST(SUM(CASE WHEN len(kept_text) = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_empty_docs,
       CAST(SUM({h}) AS BIGINT) AS row_checksum
FROM ({_sql_curated_manifest()}) m
"""


QUERIES = {
    "incremental_admission_manifest": incremental_admission_manifest,
    "incremental_shard_update": incremental_shard_update,
    "shard_file_audit": shard_file_audit,
    "pipeline_run_report": pipeline_run_report,
}

ORACLES = {
    "incremental_admission_manifest": _sql_admission_manifest(),
    "incremental_shard_update": _sql_shard_update(),
    "shard_file_audit": _sql_shard_file_audit(),
    "pipeline_run_report": _sql_run_report(),
}
