"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with Pandas-UDF (mapInPandas) decode/feature/frame-sample operators.

A 100 TB training-data pipeline treats image/audio/video as `binary`
columns. The Spark-side machinery here — schemas, Arrow batch iteration,
partition-preserving maps, explode-based frame sampling — is real and
tested; the *codec* step is stubbed (this container ships no image/audio
libraries): `decode_image` tries PIL and otherwise computes a deterministic
fake decode (byte-histogram features), clearly marked. Swapping in a real
codec changes only the inner function, not the plan.

Scale notes: mapInPandas streams Arrow batches — payload bytes never
round-trip through Python row objects; feature extraction is embarrassingly
parallel with zero shuffle. The metadata query is pure column expressions
(JVM-side) and never touches Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import caching
from ..catalog import load_table

N_FEATURES = 16  # byte-histogram bins in the stub decoder


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media corpus: documents' text bytes as stand-in
    payloads (binary), with media-type metadata derived from doc_id."""
    from ..catalog import spread_small_scan

    # spread_small_scan: every media consumer follows this synth with
    # payload-decode/phash work (numpy mapInPandas) that would otherwise
    # run in ONE task over the single-split documents scan; no-op at scale
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.element_at(
            F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        (F.col("doc_id") % 30 + 1).cast("int").alias("n_frames"),
    )


def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata extraction over binary payloads — byte length and
    magic prefix, all JVM-side column expressions."""
    media = media_table(spark, sf_dir)
    return media.select(
        "media_id",
        "media_type",
        F.octet_length(F.col("payload")).alias("n_bytes"),
        F.upper(F.hex(F.substring(F.col("payload"), 1, 4))).alias("magic_hex"),
        "n_frames",
    )  # no final orderBy: scaling output (guide §2.4)


_METADATA_SQL = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       octet_length(encode(text)) AS n_bytes,
       upper(left(hex(encode(text)), 8)) AS magic_hex,
       CAST(doc_id % 30 + 1 AS INTEGER) AS n_frames
FROM documents
ORDER BY media_id
"""


def _decode_stub(payload: bytes) -> list[float]:
    """STUB DECODER — deterministic fake. A real deployment replaces this
    with PIL/libav decode; the container has neither, so features are a
    16-bin byte-value histogram normalized to [0,1]. Same signature, same
    schema, real Arrow plumbing."""
    counts = [0] * N_FEATURES
    for b in payload:
        counts[b * N_FEATURES // 256] += 1
    total = max(len(payload), 1)
    return [c / total for c in counts]


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: payload → fixed-dim float vector.

    Arrow-batched; the pandas UDF sees whole partitions as an iterator of
    batches (no per-row Python overhead beyond the codec itself).
    """
    schema = "media_id long, media_type string, features array<double>"

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:  # real codec if available (not in this container)
            from PIL import Image  # noqa: F401

            decode = _decode_stub  # placeholder even when PIL exists: payloads are fake
        except ImportError:
            decode = _decode_stub
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "features": pdf["payload"].map(lambda p: decode(bytes(p))),
                }
            )

    return media.mapInPandas(_extract, schema)


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only query: stubbed decode makes values deterministic but not
    ANSI-expressible (byte-histogram over a blob)."""
    return extract_features(media_table(spark, sf_dir))  # no final orderBy (guide §2.4)


def sample_frames(media: DataFrame, every_k: int = 10) -> DataFrame:
    """Frame sampling plumbing: one output row per sampled frame index —
    sequence + explode, no Python. The downstream decode of individual
    frames would reuse extract_features."""
    return media.select(
        "media_id",
        "media_type",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_k))
        ).alias("frame_idx"),
    )


def media_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames(media_table(spark, sf_dir))  # no final orderBy (guide §2.4)


_FRAMES_SQL = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       unnest(range(0, CAST(doc_id % 30 + 1 AS INTEGER), 10)) AS frame_idx
FROM documents
ORDER BY media_id, frame_idx
"""


def media_feature_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifiable exercise of the mapInPandas decode path: the stub
    features unnested to one (media_id, bin, share) row per histogram bin.

    Unlike `media_features` (rows-only: array-typed cells don't hash
    portably), this flattens to scalar columns — and because the driver's
    documents are pure ASCII (verified: octet_length == length at every
    SF), the byte histogram the Python stub computes is exactly a
    character histogram, which IS ANSI-expressible. The oracle therefore
    checks the real Arrow plumbing end to end: payload bytes → pandas
    batch → decode → posexplode, value-hashed against DuckDB."""
    feats = extract_features(media_table(spark, sf_dir))
    return feats.select(
        "media_id",
        "media_type",
        F.posexplode("features").alias("bin", "share"),
    )  # no final orderBy: scaling output (guide §2.4)


_FEATURE_BINS_SQL = f"""
WITH docs_m AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         text
  FROM documents),
counts AS (
  SELECT media_id, (unicode(ch) * {N_FEATURES}) // 256 AS bin, COUNT(*) AS c
  FROM (SELECT media_id, unnest(string_split(text, '')) AS ch FROM docs_m) t
  GROUP BY 1, 2),
bins AS (SELECT unnest(range(0, {N_FEATURES})) AS bin)
SELECT d.media_id, d.media_type, CAST(b.bin AS INTEGER) AS bin,
       CAST(COALESCE(c.c, 0) AS DOUBLE)
         / CAST(GREATEST(octet_length(encode(d.text)), 1) AS DOUBLE) AS share
FROM docs_m d
CROSS JOIN bins b
LEFT JOIN counts c ON c.media_id = d.media_id AND c.bin = b.bin
ORDER BY d.media_id, b.bin
"""


def media_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload exact dedup report per media type: distinct payload
    digests, duplicate members beyond each group's representative, and the
    bytes a content-addressed store saves — the pre-DECODE dedup every
    media ingest runs (hash the bytes, never open the codec; re-crawled
    and mirrored assets are byte-identical).

    Scale: only the 16-byte md5 digest and the int64 byte length shuffle —
    payload bytes stay in the scan, exactly like the text `dedup_exact`
    digest-only shape. Output is |media types| rows.
    """
    media = media_table(spark, sf_dir)
    groups = (
        media.select(
            "media_type",
            F.md5(F.col("payload")).alias("digest"),
            F.octet_length(F.col("payload")).cast("long").alias("n_bytes"),
        )
        .groupBy("media_type", "digest")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_bytes").alias("len"),  # members are byte-identical
        )
    )
    return (
        groups.groupBy("media_type")
        .agg(
            F.sum("n").cast("long").alias("n_media"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_payloads"),
            F.sum(F.col("n") - 1).cast("long").alias("n_dup_members"),
            F.sum(F.col("n") * F.col("len")).cast("long").alias("bytes_total"),
            F.sum((F.col("n") - 1) * F.col("len")).cast("long").alias("bytes_saved"),
        )
        .withColumn(
            "dedup_ratio",
            # all-empty-payload group: 0/0 must be 0.0 in BOTH engines
            # (Spark div NULLs, DuckDB // raises — guard each twin)
            F.when(
                F.col("bytes_total") > 0,
                F.expr("(bytes_saved * 20000 + bytes_total) div (2 * bytes_total)").cast(
                    "double"
                )
                / 10000.0,
            ).otherwise(F.lit(0.0)),
        )
        .orderBy("media_type")
    )


_MEDIA_DEDUP_SQL = """
WITH media AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         md5(text) AS digest,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents),
groups AS (
  SELECT media_type, digest, COUNT(*) AS n, MIN(n_bytes) AS len
  FROM media GROUP BY media_type, digest)
SELECT media_type,
       CAST(SUM(n) AS BIGINT) AS n_media,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_payloads,
       CAST(SUM(n - 1) AS BIGINT) AS n_dup_members,
       CAST(SUM(n * len) AS BIGINT) AS bytes_total,
       CAST(SUM((n - 1) * len) AS BIGINT) AS bytes_saved,
       CASE WHEN SUM(n * len) > 0
            THEN CAST((SUM((n - 1) * len) * 20000 + SUM(n * len)) // (2 * SUM(n * len)) AS DOUBLE) / 10000.0
            ELSE 0.0 END AS dedup_ratio
FROM groups
GROUP BY media_type
ORDER BY media_type
"""


# --- perceptual near-dup (pHash-style banded Hamming) ------------------------

# 32-bit gradient hash (dHash shape: bit_j = feat[j] > feat[(j+1) mod 32])
# over a 32-bin HASHED-SHINGLE histogram: every 4-byte window of the
# payload hashes (Knuth multiplicative, top-5-bit bucket) into one of 32
# bins. Shingle hashing makes the features content-driven and
# shift-robust — a plain byte-value histogram is NOT discriminative for
# text-like payloads (every doc shares the language's letter frequencies;
# measured: ~40% of all pairs collide at Hamming ≤ 3, vs O(n) pairs with
# shingle bins). Fingerprints split into 4 bands of 8 bits; pigeonhole:
# Hamming ≤ 3 flips at most 3 bands, so every true pair shares at least
# one identical band — same recall guarantee as `simhash_hamming_pairs`
# (dedup.py:1050), reapplied to the media decode path. All-integer bit
# derivation (count_j > count_next), so the Python decoder and the ANSI
# oracle agree bit-for-bit with no float hazard. The oracle shingles
# CHARACTERS (unicode codepoints) while the decoder shingles UTF-8
# BYTES — identical because the driver documents are pure ASCII
# (octet_length == length at every SF, the same verified assumption
# `media_feature_bins` rests on); non-ASCII payloads would need a
# byte-level oracle (and codepoints >= 0x800 would overflow the BIGINT
# product), so the parity check is scoped to ASCII corpora by design.
PHASH_BITS = 32
PHASH_BAND_BITS = 8
PHASH_N_BANDS = PHASH_BITS // PHASH_BAND_BITS
PHASH_HAMMING_MAX = 3
_PHASH_KNUTH = 2654435761  # 2^32 / golden ratio, the classic mixer


def media_phash(media: DataFrame) -> DataFrame:
    """mapInPandas perceptual fingerprint: payload → 32-bit gradient hash
    over hashed 4-byte-shingle histogram bins. A real deployment swaps the
    shingle histogram for DCT coefficients of the decoded image (classic
    pHash) — same signature, same downstream banding."""
    schema = "media_id long, media_type string, phash long"

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        bit_weights = np.uint64(1) << np.arange(PHASH_BITS, dtype=np.uint64)

        def ph(payload: bytes) -> int:
            # numpy sliding-window over the byte array (round-6 verdict
            # task: the former per-byte Python loop was the decode-pass
            # bottleneck). uint32 arithmetic wraps mod 2^32, exactly the
            # scalar `(w * KNUTH) % 4294967296`; bit-identical output.
            a = np.frombuffer(payload, dtype=np.uint8).astype(np.uint32)
            if a.size >= 4:
                w = (a[:-3] << 24) | (a[1:-2] << 16) | (a[2:-1] << 8) | a[3:]
                counts = np.bincount(
                    (w * np.uint32(_PHASH_KNUTH)) >> 27, minlength=PHASH_BITS
                )
            else:
                counts = np.zeros(PHASH_BITS, dtype=np.int64)
            bits = counts > np.roll(counts, -1)
            return int(bit_weights[bits].sum())

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "phash": pdf["payload"].map(lambda p: ph(bytes(p))),
                }
            )

    return media.mapInPandas(_hash, schema)


def media_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs per media type: payloads whose gradient
    hashes differ by ≤ PHASH_HAMMING_MAX bits, found via banded Hamming
    buckets — the post-decode complement of `media_exact_dedup` (which only
    catches byte-identical payloads; a re-encoded or lightly edited asset
    hashes differently byte-wise but lands within a few perceptual bits).

    Scale (100 TB): one narrow (int64 fingerprint) row per asset; the
    self-join key is (media_type, band_id, band_value) — per-bucket cross
    products only, never all-pairs — with the shared MAX_BUCKET cap
    guarding degenerate buckets (a near-monoculture corpus collapses 8-bit
    bands). Payload bytes never shuffle: the fingerprint is computed in
    the Arrow scan pass and only 8-byte hashes move.
    """
    from .dedup import MAX_BUCKET, _cap_buckets

    fps = caching.materialize(media_phash(media_table(spark, sf_dir)), "media_near_dups.fps")
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("phash"), b * PHASH_BAND_BITS)
                .bitwiseAND(F.lit((1 << PHASH_BAND_BITS) - 1))
                .alias("band_value"),
            )
            for b in range(PHASH_N_BANDS)
        ]
    )
    banded = fps.select("media_id", "media_type", F.explode(bands).alias("bb")).select(
        "media_id",
        "media_type",
        F.col("bb.band_id").alias("band_id"),
        F.col("bb.band_value").alias("band_value"),
    )
    banded = _cap_buckets(banded, ["media_type", "band_id", "band_value"], MAX_BUCKET)
    a = banded.select(
        F.col("media_id").alias("media_a"), "media_type", "band_id", "band_value"
    )
    b2 = banded.select(
        F.col("media_id").alias("media_b"), "media_type", "band_id", "band_value"
    )
    cand = (
        a.join(b2, ["media_type", "band_id", "band_value"])
        .filter(F.col("media_a") < F.col("media_b"))
        .select("media_type", "media_a", "media_b")
        .distinct()
    )
    fa = fps.select(F.col("media_id").alias("media_a"), F.col("phash").alias("fp_a"))
    fb = fps.select(F.col("media_id").alias("media_b"), F.col("phash").alias("fp_b"))
    return (
        cand.join(fa, "media_a")
        .join(fb, "media_b")
        .select(
            "media_type",
            "media_a",
            "media_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= PHASH_HAMMING_MAX)
        .orderBy("media_type", "media_a", "media_b")
    )


def _sql_media_near_dups() -> str:
    from .dedup import MAX_BUCKET

    band_rows = " UNION ALL ".join(
        f"SELECT media_id, media_type, {b} AS band_id, "
        f"(phash // {1 << (b * PHASH_BAND_BITS)}) % {1 << PHASH_BAND_BITS} "
        f"AS band_value FROM fps"
        for b in range(PHASH_N_BANDS)
    )
    return f"""
WITH docs_m AS MATERIALIZED (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         text
  FROM documents),
counts AS (
  SELECT media_id,
         ((unicode(substring(g, 1, 1)) * 16777216
           + unicode(substring(g, 2, 1)) * 65536
           + unicode(substring(g, 3, 1)) * 256
           + unicode(substring(g, 4, 1))) * {_PHASH_KNUTH})
          % 4294967296 // 134217728 AS bin,
         COUNT(*) AS c
  FROM (SELECT media_id, substring(text, CAST(i AS INTEGER), 4) AS g
        FROM docs_m, LATERAL unnest(range(1, length(text) - 2)) t(i)) x
  GROUP BY 1, 2),
grid AS (
  SELECT d.media_id, b.bin, COALESCE(c.c, 0) AS c
  FROM docs_m d
  CROSS JOIN (SELECT unnest(range(0, {PHASH_BITS})) AS bin) b
  LEFT JOIN counts c ON c.media_id = d.media_id AND c.bin = b.bin),
-- dHash bit j = c_j > c_(j+1 mod N): lead() with first_value wraparound,
-- one window pass instead of an N-way grid self-join
gradient AS (
  SELECT media_id, bin, c,
         COALESCE(LEAD(c) OVER w, FIRST_VALUE(c) OVER w) AS c_next
  FROM grid
  WINDOW w AS (PARTITION BY media_id ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
fps AS MATERIALIZED (
  SELECT g.media_id, d.media_type,
         CAST(SUM(CASE WHEN c > c_next
                       THEN CAST(1 AS BIGINT) << bin ELSE 0 END) AS BIGINT) AS phash
  FROM gradient g JOIN docs_m d USING (media_id)
  GROUP BY g.media_id, d.media_type),
banded AS ({band_rows}),
kept AS (
  SELECT banded.* FROM banded
  JOIN (SELECT media_type, band_id, band_value FROM banded
        GROUP BY media_type, band_id, band_value HAVING COUNT(*) <= {MAX_BUCKET}) ok
    USING (media_type, band_id, band_value)),
cand AS (
  SELECT DISTINCT a.media_type, a.media_id AS media_a, b.media_id AS media_b
  FROM kept a JOIN kept b
    ON a.media_type = b.media_type AND a.band_id = b.band_id
   AND a.band_value = b.band_value AND a.media_id < b.media_id)
SELECT c.media_type, media_a, media_b,
       CAST(bit_count(xor(fa.phash, fb.phash)) AS INTEGER) AS hamming
FROM cand c
JOIN fps fa ON fa.media_id = media_a
JOIN fps fb ON fb.media_id = media_b
WHERE bit_count(xor(fa.phash, fb.phash)) <= {PHASH_HAMMING_MAX}
ORDER BY c.media_type, media_a, media_b
"""


# --- image-text PAIR dedup (round-6 verdict task 4) ---------------------------


def _pair_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, img_group, txt_group): each doc labeled with its perceptual
    image near-dup component (over `media_near_dups`' banded-Hamming pairs;
    media_id IS the doc linkage) and its caption near-dup component (over
    `minhash_lsh_pairs`). Shared by the pair manifest and the savings
    report."""
    from .dedup import _lsh_candidates, _minhash_signatures, connected_components

    docs = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    img_edges = media_near_dups(spark, sf_dir).select(
        F.col("media_a").alias("a"), F.col("media_b").alias("b")
    )
    # candidate SET, not scored pairs: the component pass only needs edges,
    # and the scored form re-joins the 16-column signature frame twice per
    # pair for an est_jaccard the CC loop drops (guide §1.2)
    sigs = caching.materialize(_minhash_signatures(spark, sf_dir), "pair_groups.sigs")
    txt_edges = _lsh_candidates(sigs).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    # ONE edge materialization for BOTH component passes: the image-edge
    # pipeline (phash + banded Hamming join) and the caption-edge pipeline
    # (MinHash-LSH banded join) are unioned under a modality tag and
    # checkpointed in a single job, so Spark runs the two edge builds as
    # parallel stages instead of two driver-serialized jobs; each component
    # pass then reads its filtered slice of the checkpoint once.
    tagged = caching.checkpoint(
        img_edges.select(F.lit(0).alias("_m"), "a", "b").unionByName(
            txt_edges.select(F.lit(1).alias("_m"), "a", "b")
        ),
        "pair_groups.tagged",
    )
    img = connected_components(tagged.filter(F.col("_m") == 0), docs).select(
        F.col("node").alias("doc_id"), F.col("label").alias("img_group")
    )
    txt = connected_components(tagged.filter(F.col("_m") == 1), docs).select(
        F.col("node").alias("doc_id"), F.col("label").alias("txt_group")
    )
    return img.join(txt, "doc_id")


def media_text_pair_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal PAIR-level dedup manifest: a training example is the
    (image, caption) pair, so two examples collapse only when the images
    are perceptual near-dups AND the captions are text near-dups — a
    near-dup image under a genuinely different caption is a DIFFERENT
    example (alt-text variants carry signal), which per-modality dedup
    would wrongly destroy. Pair group = (image component, caption
    component); the canonical pair kept per group is the best-quality
    caption (doc_id ascending tiebreak — the `near_dup_canonicals`
    policy applied at pair grain). One row per doc: its two component
    labels, its pair-group size, and whether it is the kept canonical.

    Scale (100 TB): both component passes are the shared label-contraction
    loop (`dedup.connected_components`), fed by one materialization of both
    edge sets; edges come from banded equi-joins (phash bands / MinHash-LSH
    bands) — digest-only shuffles, never payload or text; the pair-group
    key is two int64 labels and canonical election is one
    max(struct(quality, -doc_id)) partial aggregate per group — no window.
    """
    from .text import quality_scores

    grp = _pair_groups(spark, sf_dir)
    quality = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    # j feeds BOTH the per-group best aggregate and the final join-back;
    # materialize it once so the second reference does not re-execute the
    # post-fixpoint tail of both component passes (two documents anti-joins
    # + unions + the img⋈txt join) plus the quality scan. Wall-neutral at
    # ~sf1 (32.7 s with vs 32.0 s without, min-of-3 — inside this query's
    # 28–35 s band) but the 100 TB-right shape: one narrow 4-column
    # materialization replaces a second run of several corpus-sized joins.
    j = caching.checkpoint(grp.join(quality, "doc_id"), "media_text_pair_dedup.j")
    # NOTE (round 8, measured): a whole-partition window form of the
    # canonical election (one pass over j, no join-back) was tried and is
    # SLOWER (29.2 → 32.8 s at ~sf1): the pair-group subtree j references
    # twice is cheap to re-derive — both component passes are eagerly
    # checkpointed inside `connected_components` — while the window forces
    # a full sort of the corpus-sized joined frame. groupBy + join-back
    # keeps the partial-aggregating shuffle instead (round 9 additionally
    # checkpoints j, so the join-back's second reference is now a scan).
    best = j.groupBy("img_group", "txt_group").agg(
        F.max(
            F.struct(
                F.col("quality_score").alias("q"), (-F.col("doc_id")).alias("neg_id")
            )
        ).alias("best"),
        F.count(F.lit(1)).cast("long").alias("pair_size"),
    )
    return (
        j.join(best, ["img_group", "txt_group"])
        .select(
            "doc_id",
            "img_group",
            "txt_group",
            "pair_size",
            (F.col("doc_id") == -F.col("best.neg_id")).cast("int").alias("is_canonical"),
        )
        # no final orderBy: scaling output, order-insensitive gate (guide §2.4)
    )


def media_text_pair_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The accounting row that justifies pair-level dedup: how many
    examples each policy keeps — image-only dedup (one per image
    component), caption-only dedup (one per caption component), and
    pair-level (one per (image, caption) component pair). removed_* are
    the complements; pair-level removes the FEWEST (it refuses to collapse
    distinct captions under a shared image and vice versa):
    removed_pair_level <= min(removed_image_only, removed_caption_only).
    """
    grp = _pair_groups(spark, sf_dir)
    return grp.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("img_group").cast("long").alias("n_image_groups"),
        F.countDistinct("txt_group").cast("long").alias("n_caption_groups"),
        F.countDistinct("img_group", "txt_group").cast("long").alias("n_pair_groups"),
    ).select(
        "n_pairs",
        "n_image_groups",
        "n_caption_groups",
        "n_pair_groups",
        (F.col("n_pairs") - F.col("n_image_groups")).alias("removed_image_only"),
        (F.col("n_pairs") - F.col("n_caption_groups")).alias("removed_caption_only"),
        (F.col("n_pairs") - F.col("n_pair_groups")).alias("removed_pair_level"),
    )


def _sql_pair_groups() -> str:
    from .dedup import _sql_lsh_pairs

    return f"""
img_edges AS (SELECT media_a AS a, media_b AS b FROM ({_sql_media_near_dups()}) m),
ireach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT CASE WHEN r.node = e.a THEN e.b ELSE e.a END, r.root
  FROM ireach r JOIN img_edges e ON r.node = e.a OR r.node = e.b),
img AS (SELECT node AS doc_id, MIN(root) AS img_group FROM ireach GROUP BY node),
txt_edges AS (SELECT doc_a AS a, doc_b AS b FROM ({_sql_lsh_pairs()}) l),
treach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT CASE WHEN r.node = e.a THEN e.b ELSE e.a END, r.root
  FROM treach r JOIN txt_edges e ON r.node = e.a OR r.node = e.b),
txt AS (SELECT node AS doc_id, MIN(root) AS txt_group FROM treach GROUP BY node),
grp AS (
  SELECT d.doc_id, img.img_group, txt.txt_group
  FROM documents d JOIN img USING (doc_id) JOIN txt USING (doc_id))"""


def _sql_pair_dedup() -> str:
    from .text import _QUALITY_SQL

    return f"""
WITH RECURSIVE
{_sql_pair_groups().lstrip()},
q AS (SELECT doc_id, quality_score FROM ({_QUALITY_SQL}) x),
ranked AS (
  SELECT g.doc_id, g.img_group, g.txt_group, qq.quality_score,
         ROW_NUMBER() OVER (PARTITION BY g.img_group, g.txt_group
                            ORDER BY qq.quality_score DESC, g.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY g.img_group, g.txt_group) AS pair_size
  FROM grp g JOIN q qq USING (doc_id))
SELECT doc_id, img_group, txt_group,
       CAST(pair_size AS BIGINT) AS pair_size,
       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS is_canonical
FROM ranked
ORDER BY doc_id
"""


def _sql_pair_savings() -> str:
    return f"""
WITH RECURSIVE
{_sql_pair_groups().lstrip()}
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT img_group) AS BIGINT) AS n_image_groups,
       CAST(COUNT(DISTINCT txt_group) AS BIGINT) AS n_caption_groups,
       CAST(COUNT(DISTINCT (img_group, txt_group)) AS BIGINT) AS n_pair_groups,
       CAST(COUNT(*) - COUNT(DISTINCT img_group) AS BIGINT) AS removed_image_only,
       CAST(COUNT(*) - COUNT(DISTINCT txt_group) AS BIGINT) AS removed_caption_only,
       CAST(COUNT(*) - COUNT(DISTINCT (img_group, txt_group)) AS BIGINT)
         AS removed_pair_level
FROM grp
"""


QUERIES = {
    "media_metadata": media_metadata,
    "media_features": media_features,
    "media_frame_samples": media_frame_samples,
    "media_feature_bins": media_feature_bins,
    "media_exact_dedup": media_exact_dedup,
    "media_near_dups": media_near_dups,
    "media_text_pair_dedup": media_text_pair_dedup,
    "media_text_pair_savings": media_text_pair_savings,
}

ORACLES = {
    "media_metadata": _METADATA_SQL,
    # media_features: rows-only (array-typed cells; see media_feature_bins
    # for the oracle-checked flattened twin of the same decode path)
    "media_frame_samples": _FRAMES_SQL,
    "media_feature_bins": _FEATURE_BINS_SQL,
    "media_exact_dedup": _MEDIA_DEDUP_SQL,
    "media_near_dups": _sql_media_near_dups(),
    "media_text_pair_dedup": _sql_pair_dedup(),
    "media_text_pair_savings": _sql_pair_savings(),
}
