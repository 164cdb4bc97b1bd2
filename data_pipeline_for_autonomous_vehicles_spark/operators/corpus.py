"""Corpus-hygiene operators over the `documents` table: the filter signals a
large-scale training-data pipeline computes before anything is trained.

Complements the dedup family (`dedup.py`: exact / MinHash-LSH / SimHash /
n-gram Jaccard) and the per-doc text metrics (`text.py`: token counts,
quality, lang-ID) with the repetition / duplication / diversity signals of
C4- and Gopher-style corpus filtering:

* `repetition_ratios` — fraction of a document occupied by its most
  frequent token and most frequent token-bigram (high values ⇒ boilerplate
  or degenerate generation; the Gopher repetition rules).
* `passage_dedup_stats` — exact-substring duplication at passage
  granularity: split each document into non-overlapping 8-token passages,
  md5 them, and count how many of a document's passages occur anywhere
  else in the corpus (the within-corpus exact-substring dedup signal).
* `token_entropy` — per-document Shannon entropy of the unigram
  distribution (low entropy ⇒ repetitive/low-information text).
* `substring_dup_spans` — the SLIDING-window (stride 1) cross-document
  twin of `passage_dedup_stats`: catches duplicated spans at any offset
  and reports the longest duplicated span per doc (the distributable
  ExactSubstr-dedup signal, Lee et al. 2021).
* `substring_dup_removal` — the acting half of that signal: rewrites each
  document with cross-doc duplicated runs excised (keep-first-occurrence
  at window level — min doc_id owns the window; token excision is the
  union of cut-window extents) and reports kept/cut token counts plus the
  rewritten text.
* `substring_dup_removal_audit` — the convergence proof: re-measures the
  corpus duplicated-window share on the rewritten text (before/after rows,
  the signal an iterate-to-clean pipeline loops on).
* `segment_df_report` / `boilerplate_segment_removal` /
  `boilerplate_removal_audit` / `boilerplate_delta_probe` — the CCNet
  boilerplate policy (Wenzek et al. 2019) over NON-overlapping segments:
  doc-frequency bands (the τ-choice evidence), drop-everywhere removal at
  df ≥ BOILERPLATE_DF (unlike the keep-first rule above, the FIRST
  occurrence goes too), the before/after convergence audit, and the
  O(delta) incremental admission probe (known + newly-minted boilerplate,
  union ≡ rebuild).
* `epoch_allocation_plan` — the acting half of
  `mixture_temperature_weights`: integer token grants per source under an
  EPOCH_CAP repeat ceiling with one pro-rata redistribution round.

Scale notes. All three are explode → hash-aggregate shapes: the unit of
shuffle is a (doc_id, token/passage-digest) pair, partial aggregation is
map-side, and no step is quadratic in documents. `passage_dedup_stats`
joins on the passage digest (md5 — 32 chars, not the passage text) so the
shuffle width stays bounded no matter how long passages get; a degenerate
hot passage ("lorem lorem …" boilerplate) only widens one reduce group of
a count aggregate, never a join fan-out. Entropy terms are rounded to
1e-8 and summed as integers, so the result is independent of partition
order (the same order-independent-sum discipline as `drift.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import caching
from ..catalog import load_table
from ..functions.scalars import round_half_up, sql_round_half_up, sql_tokens, tokens


PASSAGE_TOKENS = 8


def _nonempty(docs: DataFrame) -> DataFrame:
    # spread_small_scan: every consumer follows this filter with tokenize +
    # md5 + explode passes whose per-row cost dwarfs one round-robin
    # exchange of the narrow text rows — and the documents file scans as a
    # single split locally (one parquet row group), serializing all of it
    # on one core otherwise. No-op on any at-scale scan (catalog docstring).
    from ..catalog import spread_small_scan

    return spread_small_scan(docs.filter(F.trim(F.col("text")) != ""))


def _win_digests() -> F.Column:
    """Stride-1 sliding-window digests over a `toks` column: md5 of each
    PASSAGE_TOKENS-token window, space-joined. The ONE definition the
    spans / removal / audit trio shares — a tokenizer or separator change
    here changes all three together (and their SQL twins must follow).

    The digest is carried as BINARY(16) (`unhex(md5(...))`) rather than the
    32-char hex string: digests never appear in any output — only their
    equality matters — and the binary form halves the bytes every
    window-digest shuffle, sort and aggregation key moves (guide §2.3,
    narrower types). Equality on the raw 128-bit digest is exactly equality
    on its hex spelling, so every join/groupBy keyed on it is unchanged;
    the DuckDB twins keep hex md5 internally, which is equality-equivalent."""
    w = PASSAGE_TOKENS
    return F.expr(
        f"transform(sequence(1, size(toks) - {w} + 1), "
        f"i -> unhex(md5(array_join(slice(toks, i, {w}), ' '))))"
    )


# --- Gopher-style repetition ratios ----------------------------------------


def repetition_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-token and top-bigram mass fractions.

    Two explode → (doc_id, gram) hash-agg passes; the per-doc max/total
    reduction groups on doc_id. Documents with fewer than two tokens have
    no bigrams and report 0.0 (left join + coalesce), matching the Gopher
    convention that the rule does not fire on degenerate-length docs.
    """
    docs = _nonempty(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", tokens().alias("toks"))

    tcnt = (
        toks.select("doc_id", F.explode("toks").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tok_top = tcnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"), F.max("c").alias("max_tok")
    )

    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1), "
        "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))"
    )
    # guard: Spark's sequence(1, 0) steps DOWNWARD to [1, 0]; emit an empty
    # array for single-token docs instead
    bcnt = (
        toks.select(
            "doc_id",
            F.explode(
                F.when(F.size("toks") >= 2, bigrams).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("b"),
        )
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    big_top = bcnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("max_big")
    )

    return (
        tok_top.join(big_top, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            round_half_up(
                F.col("max_tok").cast("double") / F.col("n_tokens").cast("double"), 4
            ).alias("top_token_frac"),
            F.coalesce(
                round_half_up(
                    F.col("max_big").cast("double") / F.col("n_bigrams").cast("double"),
                    4,
                ),
                F.lit(0.0),
            ).alias("top_bigram_frac"),
        )
        # no final orderBy: scaling output, order-insensitive gate (guide §2.4)
    )


_REPETITION_SQL = f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens()} AS toks FROM documents WHERE trim(text) <> ''),
tcnt AS (
  SELECT doc_id, w, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS w FROM toks) t GROUP BY doc_id, w),
tok_top AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, MAX(c) AS max_tok
  FROM tcnt GROUP BY doc_id),
bcnt AS (
  SELECT doc_id, b, COUNT(*) AS c
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                      i -> toks[i] || ' ' || toks[i + 1])) AS b
        FROM toks) t GROUP BY doc_id, b),
big_top AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS max_big
  FROM bcnt GROUP BY doc_id)
SELECT t.doc_id, t.n_tokens,
       {sql_round_half_up('CAST(t.max_tok AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)', 4)}
         AS top_token_frac,
       COALESCE({sql_round_half_up('CAST(b.max_big AS DOUBLE) / CAST(b.n_bigrams AS DOUBLE)', 4)},
                0.0) AS top_bigram_frac
FROM tok_top t LEFT JOIN big_top b USING (doc_id)
ORDER BY doc_id
"""


# --- exact-substring passage dedup -----------------------------------------


def passage_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact-substring duplication at 8-token passage
    granularity: n_passages, how many of them occur anywhere else in the
    corpus (same or another document), and the duplicated fraction.

    Documents shorter than one full passage carry no signal and are
    omitted (both engines restrict identically). The corpus-wide passage
    count groups on the md5 digest — the 100 TB path shuffles 32-byte
    digests, not passage text.
    """
    docs = _nonempty(load_table(spark, sf_dir, "documents"))
    passages = F.expr(
        f"transform(sequence(1, size(toks) div {PASSAGE_TOKENS}), "
        f"i -> array_join(slice(toks, (i - 1) * {PASSAGE_TOKENS} + 1, {PASSAGE_TOKENS}), ' '))"
    )
    wins = (
        docs.select("doc_id", tokens().alias("toks"))
        .filter(F.size("toks") >= PASSAGE_TOKENS)
        .select("doc_id", F.explode(passages).alias("passage"))
        .select("doc_id", F.md5("passage").alias("digest"))
    )
    # instance count via a digest-partitioned window instead of
    # groupBy + join-back — the join form planned the tokenize + md5 +
    # explode pass twice (guide §1.2/§2.4; same rewrite as
    # `substring_dup_spans` / `_removal_frame`); whole-partition frame,
    # no orderBy, one exchange
    from pyspark.sql import Window

    return (
        wins.withColumn(
            "n_inst", F.count(F.lit(1)).over(Window.partitionBy("digest"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(F.when(F.col("n_inst") > 1, 1).otherwise(0)).alias("n_dup_passages"),
        )
        .select(
            "doc_id",
            "n_passages",
            "n_dup_passages",
            round_half_up(
                F.col("n_dup_passages").cast("double") / F.col("n_passages").cast("double"),
                4,
            ).alias("dup_frac"),
        )
        # no final orderBy: scaling output, order-insensitive gate (guide §2.4)
    )


_PASSAGE_SQL = f"""
WITH wins AS (
  SELECT doc_id, md5(passage) AS digest
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) // {PASSAGE_TOKENS} + 1),
               i -> array_to_string(
                      toks[((i - 1) * {PASSAGE_TOKENS} + 1):((i - 1) * {PASSAGE_TOKENS} + {PASSAGE_TOKENS})],
                      ' '))) AS passage
    FROM (SELECT doc_id, {sql_tokens()} AS toks FROM documents WHERE trim(text) <> '') t
    WHERE len(toks) >= {PASSAGE_TOKENS}) w),
total AS (SELECT digest, COUNT(*) AS n_inst FROM wins GROUP BY digest)
SELECT doc_id,
       COUNT(*) AS n_passages,
       CAST(SUM(CASE WHEN n_inst > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages,
       {sql_round_half_up('CAST(SUM(CASE WHEN n_inst > 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)', 4)}
         AS dup_frac
FROM wins JOIN total USING (digest)
GROUP BY doc_id
ORDER BY doc_id
"""


# --- sliding-window cross-doc substring spans --------------------------------


def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring duplication at SLIDING 8-token
    granularity — the distributable analogue of suffix-array ExactSubstr
    dedup (Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better"): `passage_dedup_stats`' disjoint passages miss a
    duplicated span that straddles a passage boundary or starts at any
    offset ≢ 0 (mod 8); stride-1 windows catch every ≥8-token exact
    overlap. Per document: window count, how many windows also occur in
    at least one OTHER document (cross-doc only — within-doc repetition is
    `repetition_ratios`' signal), the duplicated share, and the longest
    duplicated span in tokens (consecutive dup-window run + W − 1 — the
    number ExactSubstr would cut).

    Scale (100 TB): stride-1 windows are the same row volume MinHash
    shingling already shuffles; the cross-doc test is a hash-aggregate on
    the 32-char digest (COUNT DISTINCT doc_id) — **no pairwise join at
    all**, so no bucket caps are needed; the run/island detection windows
    partition by doc_id (bounded by document length, never data-sized).
    """
    docs = _nonempty(load_table(spark, sf_dir, "documents"))
    w = PASSAGE_TOKENS
    wins_expr = _win_digests()
    wins = (
        docs.select("doc_id", tokens().alias("toks"))
        .filter(F.size("toks") >= w)
        .select("doc_id", F.posexplode(wins_expr).alias("pos", "digest"))
    )
    # Cross-doc test as a digest-partitioned window instead of
    # groupBy(digest).count_distinct + join-back: the join form planned the
    # windows subtree (tokenize + md5 + posexplode over the whole corpus)
    # TWICE — once under the aggregate, once under the probe side (guide
    # §1.2/§2.4; the same rewrite as `_removal_frame`). "≥ 2 distinct docs
    # share the digest" ⇔ min(doc_id) ≠ max(doc_id) over the digest
    # partition (within-doc repeats share one doc_id), and min/max share
    # ONE whole-partition window frame — no orderBy, one exchange.
    from pyspark.sql import Window

    wdig = Window.partitionBy("digest")
    flagged = wins.select(
        "doc_id",
        "pos",
        (F.min("doc_id").over(wdig) != F.max("doc_id").over(wdig)).alias("dup"),
    )

    # single pass over the flagged windows: a running count of dup rows
    # turns consecutive dup positions into one island key (pos − rank),
    # non-dup rows share the NULL island — so ONE (doc, island) aggregate
    # yields window counts, dup counts, and run lengths together, and the
    # digest join above executes once (the two-branch version re-ran it)
    runw = Window.partitionBy("doc_id").orderBy("pos")
    rn_dup = F.sum(F.when(F.col("dup"), 1).otherwise(0)).over(runw)
    cells = (
        flagged.withColumn("grp", F.when(F.col("dup"), F.col("pos") - rn_dup))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        cells.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_windows"),
            F.sum(F.when(F.col("grp").isNotNull(), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_dup_windows"),
            F.max(F.when(F.col("grp").isNotNull(), F.col("cnt"))).alias("max_run"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            round_half_up(
                F.col("n_dup_windows").cast("double")
                / F.col("n_windows").cast("double"),
                4,
            ).alias("dup_share"),
            F.coalesce(F.col("max_run") + F.lit(w - 1), F.lit(0))
            .cast("long")
            .alias("longest_dup_span"),
        )
        # no final orderBy: scaling output, order-insensitive gate (guide §2.4)
    )


_SUBSTRING_SPANS_SQL = f"""
WITH base AS (
  SELECT doc_id, toks
  FROM (SELECT doc_id, {sql_tokens()} AS toks FROM documents WHERE trim(text) <> '') t
  WHERE len(toks) >= {PASSAGE_TOKENS}),
wins AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         md5(array_to_string(toks[i : i + {PASSAGE_TOKENS} - 1], ' ')) AS digest
  FROM base, LATERAL unnest(range(1, len(toks) - {PASSAGE_TOKENS} + 2)) u(i)),
nd AS (SELECT digest, COUNT(DISTINCT doc_id) AS nd FROM wins GROUP BY digest),
flagged AS (
  SELECT w.doc_id, w.pos, (n.nd >= 2) AS dup
  FROM wins w JOIN nd n USING (digest)),
cells AS (
  SELECT doc_id, grp, COUNT(*) AS cnt
  FROM (SELECT doc_id,
               CASE WHEN dup THEN pos - SUM(CASE WHEN dup THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY pos) END AS grp
        FROM flagged) r
  GROUP BY doc_id, grp),
per AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_windows,
         CAST(SUM(CASE WHEN grp IS NOT NULL THEN cnt ELSE 0 END) AS BIGINT)
           AS n_dup_windows,
         MAX(CASE WHEN grp IS NOT NULL THEN cnt END) AS max_run
  FROM cells GROUP BY doc_id)
SELECT doc_id, n_windows, n_dup_windows,
       {sql_round_half_up('CAST(n_dup_windows AS DOUBLE) / CAST(n_windows AS DOUBLE)', 4)}
         AS dup_share,
       CAST(COALESCE(max_run + {PASSAGE_TOKENS} - 1, 0) AS BIGINT) AS longest_dup_span
FROM per
ORDER BY doc_id
"""


# --- exact-substring span REMOVAL --------------------------------------------


def substring_dup_removal(
    spark: SparkSession, sf_dir: str, frame: DataFrame | None = None
) -> DataFrame:
    """The acting half of `substring_dup_spans` (the ExactSubstr pipeline of
    Lee et al. 2021 *cuts* duplicated spans, it doesn't just measure them):
    rewrite every document with cross-document duplicated runs of ≥
    PASSAGE_TOKENS tokens excised under a deterministic keep-first-
    occurrence rule **applied per WINDOW**: a window is marked cut in a
    document iff its digest also occurs in a lower-doc_id document; a
    token is excised iff ANY cut window covers it. Per document: token
    totals before / after the cut, the cut fraction, and the rewritten
    text (tokens re-joined with single spaces) — the bytes-saved companion
    to `dedup_token_savings`, at substring rather than whole-doc
    granularity.

    Precision of the rule (matters at span boundaries): keep-first is a
    window-level mark, and token excision is the UNION of cut-window
    extents — so when a doc's OWNED window overlaps a cut window, the
    overlap tokens are still excised and that owned 8-gram may survive in
    no document (its first-occurrence doc never had it cut, but a doc can
    own window B while losing B's tokens to an adjacent cut). This is the
    same boundary clipping suffix-array ExactSubstr performs when it cuts
    byte ranges; the guarantee is "all tokens of every not-first-occurrence
    duplicated window are removed", NOT "every window's first occurrence
    survives verbatim". `substring_dup_removal_audit` measures the net
    effect rather than assuming it.

    Within-doc repetition is deliberately NOT cut (a document that is its
    own first occurrence keeps all its copies): that's
    `repetition_ratios`' signal, and cutting it would make the rule
    order-dependent within a document.

    Scale (100 TB): identical shuffle shape to `substring_dup_spans` — the
    cross-doc test is one hash-aggregate on the 32-char window digest
    (MIN(doc_id), **no pairwise join**); cut windows compress into
    consecutive-run islands via a doc-partitioned window (bounded by
    document length); each doc then carries its own interval list (a
    per-doc array, bounded by windows-per-doc) and the token filter is a
    per-row higher-order function — the document text itself never
    shuffles wider than its own row.

    `frame` injects a pre-built (optionally cached) `_removal_frame` so a
    job that also materializes the audit / shard capstone computes the
    windows→islands→excision pass ONCE (see `fused_curation_frame`).
    """
    frame = _removal_frame(spark, sf_dir) if frame is None else frame
    return (
        frame.select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.size("kept_toks").cast("long").alias("n_kept_tokens"),
            (F.size("toks") - F.size("kept_toks")).cast("long").alias("n_cut_tokens"),
            round_half_up(
                (F.size("toks") - F.size("kept_toks")).cast("double")
                / F.size("toks").cast("double"),
                4,
            ).alias("cut_frac"),
            F.array_join("kept_toks", " ").alias("kept_text"),
        )
    )
    # no final orderBy: one row per document with the full rewritten text —
    # the global range sort (sampling pass + range Exchange + sort over the
    # corpus-sized output) bought only presentation order, and the driver
    # comparator is order-insensitive (guide §2.4)


def _removal_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared core of the ExactSubstr acting family: one row per
    non-empty document with its original token array (`toks`) and the
    post-excision token array (`kept_toks`) under the keep-first-occurrence
    window rule documented on `substring_dup_removal`. No finishing stage
    (no sort, no string re-join) — consumers (`substring_dup_removal`,
    `substring_dup_removal_audit`, `curated_training_shards`,
    `curated_shard_manifest`) each apply their own, so a fused job can
    cache THIS frame and pay for the windows/islands pass once."""
    from pyspark.sql import Window

    docs = _nonempty(load_table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", tokens().alias("toks"))
    wins = _positioned_windows(base)
    # keep-first test as a digest-partitioned window MIN instead of
    # groupBy(digest).min + join-back: the join form planned the windows
    # subtree TWICE (the tokenize + md5 + posexplode pass over the whole
    # corpus appeared under both the aggregate and the probe side of the
    # join — two full scans, plus a broadcast of the keeper table that is
    # distinct-digest-sized, i.e. corpus-sized, at scale). One window pass
    # computes the same MIN(doc_id) per digest with ONE windows evaluation
    # and one exchange (guide §2.4: two operations keyed the same way share
    # one exchange). min-over-partition needs no orderBy, so the window is
    # a plain whole-partition frame on a high-cardinality key.
    keep_doc = F.min("doc_id").over(Window.partitionBy("digest"))
    cut = (
        wins.withColumn("keep_doc", keep_doc)
        .filter(F.col("keep_doc") < F.col("doc_id"))
        .select("doc_id", "pos")
    )
    return _excise(base, _cut_intervals(cut))


def _positioned_windows(base: DataFrame) -> DataFrame:
    """(doc_id, pos 1-based, digest) sliding PASSAGE_TOKENS-token windows of
    a (doc_id, toks) frame — the positioned twin of `_win_digests`, shared
    by `_removal_frame` and the incremental span-cut probe."""
    return (
        base.filter(F.size("toks") >= PASSAGE_TOKENS)
        .select("doc_id", F.posexplode(_win_digests()).alias("pos0", "digest"))
        .select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "digest")
    )


def _cut_intervals(cut: DataFrame) -> DataFrame:
    """Compress per-doc cut window POSITIONS into interval lists:
    consecutive cut positions -> one island; island [p1, p2] covers tokens
    [p1, p2 + W - 1] (token extents of nearby islands may still overlap —
    the per-token exists() in `_excise` handles that naturally). The window
    is doc_id-partitioned and bounded by windows-per-doc."""
    from pyspark.sql import Window

    runw = Window.partitionBy("doc_id").orderBy("pos")
    return (
        cut.withColumn("grp", F.col("pos") - F.row_number().over(runw))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(PASSAGE_TOKENS - 1)).cast("long").alias("e"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("ivs"))
    )


def _excise(base: DataFrame, ivs: DataFrame) -> DataFrame:
    """Apply a per-doc cut-interval list to a (doc_id, toks) frame: left-join
    the `(doc_id, ivs: array<struct<s,e>>)` intervals and drop every token
    whose 1-based position falls inside any interval — the ONE excision
    definition shared by `_removal_frame` and the incremental admission
    pipeline (`ingest._admission_frame`). Pure per-row higher-order
    functions; the token array never shuffles wider than its own row."""
    joined = base.join(ivs, "doc_id", "left").withColumn(
        "ivs",
        F.coalesce("ivs", F.expr("CAST(array() AS ARRAY<STRUCT<s: BIGINT, e: BIGINT>>)")),
    )
    kept_toks = F.expr(
        "transform(filter(transform(sequence(1, size(toks)), "
        "i -> struct(i AS i, element_at(toks, i) AS tok)), "
        "x -> NOT exists(ivs, v -> x.i >= v.s AND x.i <= v.e)), x -> x.tok)"
    )
    return joined.select("doc_id", "toks", kept_toks.alias("kept_toks"))


def fused_curation_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build `_removal_frame` once, cache it (`caching.materialize`), and
    return it for injection into `substring_dup_removal` /
    `substring_dup_removal_audit` / `curated_training_shards` /
    `curated_shard_manifest`. A curation job
    that materializes several of those artifacts pays the
    windows→islands→excision pass once instead of once per artifact; the
    standalone registry entries deliberately do NOT cache (a single
    consumer gains nothing from materialization)."""
    return caching.materialize(_removal_frame(spark, sf_dir), "fused_curation_frame")


_SUBSTRING_REMOVAL_SQL = f"""
WITH base AS (
  SELECT doc_id, {sql_tokens()} AS toks FROM documents WHERE trim(text) <> ''),
wins AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(toks[i : i + {PASSAGE_TOKENS} - 1], ' ')) AS digest
  FROM base, LATERAL unnest(range(1, len(toks) - {PASSAGE_TOKENS} + 2)) u(i)
  WHERE len(toks) >= {PASSAGE_TOKENS}),
keeper AS (SELECT digest, MIN(doc_id) AS keep_doc FROM wins GROUP BY digest),
cutw AS (
  SELECT w.doc_id, w.pos
  FROM wins w JOIN keeper k USING (digest)
  WHERE k.keep_doc < w.doc_id),
ivs AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + {PASSAGE_TOKENS} - 1 AS e
  FROM (SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM cutw) g
  GROUP BY doc_id, grp),
tok AS (
  SELECT b.doc_id, CAST(i AS BIGINT) AS i, toks[i] AS tok
  FROM base b, LATERAL unnest(range(1, len(toks) + 1)) u(i)),
flag AS (
  SELECT t.doc_id, t.i, t.tok,
         NOT EXISTS (SELECT 1 FROM ivs v
                     WHERE v.doc_id = t.doc_id AND t.i BETWEEN v.s AND v.e)
           AS kept
  FROM tok t)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_tokens,
       CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_cut_tokens,
       {sql_round_half_up('CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)', 4)}
         AS cut_frac,
       COALESCE(string_agg(CASE WHEN kept THEN tok END, ' ' ORDER BY i), '')
         AS kept_text
FROM flag
GROUP BY doc_id
ORDER BY doc_id
"""


# --- removal effectiveness audit ----------------------------------------------


def substring_dup_removal_audit(
    spark: SparkSession, sf_dir: str, frame: DataFrame | None = None
) -> DataFrame:
    """Did the cut actually clean the corpus? Re-run the cross-doc
    duplicated-window measurement on `substring_dup_removal`'s REWRITTEN
    text and report corpus-level before/after: docs with windows, window
    count, duplicated-window count, duplicated share. Residual (after)
    duplication is expected to be far lower but need not be zero, for two
    boundary reasons (both true of suffix-array ExactSubstr as well):
    excising a span makes its flanking tokens adjacent, which can mint new
    windows; and overlapping cuts can clip tokens out of a first-occurrence
    window (see the removal docstring), shifting what remains. This audit
    is the convergence signal an iterate-to-clean pipeline loops on —
    it measures the net effect instead of assuming an invariant.

    Scale (100 TB): two passes of the same no-pairwise-join shape as
    `substring_dup_spans` (digest hash-agg + equi-join back), the second
    over the rewritten corpus; output is 2 rows. Both stages consume
    `_removal_frame` directly — the after-stage reads the kept-TOKEN array
    (no global sort, no join-to-string-and-re-split round trip), and with
    an injected cached frame (`fused_curation_frame`) the before-stage
    reads the same materialization instead of rescanning the parquet.
    """
    w = PASSAGE_TOKENS
    if frame is None:
        # standalone: the before-stage is a plain pruned scan — routing it
        # through the (uncached) removal frame would drag the un-prunable
        # ivs left-join into a branch that only needs the original tokens
        frame = _removal_frame(spark, sf_dir)
        docs = _nonempty(load_table(spark, sf_dir, "documents"))
        before = docs.select("doc_id", tokens().alias("toks"))
    else:
        before = frame.select("doc_id", "toks")
    after = frame.select("doc_id", F.col("kept_toks").alias("toks"))
    wins_expr = _win_digests()

    def _stats(frame: DataFrame, stage: str) -> DataFrame:
        from pyspark.sql import Window

        wins = (
            frame.filter(F.size("toks") >= w)
            .select("doc_id", F.explode(wins_expr).alias("digest"))
        )
        # cross-doc test as a digest-partitioned window instead of
        # groupBy(digest).count_distinct + join-back: the join form planned
        # `wins` twice, and for the after-stage EACH evaluation is a full
        # `_removal_frame` excision pass (guide §1.2/§2.4; same min≠max
        # equivalence as `substring_dup_spans`)
        wdig = Window.partitionBy("digest")
        flagged = wins.select(
            "doc_id",
            (F.min("doc_id").over(wdig) != F.max("doc_id").over(wdig)).alias("dup"),
        )
        return flagged.agg(
            F.count_distinct("doc_id").alias("n_docs_with_windows"),
            F.count(F.lit(1)).alias("n_windows"),
            F.coalesce(
                F.sum(F.col("dup").cast("long")), F.lit(0)
            ).alias("n_dup_windows"),
        ).select(
            F.lit(stage).alias("stage"),
            "n_docs_with_windows",
            "n_windows",
            "n_dup_windows",
            F.when(
                F.col("n_windows") > 0,
                round_half_up(
                    F.col("n_dup_windows").cast("double")
                    / F.col("n_windows").cast("double"),
                    4,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_share"),
        )

    return (
        _stats(before, "before").unionByName(_stats(after, "after")).orderBy("stage")
    )


def _sql_removal_audit() -> str:
    w = PASSAGE_TOKENS

    def _stage(src: str, stage: str) -> str:
        return f"""
wins_{stage} AS (
  SELECT doc_id, md5(array_to_string(toks[i : i + {w} - 1], ' ')) AS digest
  FROM {src}, LATERAL unnest(range(1, len(toks) - {w} + 2)) u(i)
  WHERE len(toks) >= {w}),
nd_{stage} AS (
  SELECT digest, COUNT(DISTINCT doc_id) AS nd FROM wins_{stage} GROUP BY digest),
s_{stage} AS (
  SELECT '{stage}' AS stage,
         CAST(COUNT(DISTINCT x.doc_id) AS BIGINT) AS n_docs_with_windows,
         CAST(COUNT(*) AS BIGINT) AS n_windows,
         CAST(COALESCE(SUM(CASE WHEN n.nd >= 2 THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_dup_windows
  FROM wins_{stage} x JOIN nd_{stage} n USING (digest))"""

    return f"""
WITH before_c AS (
  SELECT doc_id, {sql_tokens()} AS toks FROM documents WHERE trim(text) <> ''),
removal AS ({_SUBSTRING_REMOVAL_SQL}),
after_c AS (
  SELECT doc_id, list_filter(string_split(kept_text, ' '), x -> x <> '') AS toks
  FROM removal),
{_stage('before_c', 'before').lstrip()},
{_stage('after_c', 'after').lstrip()}
SELECT stage, n_docs_with_windows, n_windows, n_dup_windows,
       CASE WHEN n_windows > 0 THEN
         {sql_round_half_up('CAST(n_dup_windows AS DOUBLE) / CAST(n_windows AS DOUBLE)', 4)}
       ELSE 0.0 END AS dup_share
FROM (SELECT * FROM s_after UNION ALL SELECT * FROM s_before) t
ORDER BY stage
"""


# --- unigram entropy --------------------------------------------------------


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy (nats) of the unigram distribution:
    H = −Σ_w p_w·ln(p_w), p_w = c_w / n.

    Each term is rounded to 1e-8 and summed as BIGINT so the total is
    exact under any partitioning / accumulation order (`drift.py`'s
    order-independent-sum discipline)."""
    docs = _nonempty(load_table(spark, sf_dir, "documents"))
    tcnt = (
        docs.select("doc_id", F.explode(tokens()).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # doc totals via a doc-partitioned window instead of groupBy + join-back
    # (the join form planned the explode + (doc, token) aggregate twice —
    # guide §1.2/§2.4); the final groupBy then reuses the window's doc_id
    # partitioning, so no extra exchange
    from pyspark.sql import Window

    p = F.col("c").cast("double") / F.col("n").cast("double")
    term_e8 = F.floor((-p * F.log(p)) * F.lit(1e8) + F.lit(0.5)).cast("long")
    return (
        tcnt.withColumn("n", F.sum("c").over(Window.partitionBy("doc_id")))
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            (F.sum(term_e8).cast("double") / F.lit(1e8)).alias("entropy_nats"),
        )
        # no final orderBy: scaling output, order-insensitive gate (guide §2.4)
    )


_ENTROPY_SQL = f"""
WITH tcnt AS (
  SELECT doc_id, w, COUNT(*) AS c
  FROM (SELECT doc_id,
               unnest({sql_tokens()}) AS w
        FROM documents WHERE trim(text) <> '') t
  GROUP BY doc_id, w),
tot AS (SELECT doc_id, SUM(c) AS n FROM tcnt GROUP BY doc_id)
SELECT t.doc_id,
       CAST(MAX(t2.n) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_distinct_tokens,
       CAST(SUM(CAST(FLOOR(
           (-(CAST(c AS DOUBLE) / CAST(t2.n AS DOUBLE))
             * ln(CAST(c AS DOUBLE) / CAST(t2.n AS DOUBLE))) * 100000000.0 + 0.5)
         AS BIGINT)) AS DOUBLE) / 100000000.0 AS entropy_nats
FROM tcnt t JOIN tot t2 USING (doc_id)
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


# --- provenance: cross-source duplicate overlap -----------------------------


def source_dedup_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources duplicate each other: for every unordered source pair
    (a ≤ b), how many canonical-fingerprint groups (`dedup_fingerprint`'s
    sorted-distinct-token md5) have a copy in both — the diagonal counts
    groups duplicated within one source. The provenance view that decides
    which feeds to drop when deduplicating a multi-source corpus.

    Scale shape: the self-join is on the digest over the (digest, source)
    DISTINCT reduction, so per-digest fan-out is bounded by the number of
    sources (enum-sized), never by document count."""
    from ..catalog import spread_small_scan

    # spread_small_scan: per-doc full-token-array sort + md5 is the heavy
    # map pass here; single-split scan locally, no-op at scale
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(tokens())), " "))
    per = (
        docs.select(fp.alias("digest"), "source")
        .groupBy("digest", "source")
        .agg(F.count(F.lit(1)).alias("n_copies"))
    )
    cross = (
        per.alias("a")
        .join(per.alias("b"), "digest")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_groups"))
    )
    diag = (
        per.filter(F.col("n_copies") >= 2)
        .groupBy(F.col("source").alias("source_a"), F.col("source").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_groups"))
    )
    return cross.unionByName(diag).orderBy("source_a", "source_b")


_SOURCE_OVERLAP_SQL = f"""
WITH per AS (
  SELECT md5(array_to_string(list_sort(list_distinct({sql_tokens()})), ' ')) AS digest,
         source, COUNT(*) AS n_copies
  FROM documents
  GROUP BY 1, 2)
SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared_groups
FROM per a JOIN per b USING (digest)
WHERE a.source < b.source
GROUP BY 1, 2
UNION ALL
SELECT source AS source_a, source AS source_b, COUNT(*) AS n_shared_groups
FROM per WHERE n_copies >= 2
GROUP BY 1, 2
ORDER BY source_a, source_b
"""


# --- language-ID quality: confusion matrix ----------------------------------


def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared vs predicted language counts — the QA rollup for the
    marker-token classifier in `text.lang_id`. One extra hash-agg over the
    per-doc predictions; ≤ |langs|² output cells."""
    from .text import lang_id

    return (
        lang_id(spark, sf_dir)
        .groupBy("declared_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("declared_lang", "predicted_lang")
    )


def _sql_lang_confusion() -> str:
    from .text import _sql_lang_id

    return f"""
SELECT declared_lang, predicted_lang, COUNT(*) AS n_docs
FROM ({_sql_lang_id()}) t
GROUP BY declared_lang, predicted_lang
ORDER BY declared_lang, predicted_lang
"""


# --- one-row curation dashboard ---------------------------------------------


def corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health dashboard — the `fleet_summary` (SURVEY §2.4
    A7/J2 scalar-combine) pattern applied to training-data curation:

      n_docs, n_dup_groups (fingerprint groups with ≥2 members),
      lang_match_pct (declared == predicted under the marker classifier),
      mean_entropy_nats, mean_top_token_frac.

    Every mean is an exact integer sum (per-term 1e-8 entropy units /
    per-doc 1e-4 frac units) divided once at the end, so the result is
    partition-order independent; the single-row aggregates combine via
    broadcast crossJoin exactly like fleet_summary."""
    from .text import lang_id

    docs = _nonempty(load_table(spark, sf_dir, "documents"))

    counts = docs.agg(F.count(F.lit(1)).alias("n_docs"))

    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(tokens())), " "))
    dups = (
        docs.select(fp.alias("digest"))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") >= 2)
        .agg(F.count(F.lit(1)).alias("n_dup_groups"))
    )

    # restrict the classifier output to the SAME non-empty population as
    # n_docs — otherwise empty docs whose declared lang happens to equal
    # the classifier's zero-hit default would inflate the numerator past
    # the denominator (lang_match_pct > 100)
    match = (
        lang_id(spark, sf_dir)
        .join(docs.select("doc_id"), "doc_id")
        .agg(
            F.sum(
                F.when(F.col("declared_lang") == F.col("predicted_lang"), 1).otherwise(0)
            ).alias("n_match")
        )
    )

    # NOTE (round 8, measured): caching tcnt (it feeds totals + the entropy
    # probe) was tried and is SLOWER (3.9 → 5.6 s at ~sf1) — materializing
    # the corpus-token-sized aggregate costs more than recomputing it in
    # parallel branches. Left uncached deliberately.
    tcnt = (
        docs.select("doc_id", F.explode(tokens()).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = tcnt.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.max("c").alias("max_c")
    )
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term_e8 = F.floor((-p * F.log(p)) * F.lit(1e8) + F.lit(0.5)).cast("long")
    ent = (
        tcnt.join(totals.select("doc_id", "n"), "doc_id")
        .agg(F.sum(term_e8).alias("ent_e8_sum"))
    )
    frac_e4 = F.floor(
        F.col("max_c").cast("double") / F.col("n").cast("double") * F.lit(1e4)
        + F.lit(0.5)
    ).cast("long")
    rep = totals.agg(F.sum(frac_e4).alias("frac_e4_sum"))

    one = (
        counts.crossJoin(F.broadcast(dups))
        .crossJoin(F.broadcast(match))
        .crossJoin(F.broadcast(ent))
        .crossJoin(F.broadcast(rep))
    )
    n_d = F.col("n_docs").cast("double")
    return one.select(
        "n_docs",
        "n_dup_groups",
        round_half_up(
            F.lit(100.0) * F.col("n_match").cast("double") / n_d, 4
        ).alias("lang_match_pct"),
        (F.col("ent_e8_sum").cast("double") / n_d / F.lit(1e8)).alias(
            "mean_entropy_nats"
        ),
        (F.col("frac_e4_sum").cast("double") / n_d / F.lit(1e4)).alias(
            "mean_top_token_frac"
        ),
    )


def _sql_curation_report() -> str:
    from .text import _sql_lang_id

    return f"""
WITH docs_ne AS (SELECT * FROM documents WHERE trim(text) <> ''),
counts AS (SELECT COUNT(*) AS n_docs FROM docs_ne),
dups AS (
  SELECT COUNT(*) AS n_dup_groups FROM (
    SELECT md5(array_to_string(list_sort(list_distinct({sql_tokens()})), ' ')) AS digest,
           COUNT(*) AS n_members
    FROM docs_ne GROUP BY 1 HAVING COUNT(*) >= 2) t),
lmatch AS (
  SELECT CAST(SUM(CASE WHEN declared_lang = predicted_lang THEN 1 ELSE 0 END) AS BIGINT)
           AS n_match
  FROM ({_sql_lang_id()}) li
  JOIN docs_ne d ON li.doc_id = d.doc_id),
tcnt AS (
  SELECT doc_id, w, COUNT(*) AS c
  FROM (SELECT doc_id, unnest({sql_tokens()}) AS w FROM docs_ne) t
  GROUP BY doc_id, w),
totals AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, MAX(c) AS max_c
           FROM tcnt GROUP BY doc_id),
ent AS (
  SELECT CAST(SUM(CAST(FLOOR(
      (-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) * 100000000.0 + 0.5)
    AS BIGINT)) AS BIGINT) AS ent_e8_sum
  FROM tcnt JOIN totals USING (doc_id)),
rep AS (
  SELECT CAST(SUM(CAST(FLOOR(
      CAST(max_c AS DOUBLE) / CAST(n AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT)
    AS frac_e4_sum
  FROM totals)
SELECT n_docs, n_dup_groups,
       {sql_round_half_up('100.0 * CAST(n_match AS DOUBLE) / CAST(n_docs AS DOUBLE)', 4)}
         AS lang_match_pct,
       CAST(ent_e8_sum AS DOUBLE) / CAST(n_docs AS DOUBLE) / 100000000.0
         AS mean_entropy_nats,
       CAST(frac_e4_sum AS DOUBLE) / CAST(n_docs AS DOUBLE) / 10000.0
         AS mean_top_token_frac
FROM counts, dups, lmatch, ent, rep
"""


# --- source diversity ---------------------------------------------------------


def source_diversity_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini–Simpson diversity of sources within each language:
    D = 1 − Σ(nᵢ/N)² — the concentration number a data-mixing plan
    monitors (D → 0 means one source dominates the language and its
    quirks become that language's training signal).

    Exactness: D = (N² − Σnᵢ²)/N² from two integer sums over the
    (lang, source) cells; one IEEE division, round-half-up 4dp. Effective
    source count 1/(1−D) = N²/Σnᵢ² reported the same way.

    Scale: |langs|·|sources| cells from one partial-aggregated shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    per_lang = cells.groupBy("lang").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_sources"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
    )
    d = (
        (F.col("n_docs") * F.col("n_docs") - F.col("sum_sq")).cast("double")
        / (F.col("n_docs") * F.col("n_docs")).cast("double")
    )
    eff = (F.col("n_docs") * F.col("n_docs")).cast("double") / F.col("sum_sq").cast("double")
    return per_lang.select(
        "lang",
        "n_docs",
        "n_sources",
        round_half_up(d, 4).alias("gini_simpson"),
        round_half_up(eff, 4).alias("effective_sources"),
    ).orderBy("lang")


_DIVERSITY_SQL = f"""
WITH cells AS (SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2),
per_lang AS (
  SELECT lang, SUM(n) AS n_docs, COUNT(*) AS n_sources, SUM(n * n) AS sum_sq
  FROM cells GROUP BY lang)
SELECT lang,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_sources AS BIGINT) AS n_sources,
       {sql_round_half_up("CAST(n_docs * n_docs - sum_sq AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE)", 4)} AS gini_simpson,
       {sql_round_half_up("CAST(n_docs * n_docs AS DOUBLE) / CAST(sum_sq AS DOUBLE)", 4)} AS effective_sources
FROM per_lang
ORDER BY lang
"""


# --- temperature-scaled mixture weights --------------------------------------

MIX_TOKEN_BUDGET = 1_000_000  # tokens drawn per training epoch in the report


def _source_weight_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (n_docs, n_tokens, w_e6): the τ=0.5 temperature weight
    block — sqrt(n_tokens) rounded to 1e-6 fixed point BEFORE any
    denominator sum. The ONE definition `mixture_temperature_weights` and
    `epoch_allocation_plan` share (a temperature or fixed-point-scale
    change here moves both reports together; their SQL twins share
    `_SQL_SOURCE_WEIGHTS` the same way). Whitespace-only docs are excluded
    (split yields [''] on both engines, which would count 1 phantom token
    into n_tokens and the EPOCH_CAP ceiling)."""
    docs = _nonempty(load_table(spark, sf_dir, "documents"))
    return (
        docs.select("source", F.size(tokens()).cast("long").alias("n_toks"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("n_tokens"))
        .withColumn(
            "w_e6",
            F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1e6 + F.lit(0.5)).cast(
                "long"
            ),
        )
    )


_SQL_SOURCE_WEIGHTS = f"""per_source AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len({sql_tokens()})) AS BIGINT) AS n_tokens
  FROM documents WHERE trim(text) <> '' GROUP BY source),
w AS (
  SELECT *, CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
              AS w_e6
  FROM per_source)"""


def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights for temperature-scaled data mixing at
    τ = 0.5 — the standard multilingual/multi-source rebalancing rule
    p_s ∝ n_s^τ (τ=1 is natural sampling, τ→0 uniform; 0.5 is sqrt
    scaling, chosen here because IEEE sqrt is correctly rounded and thus
    engine-portable, unlike pow()). For each source: token mass, its
    natural share, its temperature share, the up/down-sampling boost, and
    the effective epochs over a MIX_TOKEN_BUDGET-token draw (how many
    times the source's data repeats — the overfitting-risk number for
    low-resource sources).

    Exactness: token masses are int64 counts; sqrt(n_tokens) is rounded to
    1e-6 fixed point BEFORE the denominator sum, so every share is a ratio
    of exact integers (no order-dependent double accumulation).

    Scale: one map-side size() pass over documents → |sources| cells →
    1-row denominator broadcast back. Nothing grows with the corpus but
    the first aggregation's input.
    """
    per_source = _source_weight_frame(spark, sf_dir)
    totals = per_source.agg(
        F.sum("n_tokens").alias("_tot_tokens"), F.sum("w_e6").alias("_tot_w")
    )
    nat = F.col("n_tokens").cast("double") / F.col("_tot_tokens").cast("double")
    tmp = F.col("w_e6").cast("double") / F.col("_tot_w").cast("double")
    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            round_half_up(nat, 6).alias("natural_share"),
            round_half_up(tmp, 6).alias("temp_share"),
            round_half_up(tmp / nat, 4).alias("boost"),
            round_half_up(
                tmp * F.lit(float(MIX_TOKEN_BUDGET)) / F.col("n_tokens").cast("double"),
                4,
            ).alias("effective_epochs"),
        )
        .orderBy("source")
    )


_MIXTURE_SQL = f"""
WITH {_SQL_SOURCE_WEIGHTS},
tot AS (SELECT SUM(n_tokens) AS tot_tokens, SUM(w_e6) AS tot_w FROM w)
SELECT source, n_docs, n_tokens,
       {sql_round_half_up("CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)", 6)} AS natural_share,
       {sql_round_half_up("CAST(w_e6 AS DOUBLE) / CAST(tot_w AS DOUBLE)", 6)} AS temp_share,
       {sql_round_half_up("(CAST(w_e6 AS DOUBLE) / CAST(tot_w AS DOUBLE)) / (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE))", 4)} AS boost,
       {sql_round_half_up(f"(CAST(w_e6 AS DOUBLE) / CAST(tot_w AS DOUBLE)) * {float(MIX_TOKEN_BUDGET)} / CAST(n_tokens AS DOUBLE)", 4)} AS effective_epochs
FROM w CROSS JOIN tot
ORDER BY source
"""


# --- epoch allocation: acting on the temperature mix -------------------------

EPOCH_CAP = 4.0  # max repeats of any source's data (data-constrained scaling:
                 # ~4 epochs is where repeated tokens stop helping — Muennighoff
                 # et al. 2023; the standard cap in multi-source mixing)


def epoch_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The acting half of `mixture_temperature_weights`: turn the τ=0.5
    temperature shares into an integer TOKEN GRANT per source under a
    MIX_TOKEN_BUDGET draw with an EPOCH_CAP repeat ceiling, plus ONE
    pro-rata redistribution round of the capped sources' surplus to the
    sources with headroom (full water-filling iterates this step to a
    fixed point; one round is reported so the residual is visible rather
    than hidden). `shortfall_tokens` is the SIGNED per-row delta
    alloc − granted: positive on a capped source (its unplaced raw
    allocation), negative on a receiver (spill absorbed beyond its own
    allocation). Only the SUM across rows — not any single row — says
    whether the budget is placeable under the cap (sum > 0 after this
    round ⇒ it is not, pending further water-filling rounds).

    Per source: the raw allocation, the cap, the granted tokens after
    redistribution, the final epoch count, and whether the cap bound.

    Exactness: grants are floor'd int64 token counts derived from the
    same 1e-6 fixed-point sqrt weights as the mixture report — every
    column is a ratio/floor of exact integers, engine-portable.

    Scale: |sources| rows after one map-side token-count agg; the two
    "totals" combines are 1-row broadcasts. Nothing grows with the corpus
    but the first aggregation's input.
    """
    per_source = _source_weight_frame(spark, sf_dir).drop("n_docs")
    tot_w = per_source.agg(F.sum("w_e6").alias("_tot_w"))
    g0 = (
        per_source.crossJoin(F.broadcast(tot_w))
        .withColumn(
            "alloc_tokens",
            F.floor(
                F.col("w_e6").cast("double")
                / F.col("_tot_w").cast("double")
                * F.lit(float(MIX_TOKEN_BUDGET))
            ).cast("long"),
        )
        .withColumn(
            "cap_tokens",
            F.floor(F.col("n_tokens").cast("double") * F.lit(EPOCH_CAP)).cast("long"),
        )
        .withColumn("granted0", F.least("alloc_tokens", "cap_tokens"))
        .withColumn("headroom", F.col("cap_tokens") - F.col("granted0"))
    )
    spill = g0.agg(
        F.sum(F.col("alloc_tokens") - F.col("granted0")).alias("_spill"),
        F.sum("headroom").alias("_headroom"),
    )
    redist = F.when(
        (F.col("_headroom") > 0) & (F.col("_spill") > 0),
        F.least(
            F.col("headroom"),
            F.floor(
                F.col("_spill").cast("double")
                * F.col("headroom").cast("double")
                / F.col("_headroom").cast("double")
            ).cast("long"),
        ),
    ).otherwise(F.lit(0))
    granted = F.col("granted0") + redist
    return (
        g0.crossJoin(F.broadcast(spill))
        .select(
            "source",
            "n_tokens",
            "alloc_tokens",
            "cap_tokens",
            granted.cast("long").alias("granted_tokens"),
            (F.col("alloc_tokens") - granted).cast("long").alias("shortfall_tokens"),
            round_half_up(
                granted.cast("double") / F.col("n_tokens").cast("double"), 4
            ).alias("epochs"),
            (F.col("alloc_tokens") > F.col("cap_tokens")).alias("capped"),
        )
        .orderBy("source")
    )


_EPOCH_PLAN_SQL = f"""
WITH {_SQL_SOURCE_WEIGHTS},
tot AS (SELECT SUM(w_e6) AS tot_w FROM w),
g0 AS (
  SELECT source, n_tokens,
         CAST(FLOOR(CAST(w_e6 AS DOUBLE) / CAST(tot_w AS DOUBLE) * {float(MIX_TOKEN_BUDGET)}) AS BIGINT)
           AS alloc_tokens,
         CAST(FLOOR(CAST(n_tokens AS DOUBLE) * {EPOCH_CAP}) AS BIGINT) AS cap_tokens
  FROM w CROSS JOIN tot),
g1 AS (
  SELECT *, LEAST(alloc_tokens, cap_tokens) AS granted0,
         cap_tokens - LEAST(alloc_tokens, cap_tokens) AS headroom
  FROM g0),
spill AS (
  SELECT SUM(alloc_tokens - granted0) AS spill, SUM(headroom) AS headroom_tot
  FROM g1),
g2 AS (
  SELECT g1.*,
         granted0 + CASE WHEN s.headroom_tot > 0 AND s.spill > 0
                         THEN LEAST(headroom,
                                    CAST(FLOOR(CAST(s.spill AS DOUBLE) * CAST(headroom AS DOUBLE)
                                               / CAST(s.headroom_tot AS DOUBLE)) AS BIGINT))
                         ELSE 0 END AS granted
  FROM g1 CROSS JOIN spill s)
SELECT source, n_tokens, alloc_tokens, cap_tokens,
       CAST(granted AS BIGINT) AS granted_tokens,
       CAST(alloc_tokens - granted AS BIGINT) AS shortfall_tokens,
       {sql_round_half_up('CAST(granted AS DOUBLE) / CAST(n_tokens AS DOUBLE)', 4)} AS epochs,
       alloc_tokens > cap_tokens AS capped
FROM g2
ORDER BY source
"""


# --- the curation funnel: sequential survival through the filter ladder ----

FLUENCY_FLOOR = 2.0  # mean corpus bigram count >= 2: not mostly-unique text


def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-attributed survival counts through the full curation ladder,
    per language — the funnel a corpus build publishes so each filter's
    bite is visible (a stage that silently eats 90% of one language is a
    mixture bug, not a quality win):

      n_docs → n_canonical (kept as its near-dup cluster's best-quality
      copy) → n_quality (≥ heuristic cutoff) → n_clf (hashed-classifier
      keep) → n_fluent (corpus-bigram fluency ≥ floor).

    Composes `near_dup_canonicals`, `quality_scores`,
    `quality_classifier_scores`, and `bigram_fluency_scores` into ONE
    declarative plan: each signal branch scans only the parquet columns it
    needs (pruned scans — the signals are independent passes over the
    corpus, exactly as a production build schedules them), and the funnel
    itself is conditional sums over one joined row per doc — no per-STAGE
    rescans. Stages are cumulative (each ANDs onto the previous), so
    columns are monotone non-increasing left to right."""
    from .dedup import QUALITY_CUTOFF

    joined = _curation_joined(spark, sf_dir)
    s1 = F.col("is_keeper").isNotNull()
    s2 = s1 & (F.col("quality_score") >= F.lit(QUALITY_CUTOFF))
    s3 = s2 & (F.col("keep_flag") == 1)
    s4 = s3 & (F.col("fluency_score") >= F.lit(FLUENCY_FLOOR))

    def n(cond: F.Column, name: str) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)

    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            n(s1, "n_canonical"),
            n(s2, "n_quality"),
            n(s3, "n_clf"),
            n(s4, "n_fluent"),
        )
        .orderBy("lang")
    )


def _curation_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per document with every ladder signal joined on: is_keeper
    (near-dup canonical), quality_score, keep_flag (hashed classifier),
    fluency_score (LEFT — short docs have no bigrams). Shared by the
    funnel report and the per-doc verdict manifest.

    Plan shape (guide §1.2/§2.4): quality and classifier are both pure
    per-row expressions over the same `documents` scan, so they are
    computed in ONE fused projection instead of two independently scanned
    frames joined back on doc_id — two full corpus scans and two
    join exchanges removed. The fused signal frame is DELIBERATELY NOT
    cached (round 8, measured: a cached variant ran 21.9 s vs 18.3 s on
    `curated_shard_manifest` at ~sf1 — materializing it serialized scans
    that otherwise run as parallel independent stages; plain plan reuse
    keeps the parallelism). Its quality column is injected into
    `near_dup_canonicals`, whose keeper election used to re-run the
    quality scoring scan a third time."""
    from .dedup import near_dup_canonicals
    from .text import _clf_exprs, _quality_score_col, bigram_fluency_scores

    from ..catalog import spread_small_scan

    # spread_small_scan: the fused projection below tokenizes each doc
    # several times (quality components + classifier hash fold) — the
    # funnel family's dominant map pass over a single-split scan locally
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    sig = docs.select(
        "doc_id",
        "lang",
        _quality_score_col().alias("quality_score"),
        _clf_exprs()["keep_flag"].alias("keep_flag"),
    )
    keepers = near_dup_canonicals(
        spark, sf_dir, quality=sig.select("doc_id", "quality_score")
    ).select(F.col("keeper_doc_id").alias("doc_id"), F.lit(1).alias("is_keeper"))
    return sig.join(keepers, "doc_id", "left").join(
        bigram_fluency_scores(spark, sf_dir).select("doc_id", "fluency_score"),
        "doc_id",
        "left",
    )


def curation_kept_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The acting artifact of `curation_funnel_report`: the per-document
    verdict a corpus build actually materializes — `kept` for survivors of
    all four ladder stages, else the FIRST stage that dropped the doc
    (`dropped_near_dup` / `dropped_quality` / `dropped_classifier` /
    `dropped_fluency`). Filtering `verdict = 'kept'` IS the curated
    training set; the verdict column is the per-doc audit trail the
    funnel's per-language counts aggregate away.

    Same one-joined-row-per-doc plan as the funnel (each signal branch is
    an independent pruned scan; no per-stage rescans); output is one
    narrow row per document — at 100 TB this is the manifest written
    alongside the curated corpus, partitioned like the docs themselves.
    """
    joined = _curation_joined(spark, sf_dir)
    # no final orderBy (corpus-sized per-doc output; driver comparator is
    # order-insensitive — guide §2.4)
    return joined.select("doc_id", "lang", _verdict_col().alias("verdict"))


def _verdict_col() -> F.Column:
    """First-dropping-stage CASE over `_curation_joined`'s signal columns —
    the ONE definition `curation_kept_docs` and the shard capstone share."""
    from .dedup import QUALITY_CUTOFF

    return (
        F.when(F.col("is_keeper").isNull(), F.lit("dropped_near_dup"))
        .when(F.col("quality_score") < F.lit(QUALITY_CUTOFF), F.lit("dropped_quality"))
        .when(F.col("keep_flag") != 1, F.lit("dropped_classifier"))
        .when(
            F.col("fluency_score").isNull()
            | (F.col("fluency_score") < F.lit(FLUENCY_FLOOR)),
            F.lit("dropped_fluency"),
        )
        .otherwise(F.lit("kept"))
    )


def _sql_curation_kept() -> str:
    from .dedup import QUALITY_CUTOFF, _sql_near_dup_canonicals
    from .text import _CLF_SQL, _FLUENCY_SQL, _QUALITY_SQL

    return f"""
WITH keepers AS (SELECT keeper_doc_id AS doc_id FROM ({_sql_near_dup_canonicals()}) c),
quality AS (SELECT doc_id, quality_score FROM ({_QUALITY_SQL}) q),
clf AS (SELECT doc_id, keep_flag FROM ({_CLF_SQL}) c2),
flu AS (SELECT doc_id, fluency_score FROM ({_FLUENCY_SQL}) f)
SELECT d.doc_id, d.lang,
       CASE WHEN k.doc_id IS NULL THEN 'dropped_near_dup'
            WHEN q.quality_score < {QUALITY_CUTOFF} THEN 'dropped_quality'
            WHEN c2.keep_flag <> 1 THEN 'dropped_classifier'
            WHEN f.fluency_score IS NULL OR f.fluency_score < {FLUENCY_FLOOR}
              THEN 'dropped_fluency'
            ELSE 'kept' END AS verdict
FROM documents d
LEFT JOIN keepers k ON k.doc_id = d.doc_id
JOIN quality q ON q.doc_id = d.doc_id
JOIN clf c2 ON c2.doc_id = d.doc_id
LEFT JOIN flu f ON f.doc_id = d.doc_id
ORDER BY d.doc_id
"""


# --- vocabulary-impact audit of the funnel -----------------------------------

def curation_vocab_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did the funnel bias the corpus vocabulary? Per language: the
    distinct-token vocabulary of all docs vs of the verdict='kept' docs,
    the vocabulary LOST (tokens appearing only in dropped docs), and the
    token-mass share the kept set retains. Quality/fluency filters are
    known to disproportionately kill rare-token and low-resource text —
    the per-language funnel counts (`curation_funnel_report`) cannot see
    that; this is the vocabulary-level bias audit run before accepting a
    threshold setting (the diversity companion to
    `curation_threshold_matrix`'s keep-count surface).

    Scale: one token explode joined to the per-doc verdict manifest →
    (lang, token)-keyed distinct aggregation (map-side combinable) →
    |langs| rows. The verdict side is one row per doc; nothing pairwise.
    """
    docs = _nonempty(load_table(spark, sf_dir, "documents"))
    verd = curation_kept_docs(spark, sf_dir).select(
        "doc_id", (F.col("verdict") == "kept").alias("kept")
    )
    toks = docs.select("doc_id", "lang", F.explode(tokens()).alias("tok"))
    joined = toks.join(verd, "doc_id")
    return (
        joined.groupBy("lang")
        .agg(
            F.countDistinct("tok").alias("vocab_total"),
            F.countDistinct(F.when(F.col("kept"), F.col("tok"))).alias("vocab_kept"),
            F.count(F.lit(1)).alias("tokens_total"),
            F.sum(F.col("kept").cast("long")).alias("tokens_kept"),
        )
        .select(
            "lang",
            F.col("vocab_total").cast("long").alias("vocab_total"),
            F.col("vocab_kept").cast("long").alias("vocab_kept"),
            (F.col("vocab_total") - F.col("vocab_kept")).cast("long").alias("vocab_lost"),
            round_half_up(
                (F.col("vocab_total") - F.col("vocab_kept")).cast("double")
                / F.col("vocab_total").cast("double"),
                6,
            ).alias("vocab_lost_frac"),
            F.col("tokens_total").cast("long").alias("tokens_total"),
            F.col("tokens_kept").cast("long").alias("tokens_kept"),
            round_half_up(
                F.col("tokens_kept").cast("double") / F.col("tokens_total").cast("double"),
                6,
            ).alias("kept_mass_share"),
        )
        .orderBy("lang")
    )


def _sql_vocab_impact() -> str:
    return f"""
WITH verd AS (
  SELECT doc_id, verdict = 'kept' AS kept FROM ({_sql_curation_kept()}) v),
tok AS (
  SELECT doc_id, lang, unnest({sql_tokens()}) AS tok
  FROM documents WHERE trim(text) <> ''),
joined AS (SELECT t.lang, t.tok, v.kept FROM tok t JOIN verd v USING (doc_id))
SELECT lang,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab_total,
       CAST(COUNT(DISTINCT CASE WHEN kept THEN tok END) AS BIGINT) AS vocab_kept,
       CAST(COUNT(DISTINCT tok) - COUNT(DISTINCT CASE WHEN kept THEN tok END) AS BIGINT)
         AS vocab_lost,
       {sql_round_half_up('CAST(COUNT(DISTINCT tok) - COUNT(DISTINCT CASE WHEN kept THEN tok END) AS DOUBLE) / CAST(COUNT(DISTINCT tok) AS DOUBLE)', 6)}
         AS vocab_lost_frac,
       CAST(COUNT(*) AS BIGINT) AS tokens_total,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS tokens_kept,
       {sql_round_half_up('CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)', 6)}
         AS kept_mass_share
FROM joined
GROUP BY lang
ORDER BY lang
"""


# --- stage ablation: order-free attribution of the funnel's drops -------------

# (order, name, the stage's FAIL predicate over `_curation_joined` columns) —
# the same four signals `_verdict_col` sequences, evaluated independently
_ABLATION_STAGES = ("near_dup", "quality", "classifier", "fluency")


def _stage_fail_cols() -> dict[str, F.Column]:
    from .dedup import QUALITY_CUTOFF

    return {
        "near_dup": F.col("is_keeper").isNull(),
        "quality": F.col("quality_score") < F.lit(QUALITY_CUTOFF),
        "classifier": F.col("keep_flag") != 1,
        "fluency": F.col("fluency_score").isNull()
        | (F.col("fluency_score") < F.lit(FLUENCY_FLOOR)),
    }


def curation_stage_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-free drop attribution for the curation ladder: each stage's
    fail predicate evaluated INDEPENDENTLY per document, then per stage the
    total failures, the uniquely-attributable drops (docs no other stage
    would catch — the stage's true marginal bite, what the corpus would
    regain if the stage were removed), and the shared drops (docs at least
    one other stage also fails — redundancy). The funnel report's
    sequential counts hide this: a stage late in the ladder can look
    harmless while actually being the only thing catching a whole failure
    class, or look expensive while only re-dropping what dedup already
    caught.

    Scale (100 TB): the same one-joined-row-per-doc plan as the funnel
    (`_curation_joined`, each signal an independent pruned scan); the
    ablation itself is 9 conditional sums in ONE aggregate — a 1-row
    reduce fanned to 4 rows by a constant-size `stack`. Zero cost beyond
    the signals themselves.
    """
    fails = _stage_fail_cols()
    flags = _curation_joined(spark, sf_dir).select(
        *[c.cast("int").alias(k) for k, c in fails.items()]
    )
    flags = flags.withColumn("nf", sum(F.col(k) for k in _ABLATION_STAGES))
    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            e
            for k in _ABLATION_STAGES
            for e in (
                F.sum(F.col(k)).cast("long").alias(f"fail_{k}"),
                F.sum(F.when((F.col(k) == 1) & (F.col("nf") == 1), 1).otherwise(0))
                .cast("long")
                .alias(f"uniq_{k}"),
            )
        ],
    )
    stack_args = ", ".join(
        f"CAST({i + 1} AS BIGINT), '{k}', fail_{k}, uniq_{k}"
        for i, k in enumerate(_ABLATION_STAGES)
    )
    rows = agg.selectExpr(
        f"stack({len(_ABLATION_STAGES)}, {stack_args})"
        " AS (stage_order, stage, n_fail, n_unique_drop)",
        "n_docs",
    )
    return rows.select(
        "stage_order",
        "stage",
        "n_fail",
        "n_unique_drop",
        (F.col("n_fail") - F.col("n_unique_drop")).cast("long").alias("n_shared_drop"),
        round_half_up(
            F.col("n_fail").cast("double") / F.col("n_docs").cast("double") * 100.0, 4
        ).alias("fail_pct"),
    ).orderBy("stage_order")


def _sql_stage_ablation() -> str:
    from .dedup import QUALITY_CUTOFF, _sql_near_dup_canonicals
    from .text import _CLF_SQL, _FLUENCY_SQL, _QUALITY_SQL

    arms = []
    for i, k in enumerate(_ABLATION_STAGES):
        pct = sql_round_half_up(
            f"CAST(fail_{k} AS DOUBLE) / CAST(n_docs AS DOUBLE) * 100.0", 4
        )
        arms.append(
            f"SELECT CAST({i + 1} AS BIGINT) AS stage_order, '{k}' AS stage,"
            f" CAST(fail_{k} AS BIGINT) AS n_fail,"
            f" CAST(uniq_{k} AS BIGINT) AS n_unique_drop,"
            f" CAST(fail_{k} - uniq_{k} AS BIGINT) AS n_shared_drop,"
            f" {pct} AS fail_pct FROM agg"
        )
    union = "\n  UNION ALL\n  ".join(arms)
    sums = ",\n         ".join(
        f"SUM(f_{k}) AS fail_{k},"
        f" SUM(CASE WHEN f_{k} = 1 AND nf = 1 THEN 1 ELSE 0 END) AS uniq_{k}"
        for k in _ABLATION_STAGES
    )
    return f"""
WITH keepers AS (SELECT keeper_doc_id AS doc_id FROM ({_sql_near_dup_canonicals()}) c),
quality AS (SELECT doc_id, quality_score FROM ({_QUALITY_SQL}) q),
clf AS (SELECT doc_id, keep_flag FROM ({_CLF_SQL}) c2),
flu AS (SELECT doc_id, fluency_score FROM ({_FLUENCY_SQL}) f),
flags AS (
  SELECT CASE WHEN k.doc_id IS NULL THEN 1 ELSE 0 END AS f_near_dup,
         CASE WHEN q.quality_score < {QUALITY_CUTOFF} THEN 1 ELSE 0 END AS f_quality,
         CASE WHEN c2.keep_flag <> 1 THEN 1 ELSE 0 END AS f_classifier,
         CASE WHEN f.fluency_score IS NULL OR f.fluency_score < {FLUENCY_FLOOR}
              THEN 1 ELSE 0 END AS f_fluency
  FROM documents d
  LEFT JOIN keepers k ON k.doc_id = d.doc_id
  JOIN quality q ON q.doc_id = d.doc_id
  JOIN clf c2 ON c2.doc_id = d.doc_id
  LEFT JOIN flu f ON f.doc_id = d.doc_id),
wf AS (SELECT *, f_near_dup + f_quality + f_classifier + f_fluency AS nf FROM flags),
agg AS (
  SELECT COUNT(*) AS n_docs,
         {sums}
  FROM wf)
SELECT * FROM (
  {union}) t
ORDER BY stage_order
"""


# --- 2-D funnel-knob tuning surface -------------------------------------------

# grids bracketing the committed knobs (QUALITY_CUTOFF = 0.5, FLUENCY_FLOOR
# = 2.0); every literal parses to the identical double in both engines
QUALITY_GRID = [0.3, 0.4, 0.5, 0.6]
FLUENCY_GRID = [1.0, 2.0, 3.0, 4.0]


def curation_threshold_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2-D tuning surface for the funnel's two continuous knobs: kept-doc
    counts at every (quality cutoff × fluency floor) grid cell, holding the
    two discrete stages (near-dup canonical, classifier keep) at their
    committed settings — the table a corpus build reads to pick
    QUALITY_CUTOFF and FLUENCY_FLOOR together instead of tuning each blind
    to the other (the knobs interact: raising either shrinks the pool the
    other bites on). The committed-knob cell reproduces the funnel's kept
    count exactly (pytest-pinned).

    Plan shape: the per-doc signals are the funnel's one-joined-row-per-doc
    plan (`_curation_joined`); the whole |Q|×|F| surface prices as
    conditional sums in ONE aggregate (per-doc quality/fluency are the
    sufficient statistics for every cell), fanned out by a constant-size
    stack over a 1-row frame — same cost as one fixed-knob funnel at any
    corpus size.
    """
    joined = _curation_joined(spark, sf_dir)
    base = F.col("is_keeper").isNotNull() & (F.col("keep_flag") == 1)
    per = joined.select(
        base.alias("base"), "quality_score", "fluency_score"
    )
    cells = [
        (q, f, f"kept_{i}_{j}")
        for i, q in enumerate(QUALITY_GRID)
        for j, f in enumerate(FLUENCY_GRID)
    ]
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.sum(
                F.when(
                    F.col("base")
                    & (F.col("quality_score") >= F.lit(q))
                    & F.col("fluency_score").isNotNull()
                    & (F.col("fluency_score") >= F.lit(f)),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias(name)
            for q, f, name in cells
        ],
    )
    stack_args = ", ".join(
        f"CAST({q!r} AS DOUBLE), CAST({f!r} AS DOUBLE), {name}"
        for q, f, name in cells
    )
    rows = agg.selectExpr(
        f"stack({len(cells)}, {stack_args}) AS (q_cutoff, f_floor, n_kept)",
        "n_docs",
    )
    return rows.select(
        "q_cutoff",
        "f_floor",
        "n_kept",
        round_half_up(
            F.col("n_kept").cast("double") / F.col("n_docs").cast("double") * 100.0, 4
        ).alias("kept_pct"),
    ).orderBy("q_cutoff", "f_floor")


def _sql_threshold_matrix() -> str:
    from .dedup import _sql_near_dup_canonicals
    from .text import _CLF_SQL, _FLUENCY_SQL, _QUALITY_SQL

    qs = ", ".join(f"{q!r}::DOUBLE" for q in QUALITY_GRID)
    fs = ", ".join(f"{f!r}::DOUBLE" for f in FLUENCY_GRID)
    return f"""
WITH keepers AS (SELECT keeper_doc_id AS doc_id FROM ({_sql_near_dup_canonicals()}) c),
quality AS (SELECT doc_id, quality_score FROM ({_QUALITY_SQL}) q),
clf AS (SELECT doc_id, keep_flag FROM ({_CLF_SQL}) c2),
flu AS (SELECT doc_id, fluency_score FROM ({_FLUENCY_SQL}) f),
per AS (
  SELECT (k.doc_id IS NOT NULL AND c2.keep_flag = 1) AS base,
         q.quality_score, f.fluency_score
  FROM documents d
  LEFT JOIN keepers k ON k.doc_id = d.doc_id
  JOIN quality q ON q.doc_id = d.doc_id
  JOIN clf c2 ON c2.doc_id = d.doc_id
  LEFT JOIN flu f ON f.doc_id = d.doc_id),
nd AS (SELECT COUNT(*) AS n_docs FROM per),
qgrid AS (SELECT unnest([{qs}]) AS q_cutoff),
fgrid AS (SELECT unnest([{fs}]) AS f_floor),
cells AS (
  SELECT g.q_cutoff, g.f_floor,
         CAST(COALESCE(SUM(CASE WHEN p.base AND p.quality_score >= g.q_cutoff
                                 AND p.fluency_score IS NOT NULL
                                 AND p.fluency_score >= g.f_floor
                            THEN 1 END), 0) AS BIGINT) AS n_kept
  FROM (SELECT * FROM qgrid CROSS JOIN fgrid) g
  LEFT JOIN per p ON TRUE
  GROUP BY g.q_cutoff, g.f_floor)
SELECT c.q_cutoff, c.f_floor, c.n_kept,
       {sql_round_half_up("CAST(c.n_kept AS DOUBLE) / CAST(n.n_docs AS DOUBLE) * 100.0", 4)} AS kept_pct
FROM cells c CROSS JOIN nd n
ORDER BY c.q_cutoff, c.f_floor
"""


# --- curated training shards: the capstone composition ------------------------


def curated_training_shards(
    spark: SparkSession, sf_dir: str, frame: DataFrame | None = None
) -> DataFrame:
    """The end-to-end curated-corpus balance sheet a training run reads
    before consuming shards: funnel verdicts (`curation_kept_docs`) ×
    span-cut rewritten text (`substring_dup_removal`) × deterministic
    hash-shard assignment (`training_shards`' contract), in ONE fused plan.
    Per shard (plus a `shard = -1` corpus-total rollup row): kept
    doc/token/byte balance AND the bytes-saved attribution — normalized
    bytes removed by funnel drops (whole docs) vs by ExactSubstr span cuts
    (inside kept docs). Byte accounting is over the normalized text
    (lowercased, single-space re-joined) so cut attribution is exact:
    norm_bytes(original) − bytes(kept_text) for kept docs, norm_bytes for
    dropped docs; the two columns sum to everything the curation pass
    saved a downstream trainer from reading.

    Scale (100 TB): per-doc signals are the funnel's one-joined-row-per-doc
    plan plus `_removal_frame`'s no-pairwise-join rewrite; the report is a
    ROLLUP hash-agg on a 16-value key (fully map-side-combined). Dropped
    docs keep their would-be shard id, so a hot shard is visible BEFORE and
    after curation. Inject `frame = fused_curation_frame(...)` when a job
    also materializes the manifest / audit — the excision pass then runs
    once per job.
    """
    from ..functions.scalars import portable_hash
    from .text import N_SHARDS

    frame = _removal_frame(spark, sf_dir) if frame is None else frame
    verd = _curation_joined(spark, sf_dir).select(
        "doc_id", _verdict_col().alias("verdict")
    )
    rem = frame.select(
        "doc_id",
        F.size("kept_toks").cast("long").alias("kept_tok"),
        F.length(F.array_join("toks", " ")).cast("long").alias("norm_bytes"),
        F.length(F.array_join("kept_toks", " ")).cast("long").alias("kept_bytes"),
    )
    per = verd.join(rem, "doc_id", "left").select(
        (portable_hash(F.col("doc_id").cast("string")) % N_SHARDS).alias("shard"),
        (F.col("verdict") == "kept").alias("kept"),
        F.coalesce("kept_tok", F.lit(0)).alias("kept_tok"),
        F.coalesce("norm_bytes", F.lit(0)).alias("norm_bytes"),
        F.coalesce("kept_bytes", F.lit(0)).alias("kept_bytes"),
    )
    kept = F.col("kept")
    return (
        per.rollup("shard")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_docs"),
            F.sum(F.when(kept, F.col("kept_tok")).otherwise(0))
            .cast("long")
            .alias("n_tokens"),
            F.sum(F.when(kept, F.col("kept_bytes")).otherwise(0))
            .cast("long")
            .alias("n_bytes"),
            F.sum(F.when(kept, 0).otherwise(1)).cast("long").alias("n_dropped_docs"),
            F.sum(F.when(kept, 0).otherwise(F.col("norm_bytes")))
            .cast("long")
            .alias("bytes_dropped_funnel"),
            F.sum(F.when(kept, F.col("norm_bytes") - F.col("kept_bytes")).otherwise(0))
            .cast("long")
            .alias("bytes_cut_spans"),
        )
        .select(
            F.coalesce(F.col("shard"), F.lit(-1)).cast("long").alias("shard"),
            "n_docs",
            "n_tokens",
            "n_bytes",
            "n_dropped_docs",
            "bytes_dropped_funnel",
            "bytes_cut_spans",
        )
        .orderBy("shard")
    )


def curated_shard_manifest(
    spark: SparkSession, sf_dir: str, frame: DataFrame | None = None
) -> DataFrame:
    """The per-document artifact behind `curated_training_shards`: one row
    per verdict-kept doc with its shard id, kept token/byte counts, and the
    span-cut rewritten text — what the shard writer actually serializes
    (`df.repartition(N_SHARDS, 'shard').write...`). A doc that lost spans
    to `substring_dup_removal` appears with its REWRITTEN text, never the
    original; funnel-dropped docs do not appear at all.

    Scale (100 TB): narrow per-doc rows; text never shuffles wider than its
    own row (the verdict join is on doc_id, the shard id is a pure per-row
    expression). Inject `frame = fused_curation_frame(...)` to share the
    excision pass with the report/audit in one job."""
    from ..functions.scalars import portable_hash
    from .text import N_SHARDS

    frame = _removal_frame(spark, sf_dir) if frame is None else frame
    verd = _curation_joined(spark, sf_dir).select(
        "doc_id", _verdict_col().alias("verdict")
    )
    rem = frame.select(
        "doc_id",
        F.size("kept_toks").cast("long").alias("kept_tok"),
        F.array_join("kept_toks", " ").alias("ktext"),
    )
    return (
        verd.filter(F.col("verdict") == "kept")
        .join(rem, "doc_id", "left")
        .select(
            "doc_id",
            (portable_hash(F.col("doc_id").cast("string")) % N_SHARDS).alias("shard"),
            F.coalesce("kept_tok", F.lit(0)).cast("long").alias("n_tokens"),
            F.length(F.coalesce("ktext", F.lit(""))).cast("long").alias("n_bytes"),
            F.coalesce("ktext", F.lit("")).alias("kept_text"),
        )
    )
    # no final orderBy: this is the widest output in the registry (every
    # kept doc's rewritten text) and the range sort carried all of it
    # through an extra sampling pass + Exchange + sort purely for
    # presentation order; a real shard writer repartitions by `shard`
    # immediately (which discards any sort), and the driver comparator is
    # order-insensitive (guide §2.4)


def _sql_curated_shards() -> str:
    from ..functions.scalars import sql_portable_hash
    from .text import N_SHARDS

    return f"""
WITH verd AS (SELECT doc_id, verdict FROM ({_sql_curation_kept()}) v),
remo AS (SELECT doc_id, n_kept_tokens, kept_text FROM ({_SUBSTRING_REMOVAL_SQL}) r),
base2 AS (SELECT doc_id, len(array_to_string({sql_tokens()}, ' ')) AS norm_bytes
          FROM documents WHERE trim(text) <> ''),
rem AS (SELECT r.doc_id, r.n_kept_tokens AS kept_tok, len(r.kept_text) AS kept_bytes,
               b.norm_bytes
        FROM remo r JOIN base2 b USING (doc_id)),
per AS (SELECT {sql_portable_hash("CAST(v.doc_id AS VARCHAR)")} % {N_SHARDS} AS shard,
               (v.verdict = 'kept') AS kept,
               COALESCE(rem.kept_tok, 0) AS kept_tok,
               COALESCE(rem.norm_bytes, 0) AS norm_bytes,
               COALESCE(rem.kept_bytes, 0) AS kept_bytes
        FROM verd v LEFT JOIN rem ON rem.doc_id = v.doc_id)
SELECT CAST(COALESCE(shard, -1) AS BIGINT) AS shard,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN kept THEN kept_tok ELSE 0 END) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN kept THEN kept_bytes ELSE 0 END) AS BIGINT) AS n_bytes,
       CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped_docs,
       CAST(SUM(CASE WHEN kept THEN 0 ELSE norm_bytes END) AS BIGINT)
         AS bytes_dropped_funnel,
       CAST(SUM(CASE WHEN kept THEN norm_bytes - kept_bytes ELSE 0 END) AS BIGINT)
         AS bytes_cut_spans
FROM per
GROUP BY ROLLUP(shard)
ORDER BY shard
"""


def _sql_curated_manifest() -> str:
    from ..functions.scalars import sql_portable_hash
    from .text import N_SHARDS

    return f"""
WITH verd AS (SELECT doc_id FROM ({_sql_curation_kept()}) v WHERE verdict = 'kept'),
remo AS (SELECT doc_id, n_kept_tokens, kept_text FROM ({_SUBSTRING_REMOVAL_SQL}) r)
SELECT v.doc_id,
       {sql_portable_hash("CAST(v.doc_id AS VARCHAR)")} % {N_SHARDS} AS shard,
       CAST(COALESCE(r.n_kept_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(len(COALESCE(r.kept_text, '')) AS BIGINT) AS n_bytes,
       COALESCE(r.kept_text, '') AS kept_text
FROM verd v LEFT JOIN remo r ON r.doc_id = v.doc_id
ORDER BY v.doc_id
"""


# --- CCNet-style segment boilerplate: measure → act → audit -----------------
#
# Complements the ExactSubstr family above with the OTHER classic dedup
# policy: `substring_dup_removal` keeps the FIRST occurrence of a duplicated
# sliding window; boilerplate removal drops segments that recur across many
# documents (headers, footers, navigation chrome, license blurbs)
# EVERYWHERE — including the first occurrence — because high doc-frequency
# text carries no training signal no matter which copy you keep (the CCNet
# paragraph-dedup / C4 boilerplate rule, Wenzek et al. 2019, re-expressed at
# non-overlapping PASSAGE_TOKENS-token segment granularity since the
# synthetic corpus has no newline structure).

BOILERPLATE_DF = 3  # a segment found in >= 3 DISTINCT docs is boilerplate


def _segment_rows(base: DataFrame) -> DataFrame:
    """One row per NON-overlapping PASSAGE_TOKENS-token segment of each doc:
    (doc_id, pos 1-based, ntok, digest). Unlike `passage_dedup_stats` (a
    measurement that restricts to full windows), the trailing PARTIAL
    segment is included so the acting operator's token accounting is exact
    — every token belongs to exactly one segment. Only the 32-char md5
    digest ever leaves the row; segment text never enters a shuffle."""
    w = PASSAGE_TOKENS
    segs = F.expr(
        f"transform(sequence(1, cast(ceil(size(toks) / {w}.0) as int)), "
        f"i -> struct(i AS pos, "
        f"md5(array_join(slice(toks, (i - 1) * {w} + 1, {w}), ' ')) AS digest))"
    )
    return base.select(
        "doc_id", F.size("toks").alias("n"), F.explode(segs).alias("s")
    ).select(
        "doc_id",
        F.col("s.pos").cast("long").alias("pos"),
        F.least(F.lit(w), F.col("n") - (F.col("s.pos") - 1) * w)
        .cast("long")
        .alias("ntok"),
        F.col("s.digest").alias("digest"),
    )


_SEG_BANDS = ("1_unique", "2_duplicated", "3_boilerplate")


def segment_df_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The τ-choice evidence for `boilerplate_segment_removal`: corpus-level
    doc-frequency bands over non-overlapping segments — unique (df = 1),
    duplicated (2 ≤ df < BOILERPLATE_DF), boilerplate (df ≥ BOILERPLATE_DF)
    — with distinct-segment / instance / token mass and the token share
    each band occupies. The number a curator reads before picking τ.

    Scale: one digest-keyed hash-agg (map-side partial) → |bands| rows.
    Nothing is pairwise; the shuffle unit is the 32-char digest.
    """
    docs = _nonempty(load_table(spark, sf_dir, "documents"))
    segs = _segment_rows(docs.select("doc_id", tokens().alias("toks")))
    per = segs.groupBy("digest").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count(F.lit(1)).alias("n_inst"),
        F.sum("ntok").alias("n_toks"),
    )
    band = (
        F.when(F.col("df") >= BOILERPLATE_DF, F.lit(_SEG_BANDS[2]))
        .when(F.col("df") >= 2, F.lit(_SEG_BANDS[1]))
        .otherwise(F.lit(_SEG_BANDS[0]))
    )
    banded = per.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).alias("n_distinct_segments"),
        F.sum("n_inst").cast("long").alias("n_instances"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )
    tot = banded.agg(F.sum("n_tokens").alias("_tot"))
    return (
        banded.crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n_distinct_segments",
            "n_instances",
            "n_tokens",
            round_half_up(
                F.col("n_tokens").cast("double") / F.col("_tot").cast("double"), 6
            ).alias("token_share"),
        )
        .orderBy("band")
    )


_SEG_SQL_CTES = f"""base AS (
  SELECT doc_id, {sql_tokens()} AS toks FROM documents WHERE trim(text) <> ''),
segs AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         CAST(LEAST(i * {PASSAGE_TOKENS}, len(toks)) - (i - 1) * {PASSAGE_TOKENS} AS BIGINT) AS ntok,
         md5(array_to_string(toks[((i - 1) * {PASSAGE_TOKENS} + 1):(i * {PASSAGE_TOKENS})], ' ')) AS digest
  FROM base,
       LATERAL unnest(range(1, CAST(CEIL(len(toks) / {PASSAGE_TOKENS}.0) AS BIGINT) + 1)) u(i))"""


_SEG_REPORT_SQL = f"""
WITH {_SEG_SQL_CTES},
per AS (
  SELECT digest, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS n_inst,
         SUM(ntok) AS n_toks
  FROM segs GROUP BY digest),
banded AS (
  SELECT CASE WHEN df >= {BOILERPLATE_DF} THEN '{_SEG_BANDS[2]}'
              WHEN df >= 2 THEN '{_SEG_BANDS[1]}'
              ELSE '{_SEG_BANDS[0]}' END AS band,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_segments,
         CAST(SUM(n_inst) AS BIGINT) AS n_instances,
         CAST(SUM(n_toks) AS BIGINT) AS n_tokens
  FROM per GROUP BY 1),
tot AS (SELECT SUM(n_tokens) AS tot FROM banded)
SELECT band, n_distinct_segments, n_instances, n_tokens,
       {sql_round_half_up('CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)', 6)}
         AS token_share
FROM banded CROSS JOIN tot
ORDER BY band
"""


def _boiler_digests(segs: DataFrame) -> DataFrame:
    """Digests whose doc-frequency clears BOILERPLATE_DF over a
    (doc_id, pos, ntok, digest) segment frame — the ONE spelling of the
    boilerplate rule, shared by `_boiler_frame` and the streaming gate's
    `corpus_boiler_index` (their SQL twins share `_sql_boiler_digests`)."""
    return (
        segs.groupBy("digest")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= BOILERPLATE_DF)
        .select("digest")
    )


def _sql_boiler_digests(seg_rel: str) -> str:
    """The SQL twin of `_boiler_digests` over any aliased segment relation
    (a CTE name, or an aliased subquery)."""
    return (
        f"SELECT digest FROM (SELECT digest, COUNT(DISTINCT doc_id) AS df "
        f"FROM {seg_rel} GROUP BY digest) bd WHERE df >= {BOILERPLATE_DF}"
    )


def _boiler_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared core of the boilerplate acting family: one row per non-empty
    doc with `toks`, the boilerplate segment positions (`cut_pos`), and the
    post-drop token array (`kept_toks`). No finishing stage — the removal
    and its audit each apply their own; a fused job injects
    `fused_boiler_frame` (the cached/registered builder, same contract as
    `fused_curation_frame`) so the df pass runs once — injecting an
    UNcached frame only shares the plan, not the computation.

    Scale (100 TB): df is ONE hash-agg on the segment digest (COUNT
    DISTINCT doc_id — no pairwise join); boilerplate positions come back as
    a digest equi-join that carries only (doc_id, pos); each doc then drops
    its own segments with a per-row higher-order filter — document text
    never shuffles wider than its own row, exactly like `_removal_frame`.
    """
    w = PASSAGE_TOKENS
    docs = _nonempty(load_table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", tokens().alias("toks"))
    # segs feeds the df aggregate AND the cut-position probe — without the
    # cache the tokenize + md5 segmentation pass over the corpus ran once
    # per branch (guide §1.2)
    segs = caching.materialize(_segment_rows(base), "boiler_frame.segs")
    boiler = _boiler_digests(segs)
    cuts = (
        segs.join(boiler, "digest")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("cut_pos"))
    )
    joined = base.join(cuts, "doc_id", "left").withColumn(
        "cut_pos", F.coalesce("cut_pos", F.expr("CAST(array() AS ARRAY<BIGINT>)"))
    )
    kept_toks = F.expr(
        f"transform(filter(transform(sequence(1, size(toks)), "
        f"i -> struct(i AS i, element_at(toks, i) AS tok)), "
        f"x -> NOT array_contains(cut_pos, CAST((x.i - 1) DIV {w} AS BIGINT) + 1)), "
        f"x -> x.tok)"
    )
    return joined.select("doc_id", "toks", "cut_pos", kept_toks.alias("kept_toks"))


def fused_boiler_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build `_boiler_frame` once, cache it (`caching.materialize`), and
    return it for injection into `boilerplate_segment_removal` /
    `boilerplate_removal_audit` — a job materializing both pays the
    segment-df pass once. The standalone
    registry entries deliberately do NOT cache (a single consumer gains
    nothing from materialization); same contract as `fused_curation_frame`."""
    return caching.materialize(_boiler_frame(spark, sf_dir), "fused_boiler_frame")


def boilerplate_segment_removal(
    spark: SparkSession, sf_dir: str, frame: DataFrame | None = None
) -> DataFrame:
    """The acting half of `segment_df_report`: rewrite every document with
    boilerplate segments (doc-frequency ≥ BOILERPLATE_DF) dropped — ALL
    occurrences, including the first, which is what distinguishes the
    boilerplate policy from `substring_dup_removal`'s keep-first rule.
    Within-doc repeats below the df threshold are deliberately kept: df
    counts DISTINCT documents, so a doc that repeats its own segment is
    not (by itself) boilerplate — that is `repetition_ratios`' signal.

    Per doc: segment totals, boilerplate segment count, token counts
    before/after, cut fraction, and the rewritten text. A doc made
    entirely of boilerplate survives as a row with kept_text '' (the
    curator decides whether to drop empties; this operator only cuts).

    `frame` injects a pre-built (optionally cached) `_boiler_frame` so a
    job that also materializes the audit pays the df pass once.
    """
    frame = _boiler_frame(spark, sf_dir) if frame is None else frame
    w = PASSAGE_TOKENS
    return frame.select(
        "doc_id",
        F.ceil(F.size("toks") / F.lit(float(w))).cast("long").alias("n_segments"),
        F.size("cut_pos").cast("long").alias("n_boiler_segments"),
        F.size("toks").cast("long").alias("n_tokens"),
        F.size("kept_toks").cast("long").alias("n_kept_tokens"),
        round_half_up(
            (F.size("toks") - F.size("kept_toks")).cast("double")
            / F.size("toks").cast("double"),
            4,
        ).alias("cut_frac"),
        F.array_join("kept_toks", " ").alias("kept_text"),
    )  # no final orderBy: scaling output (guide §2.4)


_BOILER_REMOVAL_SQL = f"""
WITH {_SEG_SQL_CTES},
boiler AS ({_sql_boiler_digests('segs')}),
cutp AS (SELECT s.doc_id, s.pos FROM segs s JOIN boiler USING (digest)),
cutc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_boiler FROM cutp GROUP BY doc_id),
tok AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i, toks[i] AS tok
  FROM base, LATERAL unnest(range(1, len(toks) + 1)) u(i)),
flag AS (
  SELECT t.doc_id, t.i, t.tok, (c.pos IS NULL) AS kept
  FROM tok t LEFT JOIN cutp c
    ON c.doc_id = t.doc_id AND c.pos = ((t.i - 1) // {PASSAGE_TOKENS}) + 1),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_tokens,
         COALESCE(string_agg(CASE WHEN kept THEN tok END, ' ' ORDER BY i), '')
           AS kept_text
  FROM flag GROUP BY doc_id)
SELECT a.doc_id,
       CAST(CEIL(a.n_tokens / {PASSAGE_TOKENS}.0) AS BIGINT) AS n_segments,
       COALESCE(c.n_boiler, 0) AS n_boiler_segments,
       a.n_tokens,
       a.n_kept_tokens,
       {sql_round_half_up('CAST(a.n_tokens - a.n_kept_tokens AS DOUBLE) / CAST(a.n_tokens AS DOUBLE)', 4)}
         AS cut_frac,
       a.kept_text
FROM agg a LEFT JOIN cutc c USING (doc_id)
ORDER BY a.doc_id
"""


def _seg_corpus_measure(base: DataFrame, stage: str) -> DataFrame:
    """One corpus-level row of the boilerplate measurement over a
    (doc_id, toks) frame: doc/segment totals, boilerplate instance count
    and share at BOILERPLATE_DF, and the max doc-frequency observed."""
    segs = _segment_rows(base)
    per = segs.groupBy("digest").agg(F.countDistinct("doc_id").alias("df"))
    return (
        segs.join(per, "digest")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.countDistinct("digest").cast("long").alias("n_distinct_segments"),
            F.sum((F.col("df") >= BOILERPLATE_DF).cast("long"))
            .cast("long")
            .alias("n_boiler_segments"),
            F.max("df").cast("long").alias("max_df"),
        )
        .select(
            F.lit(stage).alias("stage"),
            "n_docs",
            "n_segments",
            "n_distinct_segments",
            "n_boiler_segments",
            round_half_up(
                F.col("n_boiler_segments").cast("double")
                / F.col("n_segments").cast("double"),
                6,
            ).alias("boiler_share"),
            "max_df",
        )
    )


def boilerplate_removal_audit(
    spark: SparkSession, sf_dir: str, frame: DataFrame | None = None
) -> DataFrame:
    """Did dropping boilerplate actually clean the corpus? Re-run the
    segment doc-frequency measurement on the REWRITTEN text and report
    before/after. Residual boilerplate share need not be exactly zero:
    dropping a segment makes its neighbours adjacent, and re-segmenting
    the rewritten text from position 1 can mint NEW segments that happen
    to recur — the same boundary-shift caveat as
    `substring_dup_removal_audit`, measured rather than assumed. This is
    the convergence signal an iterate-to-clean pipeline loops on.

    `frame` injects a shared `_boiler_frame` (see `boilerplate_segment_removal`).
    """
    frame = _boiler_frame(spark, sf_dir) if frame is None else frame
    before = _seg_corpus_measure(frame.select("doc_id", "toks"), "before")
    after = _seg_corpus_measure(
        frame.filter(F.size("kept_toks") > 0).select(
            "doc_id", F.col("kept_toks").alias("toks")
        ),
        "after",
    )
    return before.unionByName(after).orderBy("stage")


def _boiler_delta_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsorted per-delta-doc boilerplate admission counts (doc_id,
    n_segments, n_known_boiler, n_new_boiler, n_tokens, n_cut_tokens) — the
    shared core of `boilerplate_delta_probe` (adds cut_frac + sort) and the
    on-sight boilerplate gate in `ingest._admission_frame`."""
    from .dedup import DELTA_MOD

    docs = _nonempty(load_table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", tokens().alias("toks"))
    is_delta = (F.col("doc_id") % F.lit(DELTA_MOD)) == F.lit(DELTA_MOD - 1)
    # segs feeds the corpus-df aggregate, the delta probe, and the
    # delta-df aggregate — three segmentation passes without the cache
    segs = caching.materialize(_segment_rows(base), "boiler_delta_frame.segs")
    corpus_df = (
        segs.filter(~is_delta)
        .groupBy("digest")
        .agg(F.countDistinct("doc_id").alias("df_corpus"))
    )
    delta_segs = segs.filter(is_delta)
    delta_df = delta_segs.groupBy("digest").agg(
        F.countDistinct("doc_id").alias("df_delta")
    )
    flagged = (
        delta_segs.join(corpus_df, "digest", "left")
        .join(delta_df, "digest")
        .withColumn("df_corpus", F.coalesce("df_corpus", F.lit(0)))
        .withColumn("known", F.col("df_corpus") >= BOILERPLATE_DF)
        .withColumn(
            "new",
            (~F.col("known"))
            & ((F.col("df_corpus") + F.col("df_delta")) >= BOILERPLATE_DF),
        )
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(F.col("known").cast("long")).cast("long").alias("n_known_boiler"),
        F.sum(F.col("new").cast("long")).cast("long").alias("n_new_boiler"),
        F.sum("ntok").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("known") | F.col("new"), F.col("ntok")).otherwise(0))
        .cast("long")
        .alias("n_cut_tokens"),
    )


def boilerplate_delta_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental boilerplate admission: a DELTA batch of new documents
    (the same deterministic doc_id % DELTA_MOD == DELTA_MOD-1 slice as
    `minhash_delta_probe` / `incremental_semdedup_probe`) probed against
    the segment doc-frequency INDEX of the already-ingested corpus. Per
    delta doc: segments already boilerplate in the corpus (df_corpus ≥
    BOILERPLATE_DF — cut on sight), segments the delta batch itself tips
    over the threshold (df_corpus + df_delta ≥ BOILERPLATE_DF while
    df_corpus alone is below — NEWLY minted boilerplate, the reason df
    admission cannot be per-doc), and the token cut the combined rule
    would make. `known + new` per doc equals exactly what a full-corpus
    `boilerplate_segment_removal` rebuild decides for that doc (pinned by
    pytest) — the union ≡ rebuild proof for this family.

    Scale: the corpus df index is ONE digest-keyed agg, persisted/bucketed
    by digest in a real ingest so each new batch shuffles only its own
    delta postings — cost O(|delta| segments), never a corpus rescan.
    """
    return (
        _boiler_delta_frame(spark, sf_dir)
        .select(
            "doc_id",
            "n_segments",
            "n_known_boiler",
            "n_new_boiler",
            "n_tokens",
            "n_cut_tokens",
            round_half_up(
                F.col("n_cut_tokens").cast("double") / F.col("n_tokens").cast("double"),
                4,
            ).alias("cut_frac"),
        )
        # no final orderBy: scaling output, order-insensitive gate (guide §2.4)
    )


def _sql_boiler_delta() -> str:
    from .dedup import DELTA_MOD

    d = DELTA_MOD
    return f"""
WITH {_SEG_SQL_CTES},
corpus_df AS (
  SELECT digest, COUNT(DISTINCT doc_id) AS df_corpus
  FROM segs WHERE doc_id % {d} <> {d - 1} GROUP BY digest),
delta_segs AS (SELECT * FROM segs WHERE doc_id % {d} = {d - 1}),
delta_df AS (
  SELECT digest, COUNT(DISTINCT doc_id) AS df_delta
  FROM delta_segs GROUP BY digest),
flagged AS (
  SELECT s.doc_id, s.ntok,
         COALESCE(c.df_corpus, 0) >= {BOILERPLATE_DF} AS known,
         COALESCE(c.df_corpus, 0) < {BOILERPLATE_DF}
           AND COALESCE(c.df_corpus, 0) + dd.df_delta >= {BOILERPLATE_DF} AS new
  FROM delta_segs s
  LEFT JOIN corpus_df c USING (digest)
  JOIN delta_df dd USING (digest))
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN known THEN 1 ELSE 0 END) AS BIGINT) AS n_known_boiler,
       CAST(SUM(CASE WHEN new THEN 1 ELSE 0 END) AS BIGINT) AS n_new_boiler,
       CAST(SUM(ntok) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN known OR new THEN ntok ELSE 0 END) AS BIGINT)
         AS n_cut_tokens,
       {sql_round_half_up('CAST(SUM(CASE WHEN known OR new THEN ntok ELSE 0 END) AS DOUBLE) / CAST(SUM(ntok) AS DOUBLE)', 4)}
         AS cut_frac
FROM flagged
GROUP BY doc_id
ORDER BY doc_id
"""


def _sql_boiler_audit() -> str:
    measure = f"""
  SELECT COUNT(DISTINCT s.doc_id) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_segments,
         CAST(COUNT(DISTINCT s.digest) AS BIGINT) AS n_distinct_segments,
         CAST(SUM(CASE WHEN p.df >= {BOILERPLATE_DF} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler_segments,
         {sql_round_half_up(f'CAST(SUM(CASE WHEN p.df >= {BOILERPLATE_DF} THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)', 6)}
           AS boiler_share,
         CAST(MAX(p.df) AS BIGINT) AS max_df"""
    seg_of = (
        f"SELECT doc_id, CAST(i AS BIGINT) AS pos, "
        f"md5(array_to_string(toks[((i - 1) * {PASSAGE_TOKENS} + 1):(i * {PASSAGE_TOKENS})], ' ')) AS digest "
        f"FROM {{b}}, LATERAL unnest(range(1, CAST(CEIL(len(toks) / {PASSAGE_TOKENS}.0) AS BIGINT) + 1)) u(i)"
    )
    return f"""
WITH before_base AS (
  SELECT doc_id, {sql_tokens()} AS toks FROM documents WHERE trim(text) <> ''),
after_base AS (
  SELECT doc_id, {sql_tokens("kept_text")} AS toks
  FROM ({_BOILER_REMOVAL_SQL}) r WHERE trim(kept_text) <> ''),
bsegs AS ({seg_of.format(b='before_base')}),
asegs AS ({seg_of.format(b='after_base')}),
bdf AS (SELECT digest, COUNT(DISTINCT doc_id) AS df FROM bsegs GROUP BY digest),
adf AS (SELECT digest, COUNT(DISTINCT doc_id) AS df FROM asegs GROUP BY digest)
SELECT 'before' AS stage, * FROM (
  {measure} FROM bsegs s JOIN bdf p USING (digest))
UNION ALL
SELECT 'after' AS stage, * FROM (
  {measure} FROM asegs s JOIN adf p USING (digest))
ORDER BY stage
"""


def _sql_curation_funnel() -> str:
    from .dedup import QUALITY_CUTOFF, _sql_near_dup_canonicals
    from .text import _CLF_SQL, _FLUENCY_SQL, _QUALITY_SQL

    return f"""
WITH keepers AS (SELECT keeper_doc_id AS doc_id FROM ({_sql_near_dup_canonicals()}) c),
quality AS (SELECT doc_id, quality_score FROM ({_QUALITY_SQL}) q),
clf AS (SELECT doc_id, keep_flag FROM ({_CLF_SQL}) c2),
flu AS (SELECT doc_id, fluency_score FROM ({_FLUENCY_SQL}) f)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
       CAST(SUM(CASE WHEN k.doc_id IS NOT NULL AND q.quality_score >= {QUALITY_CUTOFF}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(SUM(CASE WHEN k.doc_id IS NOT NULL AND q.quality_score >= {QUALITY_CUTOFF}
                AND c2.keep_flag = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clf,
       CAST(SUM(CASE WHEN k.doc_id IS NOT NULL AND q.quality_score >= {QUALITY_CUTOFF}
                AND c2.keep_flag = 1 AND f.fluency_score >= {FLUENCY_FLOOR}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_fluent
FROM documents d
LEFT JOIN keepers k ON k.doc_id = d.doc_id
JOIN quality q ON q.doc_id = d.doc_id
JOIN clf c2 ON c2.doc_id = d.doc_id
LEFT JOIN flu f ON f.doc_id = d.doc_id
GROUP BY d.lang
ORDER BY d.lang
"""


QUERIES = {
    "source_diversity_by_lang": source_diversity_by_lang,
    "mixture_temperature_weights": mixture_temperature_weights,
    "epoch_allocation_plan": epoch_allocation_plan,
    "repetition_ratios": repetition_ratios,
    "passage_dedup_stats": passage_dedup_stats,
    "substring_dup_spans": substring_dup_spans,
    "substring_dup_removal": substring_dup_removal,
    "substring_dup_removal_audit": substring_dup_removal_audit,
    "segment_df_report": segment_df_report,
    "boilerplate_segment_removal": boilerplate_segment_removal,
    "boilerplate_removal_audit": boilerplate_removal_audit,
    "boilerplate_delta_probe": boilerplate_delta_probe,
    "token_entropy": token_entropy,
    "source_dedup_overlap": source_dedup_overlap,
    "lang_confusion_matrix": lang_confusion_matrix,
    "corpus_curation_report": corpus_curation_report,
    "curation_funnel_report": curation_funnel_report,
    "curation_kept_docs": curation_kept_docs,
    "curation_stage_ablation": curation_stage_ablation,
    "curation_vocab_impact": curation_vocab_impact,
    "curation_threshold_matrix": curation_threshold_matrix,
    "curated_training_shards": curated_training_shards,
    "curated_shard_manifest": curated_shard_manifest,
}

ORACLES = {
    "source_diversity_by_lang": _DIVERSITY_SQL,
    "mixture_temperature_weights": _MIXTURE_SQL,
    "epoch_allocation_plan": _EPOCH_PLAN_SQL,
    "repetition_ratios": _REPETITION_SQL,
    "passage_dedup_stats": _PASSAGE_SQL,
    "substring_dup_spans": _SUBSTRING_SPANS_SQL,
    "substring_dup_removal": _SUBSTRING_REMOVAL_SQL,
    "substring_dup_removal_audit": _sql_removal_audit(),
    "segment_df_report": _SEG_REPORT_SQL,
    "boilerplate_segment_removal": _BOILER_REMOVAL_SQL,
    "boilerplate_removal_audit": _sql_boiler_audit(),
    "boilerplate_delta_probe": _sql_boiler_delta(),
    "token_entropy": _ENTROPY_SQL,
    "source_dedup_overlap": _SOURCE_OVERLAP_SQL,
    "lang_confusion_matrix": _sql_lang_confusion(),
    "corpus_curation_report": _sql_curation_report(),
    "curation_funnel_report": _sql_curation_funnel(),
    "curation_kept_docs": _sql_curation_kept(),
    "curation_stage_ablation": _sql_stage_ablation(),
    "curation_vocab_impact": _sql_vocab_impact(),
    "curation_threshold_matrix": _sql_threshold_matrix(),
    "curated_training_shards": _sql_curated_shards(),
    "curated_shard_manifest": _sql_curated_manifest(),
}
