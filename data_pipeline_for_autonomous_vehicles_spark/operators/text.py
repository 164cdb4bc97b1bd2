"""Text-analysis operators over the `documents` table.

Training-data-pipeline staples: token counting, quality scoring, language ID
(marker-token heuristic), and document fingerprinting. All pure column
expressions (split / array ops / arithmetic) — JVM-side, codegen'd, with
literal ANSI twins for the DuckDB oracle.

Scale notes: every operator here is embarrassingly parallel (per-row map +
one final hash-agg at most) — no shuffle except the aggregating variants,
which group on low-cardinality keys (lang, score bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import caching
from ..catalog import load_table, spread_small_scan
from ..functions.scalars import round_half_up, sql_round_half_up, sql_tokens, tokens


def _docs_table(spark, sf_dir):
    """The documents scan with its map-side parallelism floored
    (catalog.spread_small_scan): every consumer in this module follows the
    scan with tokenize/explode/hash-fold passes whose per-row cost dwarfs
    one round-robin exchange of the narrow text rows — the file scans as a
    single split locally (one parquet row group), serializing that work on
    one core otherwise. No-op on any at-scale scan (catalog docstring)."""
    return spread_small_scan(load_table(spark, sf_dir, "documents"))


def _n_tok() -> F.Column:
    """Empty-guarded whitespace token count — the ONE spelling every
    token-counting operator (here and in assembly.py) shares."""
    return (
        F.when(F.trim(F.col("text")) == "", F.lit(0))
        .otherwise(F.size(tokens()))
        .cast("long")
    )


_SQL_N_TOK = f"CASE WHEN trim(text) = '' THEN 0 ELSE len({sql_tokens()}) END"

# language marker vocabularies (n-gram heuristic): deterministic, public
# stopword-style markers. The classifier is judged against its SQL twin, not
# against ground truth — it is a heuristic, like any real lang-ID.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + distinct-token count + type/token ratio."""
    docs = _docs_table(spark, sf_dir)
    n_tokens = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(F.size(tokens()))
    n_distinct = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(
        F.size(F.array_distinct(tokens()))
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        round_half_up(
            n_distinct.cast("double") / F.when(n_tokens == 0, F.lit(None)).otherwise(n_tokens).cast("double"),
            4,
        ).alias("type_token_ratio"),
    )  # no final orderBy: per-doc output, order-insensitive gate (guide §2.4)


_TOKEN_COUNTS_SQL = f"""
SELECT doc_id, n_tokens, n_distinct_tokens,
       CAST(FLOOR((CAST(n_distinct_tokens AS DOUBLE)
             / CAST(NULLIF(n_tokens, 0) AS DOUBLE)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS type_token_ratio
FROM (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0 ELSE len({sql_tokens()}) END AS n_tokens,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(list_distinct({sql_tokens()})) END AS n_distinct_tokens
  FROM documents) t
ORDER BY doc_id
"""


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality score in [0,1]:
    0.4·min(1, n_chars/400) + 0.3·type_token_ratio + 0.3·stopword_ratio.
    The components are the reference heuristics of C4/Gopher-style filters
    (length, lexical diversity, stopword presence)."""
    docs = _docs_table(spark, sf_dir)
    return _quality_frame(docs)  # no final orderBy (guide §2.4)


def _quality_score_col() -> F.Column:
    """The heuristic quality score as a pure per-row expression over
    (text, n_chars) columns — shared by `_quality_frame` and the one-scan
    calibration report."""
    en = LANG_MARKERS["en"]
    n_tokens = F.size(tokens()).cast("double")
    n_distinct = F.size(F.array_distinct(tokens())).cast("double")
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(tokens()), F.array(*[F.lit(w) for w in en]))
    ).cast("double")
    length_score = F.least(F.lit(1.0), F.col("n_chars").cast("double") / F.lit(400.0))
    ttr = n_distinct / n_tokens
    stop_score = F.least(F.lit(1.0), stop_hits / F.lit(float(len(en))) * F.lit(2.0))
    return round_half_up(
        F.lit(0.4) * length_score + F.lit(0.3) * ttr + F.lit(0.3) * stop_score, 4
    )


def _quality_frame(docs: DataFrame) -> DataFrame:
    """`quality_scores` over ANY (doc_id, lang, text, n_chars) frame — a
    pure per-row expression, so the streaming curation probe scores a
    micro-batch with byte-identical semantics to the batch funnel."""
    return docs.select("doc_id", "lang", _quality_score_col().alias("quality_score"))


_EN_LIST = "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS["en"]) + "]"
_QUALITY_SQL = f"""
SELECT doc_id, lang,
       CAST(FLOOR((0.4::DOUBLE * LEAST(1.0::DOUBLE, CAST(n_chars AS DOUBLE) / 400.0::DOUBLE)
             + 0.3::DOUBLE * (CAST(len(list_distinct({sql_tokens()})) AS DOUBLE)
                      / CAST(len({sql_tokens()}) AS DOUBLE))
             + 0.3::DOUBLE * LEAST(1.0::DOUBLE,
                 CAST(len(list_intersect(list_distinct({sql_tokens()}), {_EN_LIST})) AS DOUBLE)
                 / {float(len(LANG_MARKERS['en']))}::DOUBLE * 2.0::DOUBLE)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS quality_score
FROM documents
ORDER BY doc_id
"""


# --- model-based quality filtering (hashed linear classifier) --------------
#
# The heuristic `quality_scores` above is the C4-style rule filter; real
# pipelines (CCNet, FineWeb-Edu) follow it with a MODEL-based filter — a
# fastText-style linear classifier over hashed bag-of-words features. This
# operator is that scoring pass with the weight table replaced by a
# deterministic hash-derived weight (no external model file exists in this
# container), so the Spark plan, feature hashing, and score algebra are the
# real thing and the oracle twin can replay them bit-for-bit.
#
# Determinism contract: per-token weights are INTEGERS in [-500, 500]
# (bucket = portable md5 hash mod CLF_BUCKETS, weight = affine-mod of the
# bucket), summed exactly as BIGINT — no float accumulation order to drift
# between engines. Only the final margin normalization is a single double
# divide + round_half_up.

CLF_BUCKETS = 4096  # hashed feature-table width (fastText's `-hash` dim)
_CLF_A = 2654435761  # Knuth multiplicative constant: bucket -> weight mix
_CLF_C = 40503
_CLF_MOD = 1001  # weights span [-500, 500] after the -500 shift


def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-linear quality score per document: each token
    hashes into one of CLF_BUCKETS weight buckets; the doc's margin is the
    exact integer weight sum normalized by tokens; clf_score = margin mapped
    to [0, 1]; keep_flag = non-negative margin (the filter decision).

    Scale: a pure per-row fold over the token array (`F.aggregate`) — NO
    shuffle, no explode, no UDF; the weight table is arithmetic, but a real
    learned table of CLF_BUCKETS floats would broadcast at ~16 KB. The
    whole pass is map-only and codegen'd, so it runs at scan speed on
    100 TB.
    """
    docs = _docs_table(spark, sf_dir)
    return _clf_frame(docs)  # no final orderBy (guide §2.4)


def _clf_exprs() -> dict[str, F.Column]:
    """The hashed-classifier columns as pure per-row expressions over a
    `text` column — shared by `_clf_frame` and the one-scan calibration
    report."""
    from ..functions.scalars import portable_hash

    toks = F.filter(tokens(), lambda t: t != F.lit(""))

    def weight(t: F.Column) -> F.Column:
        bucket = portable_hash(t) % F.lit(CLF_BUCKETS)
        return (bucket * F.lit(_CLF_A) + F.lit(_CLF_C)) % F.lit(_CLF_MOD) - F.lit(500)

    n = F.size(toks).cast("long")
    s = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + weight(t))
    margin = s.cast("double") / (n.cast("double") * F.lit(500.0))
    clf_score = F.when(
        n > 0, round_half_up(F.lit(0.5) + margin * F.lit(0.5), 4)
    ).otherwise(F.lit(None).cast("double"))
    return {
        "n_scored_tokens": n,
        "weight_sum": s,
        "clf_score": clf_score,
        "keep_flag": ((s >= 0) & (n > 0)).cast("int"),
    }


def _clf_frame(docs: DataFrame) -> DataFrame:
    """`quality_classifier_scores` over ANY (doc_id, lang, text) frame —
    per-row fold, shared verbatim by the batch op and the streaming
    curation probe."""
    e = _clf_exprs()
    return docs.select(
        "doc_id", "lang", *[c.alias(k) for k, c in e.items()]
    )


_CLF_W = (
    f"((CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) % {CLF_BUCKETS})"
    f" * {_CLF_A} + {_CLF_C}) % {_CLF_MOD} - 500"
)
_CLF_SQL = f"""
SELECT doc_id, lang,
       CAST(n AS BIGINT) AS n_scored_tokens,
       CAST(s AS BIGINT) AS weight_sum,
       CASE WHEN n > 0 THEN
         CAST(FLOOR((0.5::DOUBLE + (CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 500.0::DOUBLE)) * 0.5::DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0
       ELSE NULL END AS clf_score,
       CAST(CASE WHEN s >= 0 AND n > 0 THEN 1 ELSE 0 END AS INT) AS keep_flag
FROM (
  SELECT doc_id, lang,
         len(list_filter({sql_tokens()}, t -> t <> '')) AS n,
         COALESCE(CAST(list_sum(list_transform(
             list_filter({sql_tokens()}, t -> t <> ''),
             t -> {_CLF_W})) AS BIGINT), 0) AS s
  FROM documents) f
ORDER BY doc_id
"""


# --- classifier-vs-heuristic calibration ------------------------------------

CAL_BINS = 20  # classifier-score bins of width 0.05 over [0, 1]


def quality_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve between the two quality signals the funnel ANDs
    together: bucket documents by `quality_classifier_scores`' clf_score
    (CAL_BINS fixed-width bins over [0,1]) and report, per bin, the doc
    count, the classifier keep rate, and the MEAN heuristic quality score —
    the agreement check run before trusting either filter (a flat or
    inverted mean-quality curve means the hashed classifier and the
    C4-style heuristic are grading different things, and the funnel's AND
    is stricter than intended). Docs with no scoreable tokens (clf_score
    NULL) are excluded, as in the funnel's classifier stage.

    Exactness: both scores are already 4-dp-quantized; each is recovered to
    its exact int64 grid (⌊x·1e4+0.5⌋) before summing, so bin assignment is
    integer division (clf_e4 div 500, capped at the last bin) and every
    mean is a ratio of exact integers — no float accumulation order, no
    boundary fuzz between engines.

    Scale (100 TB): the two signals are independent map-side scans joined
    on doc_id (the funnel's own plan shape; co-partitioned by id the join
    is shuffle-free), then a CAL_BINS-cell hash-agg — fully map-side
    combined. Measured note: fusing both signals into ONE projection is
    wall-neutral at ~sf1 (12.4–12.9 s fused vs 12.1–13.3 s joined, warm
    JVM — the classifier's per-token hash fold dominates either shape), so
    the join form is kept for plan-shape consistency with the funnel; at
    100 TB id-bucketed storage makes it shuffle-free anyway.
    """
    docs = _docs_table(spark, sf_dir)
    clf = _clf_frame(docs).select("doc_id", "clf_score", "keep_flag")
    qual = _quality_frame(docs).select("doc_id", "quality_score")
    clf_e4 = F.floor(F.col("clf_score") * 10000.0 + F.lit(0.5)).cast("long")
    q_e4 = F.floor(F.col("quality_score") * 10000.0 + F.lit(0.5)).cast("long")
    per = (
        clf.join(qual, "doc_id")
        .filter(F.col("clf_score").isNotNull())
        .select(
            clf_e4.alias("clf_e4"),
            q_e4.alias("q_e4"),
            F.col("keep_flag").cast("long").alias("keep_flag"),
        )
        .withColumn(  # integer division — bin boundaries exact on the e4 grid
            "bin",
            F.expr(f"least(clf_e4 div {10000 // CAL_BINS}, {CAL_BINS - 1})").cast(
                "long"
            ),
        )
    )
    agg = per.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("keep_flag").cast("long").alias("n_keep"),
        F.sum("clf_e4").cast("long").alias("clf_sum"),
        F.sum("q_e4").cast("long").alias("q_sum"),
    )
    n = F.col("n_docs").cast("double")
    return agg.select(
        "bin",
        (F.col("bin").cast("double") / F.lit(float(CAL_BINS))).alias("bin_lo"),
        "n_docs",
        round_half_up(F.col("n_keep").cast("double") / n, 4).alias("keep_rate"),
        round_half_up(F.col("clf_sum").cast("double") / n / 10000.0, 4).alias(
            "mean_clf_score"
        ),
        round_half_up(F.col("q_sum").cast("double") / n / 10000.0, 4).alias(
            "mean_quality_score"
        ),
    ).orderBy("bin")


def _sql_calibration() -> str:
    width = 10000 // CAL_BINS
    return f"""
WITH clf AS (SELECT doc_id, clf_score, keep_flag FROM ({_CLF_SQL}) c
             WHERE clf_score IS NOT NULL),
qual AS (SELECT doc_id, quality_score FROM ({_QUALITY_SQL}) q),
per AS (
  SELECT LEAST(CAST(FLOOR(clf_score * 10000.0 + 0.5) AS BIGINT) // {width},
               {CAL_BINS - 1}) AS bin,
         CAST(FLOOR(clf_score * 10000.0 + 0.5) AS BIGINT) AS clf_e4,
         CAST(FLOOR(quality_score * 10000.0 + 0.5) AS BIGINT) AS q_e4,
         CAST(keep_flag AS BIGINT) AS keep_flag
  FROM clf JOIN qual USING (doc_id)),
agg AS (
  SELECT bin, COUNT(*) AS n_docs, SUM(keep_flag) AS n_keep,
         SUM(clf_e4) AS clf_sum, SUM(q_e4) AS q_sum
  FROM per GROUP BY bin)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(bin AS DOUBLE) / {float(CAL_BINS)} AS bin_lo,
       CAST(n_docs AS BIGINT) AS n_docs,
       {sql_round_half_up("CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE)", 4)} AS keep_rate,
       {sql_round_half_up("CAST(clf_sum AS DOUBLE) / CAST(n_docs AS DOUBLE) / 10000.0", 4)} AS mean_clf_score,
       {sql_round_half_up("CAST(q_sum AS DOUBLE) / CAST(n_docs AS DOUBLE) / 10000.0", 4)} AS mean_quality_score
FROM agg
ORDER BY bin
"""


# --- LM-proxy fluency scoring (corpus bigram statistics) -------------------

# single-token docs yield NO bigrams: Spark's sequence(1, 0) steps DOWNWARD
# to [1, 0] (element_at would throw); DuckDB's end-exclusive range() is
# naturally empty, so the guard converges the engines
_BIGRAMS = (
    "if(size(toks) < 2, array(), transform(sequence(1, size(toks) - 1), "
    "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1))))"
)
_SQL_BIGRAMS = (
    "list_transform(range(1, greatest(len(toks) - 1, 0) + 1), "
    "i -> toks[i] || ' ' || toks[i + 1])"
)


def bigram_fluency_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fluency proxy from corpus bigram statistics — the
    integer-exact stand-in for LM-perplexity filtering (CCNet's KenLM
    pass): a document whose adjacent-word pairs are common in the corpus
    reads like the corpus; one full of never-seen-again bigrams is noise.
    Emits per doc: bigram occurrences, the corpus count of its RAREST
    bigram, and the mean corpus-frequency of its bigrams (exact integer
    sum, one final divide — no transcendental log to drift between
    engines; same rationale as `token_collocations`' lift).

    Scale: the bigram count table is dictionary-sized (distinct adjacent
    pairs, heavy-tailed — a 100 TB run floors it at a minimum count or
    sketches it with CMS; exact here). Doc postings join it on the bigram
    key — hash-partitioned, map-side pre-aggregated by (doc, bigram) with
    occurrence weights, so hot bigrams ship once per doc, not once per
    occurrence.

    Corpus counts come from a bigram-partitioned window SUM over the
    postings instead of a groupBy + join-back: the join form planned (and
    executed) the explode → (doc, bigram) aggregate over the whole corpus
    TWICE — once under the count aggregate, once under the probe side —
    and with a full-corpus model every posting matches, so the inner join
    IS the window (guide §1.2/§2.4: two operations keyed the same way
    share one exchange). The streaming curation gate keeps the join form
    (`_fluency_frame`) because its model table is static and genuinely a
    different relation."""
    from pyspark.sql import Window

    docs = _docs_table(spark, sf_dir)
    posts = _bigram_posts(docs)
    scored = (
        posts.withColumn(
            "corpus_count", F.sum("occ").over(Window.partitionBy("bigram"))
        )
        .groupBy("doc_id")
        .agg(*_fluency_aggs())
    )
    return _fluency_finish(docs, scored)  # no final orderBy (guide §2.4)


def _bigram_posts(docs: DataFrame) -> DataFrame:
    """(doc_id, bigram, occ) postings of any (doc_id, text) frame."""
    return (
        docs.select("doc_id", tokens().alias("toks"))
        .select("doc_id", F.explode(F.expr(_BIGRAMS)).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("occ"))
    )


def _fluency_frame(docs: DataFrame, counts: DataFrame) -> DataFrame:
    """`bigram_fluency_scores` of `docs` graded against a SUPPLIED
    (bigram, corpus_count) model table. The batch op passes counts built
    from the same corpus; the streaming curation probe passes the static
    pre-stream corpus model (a KenLM-style model at rest). The posting⋈model
    join is INNER: a bigram absent from the model table is excluded from
    the doc's graded postings — the same treatment a count-floor prune
    gives it (and with a full-corpus model every posting hits, so the
    batch op's output is unchanged)."""
    posts = _bigram_posts(docs)
    scored = posts.join(counts, "bigram").groupBy("doc_id").agg(*_fluency_aggs())
    return _fluency_finish(docs, scored)


def _fluency_aggs() -> list[F.Column]:
    """The per-doc fluency aggregates over a (doc_id, occ, corpus_count)
    postings frame — the ONE definition shared by the batch window form
    and the static-model join form."""
    return [
        F.sum("occ").cast("long").alias("n_bigrams"),
        F.min("corpus_count").cast("long").alias("rarest_count"),
        F.sum(F.col("occ") * F.col("corpus_count")).cast("long").alias("count_sum"),
    ]


def _fluency_finish(docs: DataFrame, scored: DataFrame) -> DataFrame:
    """Resurrect zero-bigram docs (LEFT join) and shape the output — shared
    by both fluency forms."""
    out = docs.select("doc_id").join(scored, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
        "rarest_count",
        round_half_up(
            F.col("count_sum").cast("double") / F.col("n_bigrams").cast("double"), 4
        ).alias("fluency_score"),
    )


_FLUENCY_SQL = f"""
WITH posts AS (
  SELECT doc_id, bigram, COUNT(*) AS occ
  FROM (
    SELECT doc_id, unnest({_SQL_BIGRAMS}) AS bigram
    FROM (SELECT doc_id, {sql_tokens()} AS toks FROM documents) base) b
  GROUP BY doc_id, bigram),
counts AS (SELECT bigram, SUM(occ) AS corpus_count FROM posts GROUP BY bigram),
scored AS (
  SELECT doc_id,
         CAST(SUM(occ) AS BIGINT) AS n_bigrams,
         CAST(MIN(corpus_count) AS BIGINT) AS rarest_count,
         CAST(SUM(occ * corpus_count) AS BIGINT) AS count_sum
  FROM posts JOIN counts USING (bigram) GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(s.n_bigrams, 0) AS n_bigrams,
       s.rarest_count AS rarest_count,
       CAST(FLOOR((CAST(s.count_sum AS DOUBLE) / CAST(s.n_bigrams AS DOUBLE)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS fluency_score
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
ORDER BY d.doc_id
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-vocabulary language ID: count distinct marker hits per language,
    predict the argmax (deterministic tiebreak: language code order)."""
    docs = _docs_table(spark, sf_dir)
    toks = F.array_distinct(tokens())
    hits = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_MARKERS.items()
    }
    # argmax with deterministic tie-break on ascending lang code
    langs = sorted(LANG_MARKERS)
    best = F.lit(langs[0])
    best_hits = hits[langs[0]]
    for lang in langs[1:]:
        cond = hits[lang] > best_hits
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_hits = F.when(cond, hits[lang]).otherwise(best_hits)
    return docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        best.alias("predicted_lang"),
        best_hits.alias("marker_hits"),
    )  # no final orderBy: per-doc output, order-insensitive gate (guide §2.4)


def _sql_lang_id() -> str:
    langs = sorted(LANG_MARKERS)

    def hit(lang: str) -> str:
        lst = "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + "]"
        return f"len(list_intersect(list_distinct({sql_tokens()}), {lst}))"

    # same left-to-right argmax chain as the Spark plan
    best = f"'{langs[0]}'"
    best_hits = hit(langs[0])
    for lang in langs[1:]:
        cond = f"{hit(lang)} > ({best_hits})"
        best = f"CASE WHEN {cond} THEN '{lang}' ELSE {best} END"
        best_hits = f"CASE WHEN {cond} THEN {hit(lang)} ELSE ({best_hits}) END"
    return f"""
SELECT doc_id, lang AS declared_lang,
       {best} AS predicted_lang,
       {best_hits} AS marker_hits
FROM documents
ORDER BY doc_id
"""


def lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language histogram with mean document length — the monitoring
    rollup a curation pipeline tracks per snapshot."""
    docs = _docs_table(spark, sf_dir)
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            round_half_up(
                F.sum("n_chars").cast("double") / F.count(F.lit(1)).cast("double"), 4
            ).alias("avg_chars"),
        )
        .orderBy("lang")
    )


_LANG_DIST_SQL = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(FLOOR((CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS avg_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    token portable-hashes, h = (h·31 + t) mod 2^61-1, as a sequential
    aggregate fold — catches exact re-orderings that the sorted fingerprint
    (dedup.dedup_fingerprint) deliberately ignores."""
    docs = _docs_table(spark, sf_dir)
    # modulus 2^31-1 keeps acc*31 + t < 2^37 — no int64 overflow in either
    # engine (DuckDB raises on BIGINT overflow; Spark would wrap silently)
    mersenne = (1 << 31) - 1
    tok_hashes = F.transform(
        tokens(), lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    )
    fp = F.aggregate(
        tok_hashes,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * F.lit(31) + t) % F.lit(mersenne),
    )
    return docs.select("doc_id", fp.alias("rolling_fp"))  # no final orderBy (guide §2.4)


_ROLLING_FP_SQL = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform({sql_tokens()},
             t -> CAST('0x' || substring(md5(t), 1, 8) AS BIGINT))),
         (acc, t) -> (acc * 31 + t) % {(1 << 31) - 1}) AS rolling_fp
FROM documents
ORDER BY doc_id
"""


# --- TF-IDF ----------------------------------------------------------------

TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF:
        tf = term count in doc;  idf = ln((N + 1) / (df + 1))
    Exact integer tf/df; the only float op is one ln and one multiply —
    identical IEEE ops in both engines. Tie-break by term asc.

    Scale: (doc, term) counts are one explode + hash agg; df is a second
    agg over distinct doc-terms; both shuffles carry (term) or (doc, term)
    pairs — never document bodies. The N scalar is a broadcast single row.
    """
    docs = _docs_table(spark, sf_dir)
    terms = docs.select(
        "doc_id", F.explode(tokens()).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf", round_half_up(F.col("tf").cast("double") * idf, 6)
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf", F.col("rank").cast("long").alias("rank"))
        # no final orderBy: rank column already carries the order (guide §2.4)
    )


_TFIDF_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest({sql_tokens()}) AS term FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms WHERE term <> ''
  GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(FLOOR((CAST(tf.tf AS DOUBLE)
               * ln((n.n_docs + 1.0) / (df.df + 1.0))) * 1000000.0 + 0.5) AS DOUBLE)
           / 1000000.0 AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
SELECT doc_id, term, tf, df, tfidf, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored) t
WHERE rank <= {TFIDF_TOP_K}
ORDER BY doc_id, rank
"""


def source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation report: doc count, mean quality score, exact
    duplicate rate (1 − distinct digests / docs) — the table a data curator
    ranks sources by before filtering a crawl."""
    docs = _docs_table(spark, sf_dir)
    scored = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    joined = docs.select("doc_id", "source", F.md5(F.col("text")).alias("digest")).join(
        scored, "doc_id"
    )
    q_e4 = F.floor(F.col("quality_score") * 10_000.0 + F.lit(0.5)).cast("long")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            round_half_up(
                F.sum(q_e4).cast("double") / F.lit(10_000.0) / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("mean_quality"),
            round_half_up(
                F.lit(1.0)
                - F.countDistinct("digest").cast("double") / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


def _sql_source_quality() -> str:
    return f"""
WITH scored AS ({_QUALITY_SQL.replace("ORDER BY doc_id", "")})
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(FLOOR((CAST(SUM(CAST(FLOOR(s.quality_score * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 10000.0 / CAST(COUNT(*) AS DOUBLE)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0
         AS mean_quality,
       CAST(FLOOR((1.0 - CAST(COUNT(DISTINCT md5(d.text)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS dup_rate
FROM documents d JOIN scored s ON d.doc_id = s.doc_id
GROUP BY d.source
ORDER BY d.source
"""


# --- deterministic sampling -------------------------------------------------

SAMPLE_PCT = 10


def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% corpus sample by hash bucket: keep docs whose portable md5 hash
    of doc_id lands in [0, SAMPLE_PCT) of 100 buckets. Unlike rand()-based
    TABLESAMPLE this is reproducible across runs, engines, and cluster
    sizes, and membership is stable under corpus growth — the properties a
    training-data subsample needs (held-out splits, ablations)."""
    from ..functions.scalars import portable_hash

    docs = _docs_table(spark, sf_dir)
    bucket = portable_hash(F.col("doc_id").cast("string")) % 100
    return (
        docs.select("doc_id", "source", bucket.alias("bucket"))
        .filter(F.col("bucket") < SAMPLE_PCT)
        # no final orderBy: per-doc output, order-insensitive gate (guide §2.4)
    )


_SAMPLE_SQL = f"""
SELECT doc_id, source, bucket FROM (
  SELECT doc_id, source,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
           AS bucket
  FROM documents) t
WHERE bucket < {SAMPLE_PCT}
ORDER BY doc_id
"""


# per-language sampling rates (percent of 100 hash buckets kept): upsample
# scarce languages, downsample the dominant one — the data-mix knob
STRATA_PCT = {"en": 30, "de": 60, "fr": 60, "es": 60, "ja": 90}
DEFAULT_STRATUM_PCT = 50


def stratified_sample_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic stratified sampling: each language keeps a
    different fraction of its docs via the same md5 hash-bucket rule as
    `deterministic_sample`, so membership is reproducible across engines and
    stable under corpus growth. Returns the per-stratum yield report
    (sampled/total vs the target rate).

    Scale: membership is a pure per-row expression — no shuffle, no
    coordination; the report aggregation is a 5-group hash agg. This is how
    a 100 TB data mix is rebalanced without materializing the sample."""
    from ..functions.scalars import portable_hash

    docs = _docs_table(spark, sf_dir)
    bucket = portable_hash(F.col("doc_id").cast("string")) % 100
    target = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(pct))
            for lang, pct in STRATA_PCT.items()
        ],
        F.lit(DEFAULT_STRATUM_PCT),
    )
    return (
        docs.select("lang", bucket.alias("bucket"), target.alias("target_pct"))
        .groupBy("lang", "target_pct")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("bucket") < F.col("target_pct"), 1).otherwise(0)
            ).alias("n_sampled"),
        )
        .orderBy("lang")
    )


_STRATA_CASE = (
    "CASE "
    + " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in STRATA_PCT.items())
    + f" ELSE {DEFAULT_STRATUM_PCT} END"
)
_STRATIFIED_SQL = f"""
SELECT lang, target_pct, COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN bucket < target_pct THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM (
  SELECT lang,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
           AS bucket,
         {_STRATA_CASE} AS target_pct
  FROM documents) t
GROUP BY lang, target_pct
ORDER BY lang
"""


PACK_BUDGET_CHARS = 2000


def token_budget_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: per language, documents in
    doc_id order are packed into consecutive bins of ~2000 chars (bin id =
    exclusive-running-total DIV budget — each bin may overrun by at most one
    document, the standard streaming-packing relaxation). Returns per-bin
    doc counts and fill levels.

    Scale: one window pass partitioned by lang (the pack shard). At 100 TB
    the shard key becomes (lang, hash(doc_id) % n_shards) so each shard's
    sort fits one task; packing quality is unchanged because bins never
    cross shards."""
    docs = _docs_table(spark, sf_dir)
    return (
        docs.withColumn("bin_id", pack_bin_col(F.col("doc_id")))
        .groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("bin_chars"),
        )
        .orderBy("lang", "bin_id")
    )


def pack_cum_before(*order_cols: F.Column) -> F.Column:
    """Exclusive running char total per lang under the given document
    order — the packing rule's running state (bin id and intra-bin offset
    are both pure functions of it)."""
    w = Window.partitionBy("lang").orderBy(*order_cols)
    return F.coalesce(
        F.sum("n_chars").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )


def pack_bin_of(cum: F.Column) -> F.Column:
    """Bin id from the running total — the DIV half of the packing rule."""
    return (cum / F.lit(PACK_BUDGET_CHARS)).cast("long")


def pack_bin_col(*order_cols: F.Column) -> F.Column:
    """THE packing rule: bin id = exclusive running char total DIV budget,
    per lang, under the given document order. `token_budget_bins` packs in
    corpus order; `assembly.packing_strategy_compare` re-prices the same
    rule under alternative orders; `packed_sequences_manifest` emits the
    per-doc assignment — one definition so none can drift."""
    return pack_bin_of(pack_cum_before(*order_cols))


def sql_pack_cum(order_by: str) -> str:
    """DuckDB twin of `pack_cum_before` — a subquery yielding every
    documents column plus `cum`, the exclusive running char total."""
    return f"""
    SELECT doc_id, lang, n_chars,
           COALESCE(SUM(n_chars) OVER (PARTITION BY lang ORDER BY {order_by}
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
    FROM documents"""


_SQL_PACK_BIN_OF = f"CAST(FLOOR(cum / {PACK_BUDGET_CHARS}.0) AS BIGINT)"


def sql_pack_bins(order_by: str) -> str:
    """DuckDB twin of `pack_bin_col` + the per-bin char rollup, as a
    subquery yielding (lang, bin_id, bin_chars, n_docs)."""
    return f"""
  SELECT lang, bin_id, COUNT(*) AS n_docs, SUM(n_chars) AS bin_chars
  FROM (
    SELECT lang, n_chars, {_SQL_PACK_BIN_OF} AS bin_id
    FROM ({sql_pack_cum(order_by)}) c) t
  GROUP BY lang, bin_id"""


_PACK_SQL = f"""
SELECT lang, bin_id, n_docs, CAST(bin_chars AS BIGINT) AS bin_chars
FROM ({sql_pack_bins("doc_id")}) b
ORDER BY lang, bin_id
"""


def packed_sequences_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packer's ACTING artifact: per document, the training bin it
    lands in and its char offset INSIDE that bin, under the
    `token_budget_bins` rule in corpus order. This manifest is what a
    packing writer materializes — concatenate each bin's docs at their
    offsets and the training sequences exist; `token_budget_bins` is the
    rollup view of exactly this assignment.

    Scale: the same one window pass as `token_budget_bins` (offset and
    bin id are both pure functions of the exclusive running total); output
    is one row per doc, the `curation_kept_docs` manifest weight."""
    docs = _docs_table(spark, sf_dir)
    cum = pack_cum_before(F.col("doc_id"))
    base = docs.select("doc_id", "lang", "n_chars", cum.alias("_cum"))
    bin_id = pack_bin_of(F.col("_cum"))
    return (
        base.select(
            "doc_id",
            "lang",
            bin_id.alias("bin_id"),
            (F.col("_cum") - bin_id * F.lit(PACK_BUDGET_CHARS))
            .cast("long")
            .alias("offset_chars"),
            "n_chars",
        )
        # no final orderBy: per-doc output, order-insensitive gate (guide §2.4)
    )


_PACK_MANIFEST_SQL = f"""
SELECT doc_id, lang,
       {_SQL_PACK_BIN_OF} AS bin_id,
       CAST(cum - {_SQL_PACK_BIN_OF} * {PACK_BUDGET_CHARS} AS BIGINT) AS offset_chars,
       n_chars
FROM ({sql_pack_cum("doc_id")}) t
ORDER BY doc_id
"""


# --- PII detection / redaction --------------------------------------------
#
# The driver corpus is synthetic word-salad with no real PII, so the query
# *injects* deterministic PII-shaped spans (an email and a phone number
# derived from doc_id/source) into each document and then proves the
# scrubbing operator finds and masks them. The operator itself —
# regexp_count + chained regexp_replace, all JVM-side — is exactly what a
# training-data pipeline runs before anything reaches a tokenizer; patterns
# are RE2/Java-regex portable so the DuckDB twin is literal.

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"


def _pii_raw() -> F.Column:
    """The deterministic PII-augmented text (synthetic email + phone spans
    appended, since the corpus itself carries none) — the ONE spelling
    `pii_redaction_stats` and `pii_redacted_docs` share, so the audit and
    the acting artifact can never drift (their SQL twins share
    `_SQL_PII_RAW_CTE` the same way)."""
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@"),
        F.col("source"),
        F.lit(".example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )


def _pii_redacted(raw: F.Column) -> F.Column:
    """emails → [EMAIL], phones → [PHONE]; shared by both PII operators."""
    return F.regexp_replace(
        F.regexp_replace(raw, F.lit(_EMAIL_RE), F.lit("[EMAIL]")),
        F.lit(_PHONE_RE),
        F.lit("[PHONE]"),
    )


_SQL_PII_RAW_CTE = """raw AS (
  SELECT doc_id, source,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' || source
              || '.example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
  FROM documents)"""

_SQL_PII_REDACTED = (
    f"regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '[EMAIL]', 'g'), "
    f"'{_PHONE_RE}', '[PHONE]', 'g')"
)


def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: docs scanned, PII spans found (emails / phones), and the
    size delta after masking — the audit report a scrub pass emits."""
    docs = _docs_table(spark, sf_dir)
    raw = _pii_raw()
    redacted = _pii_redacted(raw)
    per_doc = docs.select(
        "source",
        F.regexp_count(raw, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(raw, F.lit(_PHONE_RE)).alias("n_phones"),
        (F.length(raw) - F.length(redacted)).alias("chars_removed"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").alias("n_emails"),
            F.sum("n_phones").alias("n_phones"),
            F.sum("chars_removed").alias("chars_removed"),
        )
        .orderBy("source")
    )


_PII_SQL = f"""
WITH {_SQL_PII_RAW_CTE},
scrubbed AS (
  SELECT source, raw, {_SQL_PII_REDACTED} AS redacted
  FROM raw)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(raw, '{_EMAIL_RE}'))) AS BIGINT) AS n_emails,
       CAST(SUM(len(regexp_extract_all(raw, '{_PHONE_RE}'))) AS BIGINT) AS n_phones,
       CAST(SUM(len(raw) - len(redacted)) AS BIGINT) AS chars_removed
FROM scrubbed
GROUP BY source
ORDER BY source
"""


def pii_redacted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The acting half of `pii_redaction_stats`: the per-document scrubbed
    artifact itself — doc_id, the span counts found, and the REDACTED text
    (emails → [EMAIL], phones → [PHONE], same deterministic raw
    augmentation and the same two regexes as the stats report, so the two
    can never drift). The stats aggregate IS this frame grouped by source;
    this is the frame a release pipeline actually writes out.

    Scale: embarrassingly parallel — two JVM-side regexp_replace passes
    per row, zero shuffles before the presentation sort.
    """
    docs = _docs_table(spark, sf_dir)
    raw = _pii_raw()
    redacted = _pii_redacted(raw)
    return (
        docs.select(
            "doc_id",
            F.regexp_count(raw, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
            F.regexp_count(raw, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
            (F.length(raw) - F.length(redacted)).cast("long").alias("chars_removed"),
            redacted.alias("redacted_text"),
        )
        # no final orderBy: per-doc output, order-insensitive gate (guide §2.4)
    )


_PII_DOCS_SQL = f"""
WITH {_SQL_PII_RAW_CTE},
scrubbed AS (
  SELECT doc_id, raw, {_SQL_PII_REDACTED} AS redacted
  FROM raw)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       CAST(len(raw) - len(redacted) AS BIGINT) AS chars_removed,
       redacted AS redacted_text
FROM scrubbed
ORDER BY doc_id
"""


CHUNK_TOKENS = 32  # words per chunk
CHUNK_STRIDE = 24  # overlap = CHUNK_TOKENS - CHUNK_STRIDE = 8 words


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: split each document into 32-word
    chunks with 8 words of overlap — the context-window preprocessing step
    of every LLM training / RAG-indexing pipeline.

    Pure built-ins, no UDF: tokenize once, derive the chunk count with
    integer arithmetic, `sequence + explode` to generate one row per chunk
    distributively (the per-doc fan-out never exists driver-side), and
    `slice + concat_ws` to materialize each window. Embarrassingly
    parallel — zero shuffles before the presentation sort; at 100 TB this
    is a map-only job whose output is ~n_tokens/stride rows per doc."""
    docs = _docs_table(spark, sf_dir)
    words = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(words)
    # ceil((n - CHUNK)/STRIDE) + 1 for n > CHUNK, else 1 — all int math
    n_chunks = F.when(n <= CHUNK_TOKENS, F.lit(1)).otherwise(
        ((n - F.lit(CHUNK_TOKENS - CHUNK_STRIDE + 1)) / F.lit(CHUNK_STRIDE)).cast("long")
        + F.lit(1)
    )
    return (
        docs.select(
            "doc_id",
            words.alias("words"),
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.slice(
                F.col("words"),
                F.col("chunk_id") * CHUNK_STRIDE + 1,
                F.lit(CHUNK_TOKENS),
            ).alias("w"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("w").cast("long").alias("n_tokens"),
            F.concat_ws(" ", "w").alias("chunk_text"),
        )
        # no final orderBy: chunk_id column carries the order (guide §2.4)
    )


_CHUNKS_SQL = f"""
WITH w AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
    FROM documents
), sized AS (
    SELECT doc_id, words,
           CASE WHEN len(words) <= {CHUNK_TOKENS} THEN 1
                ELSE (len(words) - {CHUNK_TOKENS - CHUNK_STRIDE + 1}) // {CHUNK_STRIDE} + 1
           END AS n_chunks
    FROM w
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_id,
       CAST(len(words[i*{CHUNK_STRIDE}+1 : i*{CHUNK_STRIDE}+{CHUNK_TOKENS}]) AS BIGINT) AS n_tokens,
       array_to_string(words[i*{CHUNK_STRIDE}+1 : i*{CHUNK_STRIDE}+{CHUNK_TOKENS}], ' ') AS chunk_text
FROM sized, unnest(generate_series(0, n_chunks - 1)) AS t(i)
ORDER BY doc_id, chunk_id
"""


# --- BPE-ish subword token estimation --------------------------------------

# GPT-2/cl100k-flavoured lexer classes: letter runs, digit runs capped at 3,
# single punctuation marks. Kept to basic character classes so the Java
# (Spark) and RE2 (DuckDB) regex dialects tokenize identically.
_BPE_PATTERN_SPARK = r"[a-z]+|[0-9]{1,3}|[^a-z0-9\s]"
_BPE_PATTERN_SQL = "[a-z]+|[0-9]{1,3}|[^a-z0-9[:space:]]"


def bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenizer token count per document — the budget number an LLM
    data pipeline actually bills by (whitespace words undercount punctuation
    and digit splits). Pure per-row regexp map, JVM-side, no shuffle until
    the final sort; tokens_per_word shows the subword inflation factor."""
    docs = _docs_table(spark, sf_dir)
    bpe = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_PATTERN_SPARK), F.lit(0))
    )
    ws = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(F.size(tokens()))
    return docs.select(
        "doc_id",
        bpe.alias("n_bpe_tokens"),
        ws.alias("n_ws_tokens"),
        round_half_up(
            bpe.cast("double") / F.when(ws == 0, F.lit(None)).otherwise(ws).cast("double"),
            4,
        ).alias("tokens_per_word"),
    )  # no final orderBy: per-doc output, order-insensitive gate (guide §2.4)


_BPE_SQL = f"""
SELECT doc_id, n_bpe_tokens, n_ws_tokens,
       CAST(FLOOR((CAST(n_bpe_tokens AS DOUBLE) / CAST(NULLIF(n_ws_tokens, 0) AS DOUBLE))
            * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS tokens_per_word
FROM (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '{_BPE_PATTERN_SQL}')) AS n_bpe_tokens,
         CASE WHEN trim(text) = '' THEN 0 ELSE len({sql_tokens()}) END AS n_ws_tokens
  FROM documents) t
ORDER BY doc_id
"""


def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility audit per declared language: subword tokens per
    whitespace word (fertility) and characters per subword token
    (compression) — the two numbers that decide whether a tokenizer is
    fair to a language before training on a multilingual mix (high
    fertility = the language pays more sequence length for the same
    content; see the per-doc `bpe_token_estimate` for the corpus-wide
    budget view).

    Exactness: per-language integer sums of per-doc counts, one division
    at the end (round-half-up fixed point) — partition-order independent.
    Scale: pure per-row regexp map then a |langs|-cell aggregation;
    nothing shuffles but the language cells.
    """
    docs = _docs_table(spark, sf_dir)
    bpe = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_PATTERN_SPARK), F.lit(0))
    )
    ws = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(F.size(tokens()))
    per_doc = docs.select(
        "lang", bpe.alias("b"), ws.alias("w"), F.col("n_chars").cast("long").alias("ch")
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("b").cast("long").alias("n_bpe_tokens"),
        F.sum("w").cast("long").alias("n_ws_tokens"),
        F.sum("ch").cast("long").alias("n_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_bpe_tokens",
        "n_ws_tokens",
        "n_chars",
        round_half_up(
            F.col("n_bpe_tokens").cast("double")
            / F.when(F.col("n_ws_tokens") == 0, F.lit(None)).otherwise(F.col("n_ws_tokens")).cast("double"),
            4,
        ).alias("fertility"),
        round_half_up(
            F.col("n_chars").cast("double")
            / F.when(F.col("n_bpe_tokens") == 0, F.lit(None)).otherwise(F.col("n_bpe_tokens")).cast("double"),
            4,
        ).alias("chars_per_token"),
    ).orderBy("lang")


_FERTILITY_SQL = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(b) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(w) AS BIGINT) AS n_ws_tokens,
       CAST(SUM(ch) AS BIGINT) AS n_chars,
       CAST(FLOOR((CAST(SUM(b) AS DOUBLE) / CAST(NULLIF(SUM(w), 0) AS DOUBLE)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS fertility,
       CAST(FLOOR((CAST(SUM(ch) AS DOUBLE) / CAST(NULLIF(SUM(b), 0) AS DOUBLE)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS chars_per_token
FROM (
  SELECT lang,
         len(regexp_extract_all(lower(text), '{_BPE_PATTERN_SQL}')) AS b,
         CASE WHEN trim(text) = '' THEN 0 ELSE len({sql_tokens()}) END AS w,
         CAST(n_chars AS BIGINT) AS ch
  FROM documents) t
GROUP BY lang
ORDER BY lang
"""


# --- BPE vocab induction: first merge round --------------------------------

BPE_MERGE_TOP_K = 20


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent-character-pair frequencies across the corpus — the
    statistic the first BPE merge iteration (Sennrich et al. 2016) is
    chosen from. Each whitespace word contributes one count per adjacent
    char pair per occurrence (corpus-frequency weighting, the standard BPE
    objective).

    Scale (100 TB): per-row generate (word → len-1 pairs, bounded by text
    length), then one hash-agg on a 2-char key whose cardinality is tiny
    (≤ alphabet²) — partial aggregation absorbs nearly everything map-side;
    the top-k is TakeOrderedAndProject. Full BPE training iterates this
    with the winning pair merged — each round is this same one-agg plan.
    """
    docs = _docs_table(spark, sf_dir)
    words = docs.select(F.explode(tokens()).alias("word")).filter(F.length("word") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(BPE_MERGE_TOP_K)
    )


_BPE_MERGE_SQL = f"""
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT substring(word, CAST(i AS INTEGER), 2) AS pair
  FROM (SELECT unnest({sql_tokens()}) AS word FROM documents) w,
       LATERAL unnest(range(1, length(word))) AS t(i)
  WHERE length(word) >= 2)
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {BPE_MERGE_TOP_K}
"""


# --- BPE vocab induction: K merge rounds ------------------------------------

BPE_INDUCT_ROUNDS = 6


def bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round BPE vocabulary induction (Sennrich et al. 2016): start
    from the word-frequency table with words as character sequences; each
    round counts adjacent symbol pairs weighted by word frequency, adopts
    the most frequent pair (ties → lexicographic) as a merge rule, applies
    it leftmost-greedy to every word, and recounts. Output: one row per
    round — the learned merge table, the actual artifact a tokenizer
    trainer produces (`bpe_merge_candidates` is this loop's first
    iteration statistic).

    Scale (100 TB): the corpus collapses to the WORD-FREQUENCY table in
    one hash-agg (the classic BPE trick — |vocab| ≪ corpus), and every
    round is one pair hash-agg (alphabet²-bounded key space, map-side
    combined) + a TakeOrderedAndProject top-1 + a per-row array fold;
    the winning pair re-enters as a 1-row broadcast crossJoin, never a
    driver value. Per-round `localCheckpoint` cuts the iterative lineage
    (same guard as PageRank / MMR — the vocab feeds both the pair count
    and the merge each round).
    """
    _, rounds = _bpe_induct(spark, sf_dir)
    if not rounds:
        # No multi-symbol words at all — zero merge rules, empty table.
        return spark.createDataFrame(
            [], "round INT, left_sym STRING, right_sym STRING, merged STRING, n LONG"
        )
    out = rounds[0]
    for frame in rounds[1:]:
        out = out.unionByName(frame)
    return out.orderBy("round")


def _bpe_induct(spark: SparkSession, sf_dir: str):
    """Shared K-round BPE induction: returns (final vocab (word, syms, wn)
    with ALL K merges applied, [per-round 1-row merge frames]). The merge
    table feeds `bpe_merge_rounds`; the merged vocab is the induced
    tokenizer `bpe_compression_by_lang` applies back to the corpus."""
    docs = _docs_table(spark, sf_dir)
    vocab = caching.checkpoint(
        docs.select(F.explode(tokens()).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wn"))
        .select("word", F.split("word", "").alias("syms"), "wn"),
        "bpe_induct.vocab",
    )
    merge_expr = F.expr(
        """
        aggregate(syms, CAST(array() AS ARRAY<STRING>),
          (acc, x) -> IF(size(acc) > 0 AND element_at(acc, -1) = pa AND x = pb,
            concat(slice(acc, 1, size(acc) - 1), array(concat(pa, pb))),
            concat(acc, array(x))))
        """
    )
    rounds = []
    for r in range(1, BPE_INDUCT_ROUNDS + 1):
        pairs = (
            vocab.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) AS a, "
                        "element_at(syms, i + 1) AS b))"
                    )
                ).alias("p"),
                "wn",
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("wn").cast("long").alias("n"))
        )
        best = caching.checkpoint(pairs.orderBy(F.desc("n"), "a", "b").limit(1), "bpe_induct.best")
        if best.isEmpty():
            # Pair table dry (corpus fully merged / all single-symbol words):
            # the reference trainer breaks and keeps the last vocab. The vocab
            # is unchanged from here on, so every later round would also be
            # dry — stop emitting merges. Mirrors the oracle's LEFT JOIN
            # no-op fallback in _sql_bpe_chain.
            break
        rounds.append(
            best.select(
                F.lit(r).alias("round"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.concat("a", "b").alias("merged"),
                "n",
            )
        )
        vocab = caching.checkpoint(
            vocab.crossJoin(
                F.broadcast(best.select(F.col("a").alias("pa"), F.col("b").alias("pb")))
            ).select("word", merge_expr.alias("syms"), "wn"),
            "bpe_induct.vocab",
        )
    return vocab, rounds


def bpe_compression_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the induced BPE merge table back to the corpus: per declared
    language, word/char/symbol totals under the K-merge vocabulary and the
    two efficiency ratios (symbols per word, chars per symbol) — the
    post-induction twin of `tokenizer_fertility_by_lang` (which proxies
    with a fixed regex lexer): did the merges actually buy compression,
    and for which languages?

    Scale (100 TB): tokenization-by-lookup — the merged vocab is a
    |vocab|-row broadcast (word → symbol count), so the corpus pass is a
    per-row explode + broadcast hash join + |langs|-cell agg; the corpus
    text never shuffles and the fold never re-runs per occurrence.
    """
    vocab, _ = _bpe_induct(spark, sf_dir)
    lut = vocab.select(
        "word",
        F.size("syms").alias("n_syms"),
        F.length("word").alias("n_chars_w"),
    )
    words = (
        _docs_table(spark, sf_dir)
        .select("lang", F.explode(tokens()).alias("word"))
        .filter(F.col("word") != "")
    )
    agg = words.join(F.broadcast(lut), "word").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_chars_w").cast("long").alias("n_chars"),
        F.sum("n_syms").cast("long").alias("n_symbols"),
    )
    return agg.select(
        "lang",
        "n_words",
        "n_chars",
        "n_symbols",
        round_half_up(
            F.col("n_symbols").cast("double") / F.col("n_words").cast("double"), 4
        ).alias("symbols_per_word"),
        round_half_up(
            F.col("n_chars").cast("double") / F.col("n_symbols").cast("double"), 4
        ).alias("chars_per_symbol"),
    ).orderBy("lang")


# DuckDB twin: the K rounds unroll into K materialized CTE stages (the
# AS MATERIALIZED is load-bearing — without it DuckDB re-inlines each
# round's vocab into every later round). Symbol sequences travel as a
# separator-framed string (every symbol wrapped as SEP||sym||SEP) so the
# leftmost-greedy merge is a plain non-overlapping replace() — framing
# each symbol individually makes runs like [a,a,a,a] merge pairwise
# exactly like the Spark array fold (shared-separator framing would not).
_BPE_SEP = "\x1f"  # U+001F unit separator: absent from the corpus by design


def _sql_bpe_chain() -> str:
    """The shared induction CTE chain: v0..v{K} carry (word, rep, wn) with
    merges 1..r applied in vr; b1..b{K} are the per-round winning pairs."""
    s = _BPE_SEP
    ctes = [
        f"""v0 AS MATERIALIZED (
  SELECT word, regexp_replace(word, '(.)', '{s}\\1{s}', 'g') AS rep, COUNT(*) AS wn
  FROM (SELECT unnest({sql_tokens()}) AS word FROM documents) w
  WHERE word <> ''
  GROUP BY word)"""
    ]
    for r in range(1, BPE_INDUCT_ROUNDS + 1):
        ctes.append(
            f"""p{r} AS MATERIALIZED (
  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(SUM(wn) AS BIGINT) AS n
  FROM (SELECT string_split(trim(rep, '{s}'), '{s}{s}') AS syms, wn FROM v{r - 1}) t,
       LATERAL unnest(range(1, len(syms))) AS u(i)
  GROUP BY a, b)"""
        )
        ctes.append(
            f"""b{r} AS MATERIALIZED (
  SELECT a, b, n FROM p{r} ORDER BY n DESC, a, b LIMIT 1)"""
        )
        ctes.append(
            # LEFT JOIN ON TRUE (not CROSS JOIN): an empty b{r} (pair table
            # dry) must leave the vocab UNCHANGED — the reference trainer
            # breaks and keeps the last state — not empty it permanently.
            f"""v{r} AS MATERIALIZED (
  SELECT word,
         CASE WHEN bk.a IS NULL THEN rep
              ELSE replace(rep, '{s}' || bk.a || '{s}{s}' || bk.b || '{s}',
                     '{s}' || bk.a || bk.b || '{s}') END AS rep,
         wn
  FROM v{r - 1} LEFT JOIN b{r} bk ON TRUE)"""
        )
    return ",\n".join(ctes)


def _sql_bpe_merge_rounds() -> str:
    unions = "\nUNION ALL ".join(
        f"SELECT {r} AS round, a AS left_sym, b AS right_sym, a || b AS merged, n FROM b{r}"
        for r in range(1, BPE_INDUCT_ROUNDS + 1)
    )
    return (
        "WITH " + _sql_bpe_chain() + f"\nSELECT * FROM (\n{unions})\nORDER BY round"
    )


def _sql_bpe_compression() -> str:
    s = _BPE_SEP
    k = BPE_INDUCT_ROUNDS
    return f"""
WITH {_sql_bpe_chain()},
lut AS (
  SELECT word, len(string_split(trim(rep, '{s}'), '{s}{s}')) AS n_syms,
         length(word) AS n_chars_w
  FROM v{k}),
w AS (
  SELECT lang, unnest({sql_tokens()}) AS word FROM documents),
j AS (
  SELECT lang, n_syms, n_chars_w FROM w JOIN lut USING (word) WHERE word <> '')
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_chars_w) AS BIGINT) AS n_chars,
       CAST(SUM(n_syms) AS BIGINT) AS n_symbols,
       {sql_round_half_up('CAST(SUM(n_syms) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)', 4)}
         AS symbols_per_word,
       {sql_round_half_up('CAST(SUM(n_chars_w) AS DOUBLE) / CAST(SUM(n_syms) AS DOUBLE)', 4)}
         AS chars_per_symbol
FROM j
GROUP BY lang
ORDER BY lang
"""


# --- collocation mining --------------------------------------------------------

COLLOC_MIN_COUNT = 10
COLLOC_TOP_K = 20


def token_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent-word collocations by lift (observed bigram frequency ÷
    expected-under-independence) with a minimum-count floor — the
    PMI-style collocation miner (lift = e^PMI, same ranking, but computed
    as an exact integer ratio into one IEEE division instead of a
    transcendental log that can drift between engines).

    Scale: bigram generation is a per-row transform (len−1 pairs); both
    the bigram and unigram aggregations are vocabulary-bounded hash aggs;
    the unigram relation re-joins broadcast. Top-k is
    TakeOrderedAndProject.
    """
    docs = _docs_table(spark, sf_dir)
    toks = docs.select(tokens().alias("toks"))
    # sequence(1, 0) guard (see _BIGRAMS): single-token docs have no bigrams
    bigrams = toks.filter(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"
            )
        ).alias("b")
    ).select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    n_bigrams = bigrams.agg(F.count(F.lit(1)).alias("n_total"))
    pair_counts = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    uni = (
        bigrams.select(F.col("w1").alias("w")).unionByName(bigrams.select(F.col("w2").alias("w")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    lift = (
        F.col("n_ab").cast("double") * F.lit(4.0) * F.col("n_total").cast("double")
    ) / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    return (
        pair_counts.filter(F.col("n_ab") >= COLLOC_MIN_COUNT)
        .join(F.broadcast(uni.select(F.col("w").alias("w1"), F.col("n").alias("n_a"))), "w1")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"), F.col("n").alias("n_b"))), "w2")
        .crossJoin(F.broadcast(n_bigrams))
        .select(
            "w1",
            "w2",
            "n_ab",
            round_half_up(lift, 4).alias("lift"),
        )
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(COLLOC_TOP_K)
    )


_COLLOC_SQL = f"""
WITH bigrams AS (
  SELECT b.w1, b.w2 FROM (
    SELECT unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
             i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS b
    FROM (SELECT {sql_tokens()} AS toks FROM documents) base) t),
nt AS (SELECT COUNT(*) AS n_total FROM bigrams),
pc AS (SELECT w1, w2, COUNT(*) AS n_ab FROM bigrams GROUP BY 1, 2),
uni AS (
  SELECT w, COUNT(*) AS n FROM (
    SELECT w1 AS w FROM bigrams UNION ALL SELECT w2 FROM bigrams) u
  GROUP BY w)
SELECT w1, w2, n_ab,
       {sql_round_half_up("CAST(n_ab AS DOUBLE) * 4.0 * CAST(n_total AS DOUBLE) / (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE))", 4)} AS lift
FROM pc
JOIN uni ua ON ua.w = w1
JOIN uni ub ON ub.w = w2
CROSS JOIN nt
WHERE n_ab >= {COLLOC_MIN_COUNT}
ORDER BY lift DESC, w1, w2
LIMIT {COLLOC_TOP_K}
"""


# --- vocabulary coverage (OOV rate) ------------------------------------------

VOCAB_K = 1000


def oov_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus' own top-1000
    token vocabulary — the tokenizer-coverage audit: a source whose OOV
    share is high will fragment into subword soup (high fertility) under a
    vocab trained on this corpus, which inflates its real token bill.

    Determinism: the vocab cutoff orders by (count DESC, token ASC), so the
    boundary is unambiguous in both engines. OOV share is integer
    round-half-up.

    Scale (100 TB): pass 1 is one token hash-agg (partial-aggregated);
    the vocab is top-k — TakeOrderedAndProject, broadcast back (1000 rows);
    pass 2 is a per-row map + broadcast hash lookup + per-source agg. No
    data-sized shuffle carries token strings twice.
    """
    docs = _docs_table(spark, sf_dir)
    toks = docs.select(
        "source", F.explode(tokens()).alias("token")
    ).filter(F.length("token") >= 1)
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(VOCAB_K)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .withColumn(
            "oov_share",
            F.expr("(n_oov * 20000 + n_tokens) div (2 * n_tokens)").cast("double")
            / F.lit(10000.0),
        )
        .orderBy("source")
    )


_OOV_SQL = f"""
WITH toks AS (
  SELECT source, token FROM (
    SELECT source, unnest({sql_tokens()}) AS token FROM documents) t
  WHERE length(token) >= 1),
vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS n FROM toks GROUP BY token
    ORDER BY n DESC, token LIMIT {VOCAB_K}) v)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST((SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 20000 + COUNT(*))
            // (2 * COUNT(*)) AS DOUBLE) / 10000.0 AS oov_share
FROM toks t LEFT JOIN vocab v ON v.token = t.token
GROUP BY source
ORDER BY source
"""


# --- vocabulary coverage curve ------------------------------------------------

VOCAB_GRID: tuple[int, ...] = (4, 8, 16, 32)


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage as a function of vocabulary budget: for each
    candidate vocab size (top-N tokens by frequency, ties on the token
    string), the share of the corpus' total token mass those N entries
    cover. The vocab-sizing curve read BEFORE committing a tokenizer
    budget — `oov_rate_report` prices one fixed cutoff per source; this is
    the whole frontier. Coverage saturates at 1.0 once the budget exceeds
    the true vocabulary (the largest grid point proves saturation on
    driver data).

    Exactness: masses are int64 token counts; the only double is the final
    coverage ratio of two exact integers.

    Scale: one explode → token hash-agg, a top-max(grid)
    TakeOrderedAndProject, ranks via the K²-bounded broadcast
    self-comparison (zipf's pattern — no global window), and the whole
    grid prices as conditional sums in ONE aggregate over ≤max(grid)
    cells + a 1-row totals broadcast."""
    docs = _docs_table(spark, sf_dir)
    freqs = (
        docs.filter(F.trim(F.col("text")) != "")
        .select(F.explode(tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = freqs.agg(
        F.sum("n").alias("total_token_mass"), F.count(F.lit(1)).alias("vocab_size")
    )
    kept = freqs.orderBy(F.desc("n"), F.asc("token")).limit(max(VOCAB_GRID))
    other = kept.select(F.col("n").alias("n2"), F.col("token").alias("k2"))
    better = (F.col("n2") > F.col("n")) | (
        (F.col("n2") == F.col("n")) & (F.col("k2") < F.col("token"))
    )
    ranked = (
        kept.crossJoin(F.broadcast(other))
        .groupBy("token", "n")
        .agg((F.sum(F.when(better, 1).otherwise(0)) + F.lit(1)).alias("rank"))
    )
    aggs = []
    for g in VOCAB_GRID:
        hit = F.col("rank") <= g
        aggs.append(
            F.coalesce(F.sum(F.when(hit, F.col("n"))), F.lit(0))
            .cast("long")
            .alias(f"mass_{g}")
        )
        aggs.append(
            F.coalesce(F.sum(hit.cast("long")), F.lit(0)).cast("long").alias(f"cnt_{g}")
        )
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(g).alias("vocab_budget"),
                    F.col(f"cnt_{g}").alias("tokens_covered"),
                    F.col(f"mass_{g}").alias("mass_covered"),
                )
                for g in VOCAB_GRID
            ]
        )
    )
    return (
        ranked.agg(*aggs)
        .crossJoin(F.broadcast(totals))
        # all-blank corpus: total mass is NULL (sum over nothing) and the
        # oracle's FROM ranked ... GROUP BY yields no rows — drop the
        # all-NULL grid here so both engines emit 0 rows
        .filter(F.col("total_token_mass").isNotNull())
        .select("total_token_mass", "vocab_size", cells.alias("c"))
        .select(
            F.col("c.vocab_budget").alias("vocab_budget"),
            F.col("c.tokens_covered").alias("tokens_covered"),
            F.col("c.mass_covered").alias("mass_covered"),
            "total_token_mass",
            "vocab_size",
            round_half_up(
                F.col("c.mass_covered").cast("double")
                / F.col("total_token_mass").cast("double"),
                6,
            ).alias("coverage_pct"),
        )
        .orderBy("vocab_budget")
    )


def _sql_vocab_coverage() -> str:
    grid = ", ".join(str(g) for g in VOCAB_GRID)
    return f"""
WITH freqs AS (
  SELECT token, COUNT(*) AS n FROM (
    SELECT unnest({sql_tokens()}) AS token
    FROM documents WHERE trim(text) <> '') t
  GROUP BY token),
totals AS (
  SELECT SUM(n) AS total_token_mass, COUNT(*) AS vocab_size FROM freqs),
ranked AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rank
  FROM freqs ORDER BY n DESC, token ASC LIMIT {max(VOCAB_GRID)}),
grid AS (SELECT unnest([{grid}]) AS vocab_budget)
SELECT CAST(vocab_budget AS INTEGER) AS vocab_budget,
       CAST(SUM(CASE WHEN rank <= vocab_budget THEN 1 ELSE 0 END) AS BIGINT)
         AS tokens_covered,
       CAST(COALESCE(SUM(CASE WHEN rank <= vocab_budget THEN n END), 0) AS BIGINT)
         AS mass_covered,
       CAST(MAX(total_token_mass) AS BIGINT) AS total_token_mass,
       CAST(MAX(vocab_size) AS BIGINT) AS vocab_size,
       {sql_round_half_up(
           "CAST(COALESCE(SUM(CASE WHEN rank <= vocab_budget THEN n END), 0) AS DOUBLE)"
           " / CAST(MAX(total_token_mass) AS DOUBLE)", 6)} AS coverage_pct
FROM ranked CROSS JOIN grid CROSS JOIN totals
GROUP BY vocab_budget
ORDER BY vocab_budget
"""


# --- deterministic training shards ------------------------------------------

N_SHARDS = 16


def training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard assignment + balance report: shard = portable
    hash of doc_id mod N_SHARDS; per shard, doc / whitespace-token / char
    totals. This is the writer-side contract of a training run — shards
    must be reproducible across engines and stable per doc (a re-run or a
    late-arriving partition lands every doc in the same shard), which
    rand() round-robin cannot give.

    Scale (100 TB): shard id is a pure per-row expression; the report is
    one hash-agg on a 16-value key (fully map-side-combined). The actual
    shard write is `df.repartition(N_SHARDS, shard).write...` — same key,
    one shuffle, and the report here is the skew check you run FIRST to
    see whether any shard would hot-spot an executor.
    """
    from ..functions.scalars import portable_hash

    docs = _docs_table(spark, sf_dir)
    shard = (portable_hash(F.col("doc_id").cast("string")) % N_SHARDS).alias("shard")
    n_tok = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(F.size(tokens()))
    return (
        docs.select(shard, n_tok.alias("n_tok"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("shard")
    )


_SHARDS_SQL = f"""
SELECT CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % {N_SHARDS}
         AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN trim(text) = '' THEN 0 ELSE len({sql_tokens()}) END) AS BIGINT)
         AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1
ORDER BY shard
"""


# --- Zipf rank-frequency fit ---------------------------------------------------

ZIPF_TOP = 1000


def zipf_fit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus token distribution: least-squares
    slope of ln(frequency) on ln(rank) across the top-ZIPF_TOP tokens —
    natural text sits near slope −1; a much flatter or steeper slope
    flags template/boilerplate or truncated corpora. One row: corpus
    token mass, vocabulary size, fitted slope and intercept.

    Exactness: ln(rank) and ln(freq) are e6 fixed-point int64 per token,
    so all five regression sums are exact integers; the closed-form
    slope/intercept then divide identical doubles in both engines.
    Rank ties break on the token string, so the kept set and ranks are
    deterministic.

    Scale: one explode → token hash-agg (the tfidf shuffle), a top-K
    TakeOrderedAndProject, and a 1-row reduction over K cells.
    """
    docs = _docs_table(spark, sf_dir)
    freqs = (
        docs.filter(F.trim(F.col("text")) != "")
        .select(F.explode(tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    totals = freqs.agg(
        F.sum("freq").alias("n_token_mass"), F.count(F.lit(1)).alias("vocab_size")
    )
    # rank WITHOUT a global window (the registry-wide plan pin): the kept
    # frame is ≤ ZIPF_TOP rows, so rank = 1 + count-of-better via a
    # broadcast self-comparison over K² bounded cells (theilsen's
    # cells-first O(K²) argument; K is a constant, not data-sized)
    kept = freqs.orderBy(F.desc("freq"), F.asc("token")).limit(ZIPF_TOP)
    other = kept.select(F.col("freq").alias("f2"), F.col("token").alias("k2"))
    better = (F.col("f2") > F.col("freq")) | (
        (F.col("f2") == F.col("freq")) & (F.col("k2") < F.col("token"))
    )
    top = (
        kept.crossJoin(F.broadcast(other))
        .groupBy("token", "freq")
        .agg((F.sum(F.when(better, 1).otherwise(0)) + F.lit(1)).alias("rank"))
    )
    x = F.floor(F.log(F.col("rank").cast("double")) * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    y = F.floor(F.log(F.col("freq").cast("double")) * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    cells = top.select(
        x.alias("x"), y.alias("y"), (x * y).alias("xy"), (x * x).alias("xx")
    )
    sums = cells.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"),
        F.sum("xx").alias("sxx"),
    )
    kd = F.col("k").cast("double")
    sxd = F.col("sx").cast("double") / F.lit(1e6)
    syd = F.col("sy").cast("double") / F.lit(1e6)
    sxyd = F.col("sxy").cast("double") / F.lit(1e12)
    sxxd = F.col("sxx").cast("double") / F.lit(1e12)
    slope = (kd * sxyd - sxd * syd) / (kd * sxxd - sxd * sxd)
    return (
        sums.crossJoin(F.broadcast(totals))
        .select(
            "n_token_mass",
            "vocab_size",
            F.col("k").alias("n_fit_tokens"),
            round_half_up(slope, 6).alias("slope"),
            round_half_up((syd - slope * sxd) / kd, 6).alias("intercept"),
        )
    )


_ZIPF_SQL = f"""
WITH freqs AS (
  SELECT token, COUNT(*) AS freq FROM (
    SELECT unnest({sql_tokens()}) AS token
    FROM documents WHERE trim(text) <> '') t
  GROUP BY token),
totals AS (SELECT SUM(freq) AS n_token_mass, COUNT(*) AS vocab_size FROM freqs),
top AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rank
  FROM freqs ORDER BY freq DESC, token ASC LIMIT {ZIPF_TOP}),
cells AS (
  SELECT CAST(FLOOR(ln(CAST(rank AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS x,
         CAST(FLOOR(ln(CAST(freq AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS y
  FROM top),
sums AS (
  SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM cells)
SELECT CAST(n_token_mass AS BIGINT) AS n_token_mass,
       CAST(vocab_size AS BIGINT) AS vocab_size,
       CAST(k AS BIGINT) AS n_fit_tokens,
       {sql_round_half_up(
           "(CAST(k AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e12)"
           " - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))"
           " / (CAST(k AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e12)"
           " - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6))", 6)} AS slope,
       {sql_round_half_up(
           "((CAST(sy AS DOUBLE) / 1e6)"
           " - ((CAST(k AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e12)"
           "     - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))"
           "    / (CAST(k AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e12)"
           "       - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6)))"
           " * (CAST(sx AS DOUBLE) / 1e6)) / CAST(k AS DOUBLE)", 6)} AS intercept
FROM sums CROSS JOIN totals
"""


QUERIES = {
    "token_counts": token_counts,
    "zipf_fit_report": zipf_fit_report,
    "bpe_token_estimate": bpe_token_estimate,
    "tokenizer_fertility_by_lang": tokenizer_fertility_by_lang,
    "bpe_merge_candidates": bpe_merge_candidates,
    "bpe_merge_rounds": bpe_merge_rounds,
    "bpe_compression_by_lang": bpe_compression_by_lang,
    "training_shards": training_shards,
    "oov_rate_report": oov_rate_report,
    "token_collocations": token_collocations,
    "doc_chunks": doc_chunks,
    "quality_scores": quality_scores,
    "lang_id": lang_id,
    "lang_distribution": lang_distribution,
    "doc_rolling_fingerprint": doc_rolling_fingerprint,
    "tfidf_top_terms": tfidf_top_terms,
    "source_quality_rollup": source_quality_rollup,
    "deterministic_sample": deterministic_sample,
    "stratified_sample_report": stratified_sample_report,
    "token_budget_bins": token_budget_bins,
    "pii_redaction_stats": pii_redaction_stats,
    "pii_redacted_docs": pii_redacted_docs,
    "quality_classifier_scores": quality_classifier_scores,
    "quality_calibration_report": quality_calibration_report,
    "bigram_fluency_scores": bigram_fluency_scores,
    "vocab_coverage_curve": vocab_coverage_curve,
    "packed_sequences_manifest": packed_sequences_manifest,
}

ORACLES = {
    "token_counts": _TOKEN_COUNTS_SQL,
    "zipf_fit_report": _ZIPF_SQL,
    "bpe_token_estimate": _BPE_SQL,
    "tokenizer_fertility_by_lang": _FERTILITY_SQL,
    "bpe_merge_candidates": _BPE_MERGE_SQL,
    "bpe_merge_rounds": _sql_bpe_merge_rounds(),
    "bpe_compression_by_lang": _sql_bpe_compression(),
    "training_shards": _SHARDS_SQL,
    "oov_rate_report": _OOV_SQL,
    "token_collocations": _COLLOC_SQL,
    "doc_chunks": _CHUNKS_SQL,
    "quality_scores": _QUALITY_SQL,
    "lang_id": _sql_lang_id(),
    "lang_distribution": _LANG_DIST_SQL,
    "doc_rolling_fingerprint": _ROLLING_FP_SQL,
    "tfidf_top_terms": _TFIDF_SQL,
    "source_quality_rollup": _sql_source_quality(),
    "deterministic_sample": _SAMPLE_SQL,
    "stratified_sample_report": _STRATIFIED_SQL,
    "token_budget_bins": _PACK_SQL,
    "pii_redaction_stats": _PII_SQL,
    "pii_redacted_docs": _PII_DOCS_SQL,
    "quality_classifier_scores": _CLF_SQL,
    "quality_calibration_report": _sql_calibration(),
    "bigram_fluency_scores": _FLUENCY_SQL,
    "vocab_coverage_curve": _sql_vocab_coverage(),
    "packed_sequences_manifest": _PACK_MANIFEST_SQL,
}
