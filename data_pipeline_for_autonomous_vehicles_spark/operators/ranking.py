"""BM25 full-text ranking over the documents table — the length-normalized
upgrade of `tfidf_top_terms` (operators/text.py) and the lexical leg that
`hybrid_search_rrf` (operators/similarity.py) approximates with integer IDF.

Okapi BM25 with the standard k1/b parameters: per query term
    idf(t)  = ln(1 + (N − df + 0.5) / (df + 0.5))
    norm(d) = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
summed over the query. Per-(doc, term) arithmetic is scalar IEEE — identical
in Spark and DuckDB when the expression tree is written identically (both
sides below mirror token-for-token); the only order-dependent step, the
per-doc sum over query terms, goes through the scaled-int64 exact-sum
pattern (functions/scalars.py rationale).

Scale shape: one (doc, term) hash agg builds tf; doc length and the corpus
scalars (N, avgdl) derive from tf without rescanning text; the query-term
filter lands BEFORE the scoring join, so everything downstream of the first
shuffle is |Q|·(matching docs) rows; df and the scalar row are broadcast;
the final top-k is a TakeOrderedAndProject (no global sort). Document
bodies never shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import math as _math

from .. import caching
from ..catalog import load_table
from ..functions.scalars import round_half_up, sql_round_half_up, sql_tokens, tokens


def rank_of_topk(top: DataFrame, score_desc: str, tiebreak_asc: str) -> DataFrame:
    """Display rank 1..K for an already-top-k'd relation WITHOUT a window:
    rank(r) = 1 + |rows strictly before r| via a broadcast self-join over
    the K survivors (K² pairs, K ≤ tens). A row_number window here would
    be an unpartitioned WindowExec — harmless on K rows but it puts a
    single-partition window operator in the plan, which the plan audit
    (`plans.unpartitioned_windows`) bans outright so that the invariant
    "no window ever runs pre-limit on data-sized input" stays machine-
    checkable with zero exceptions."""
    a, b = top.alias("a"), top.alias("b")
    before = (F.col(f"b.{score_desc}") > F.col(f"a.{score_desc}")) | (
        (F.col(f"b.{score_desc}") == F.col(f"a.{score_desc}"))
        & (F.col(f"b.{tiebreak_asc}") < F.col(f"a.{tiebreak_asc}"))
    )
    return (
        a.join(F.broadcast(b), before, "left")
        .groupBy(*[F.col(f"a.{c}").alias(c) for c in top.columns])
        .agg((F.count(F.col(f"b.{tiebreak_asc}")) + 1).cast("long").alias("topk_pos"))
    )


QUERY_TERMS = ("vector", "merge", "stream")
TOP_K = 10
K1 = 1.2
B = 0.75
_K1P1 = K1 + 1.0  # literalized in Python so both engines parse one constant
_OMB = 1.0 - B


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K documents for QUERY_TERMS by BM25, tie-broken by doc_id.

    QUERY_TERMS is a plan-time constant, so tf/dl per query term are
    per-document ARRAY EXPRESSIONS over the tokenized text — there is no
    (doc, term) shuffle anywhere: pass 1 is a map-side reduce to the 1-row
    corpus stats (n_docs, avgdl, per-term df), pass 2 re-scans docs,
    broadcasts the stats row, scores each doc in closed form, and finishes
    with a TakeOrderedAndProject. The previous form re-derived a corpus-
    sized (doc, term) hash aggregate in four plan branches (14 exchanges);
    this one has two scans and the stats singleton. Per-(doc, term)
    arithmetic is written token-for-token like the oracle, and contributions
    are exact int64 (floor(x·1e6+0.5)) before the per-doc sum, so results
    are bit-identical."""
    from ..catalog import spread_small_scan

    # spread_small_scan: the per-term tf/dl array folds below are this
    # query's dominant map pass over a single-split scan locally; no-op at
    # scale (catalog docstring)
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    toks = F.filter(
        tokens(), lambda x: x != ""
    )
    nq = len(QUERY_TERMS)

    def _tf(term: str) -> F.Column:
        # NB: a single-arg lambda — a 2-arg lambda would bind PySpark's
        # (element, index) higher-order convention, not a Python closure
        return F.size(F.filter(toks, lambda x: x == F.lit(term))).cast("long")

    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[_tf(t).alias(f"tf_{i}") for i, t in enumerate(QUERY_TERMS)],
    )
    base = caching.materialize(base, "bm25_topk.base")  # (doc_id, 4 longs): both passes read it
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(nq)
        ],
    ).select(
        "n_docs",
        (F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")).alias(
            "avgdl"
        ),
        *[F.col(f"df_{i}") for i in range(nq)],
    )

    def _contrib_e6(i: int) -> F.Column:
        tf = F.col(f"tf_{i}").cast("double")
        dfi = F.col(f"df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - dfi + F.lit(0.5)) / (dfi + F.lit(0.5))
        )
        norm = (tf * F.lit(_K1P1)) / (
            tf
            + F.lit(K1)
            * (F.lit(_OMB) + F.lit(B) * F.col("dl").cast("double") / F.col("avgdl"))
        )
        return F.when(
            F.col(f"tf_{i}") > 0,
            F.floor(idf * norm * F.lit(1_000_000.0) + F.lit(0.5)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    n_matched = sum((F.col(f"tf_{i}") > 0).cast("long") for i in range(nq))
    bm25 = sum(_contrib_e6(i) for i in range(nq)).cast("double") / F.lit(1_000_000.0)
    scored = (
        base.crossJoin(F.broadcast(stats))
        .filter(n_matched >= 1)
        .select("doc_id", n_matched.alias("n_matched_terms"), bm25.alias("bm25"))
    )
    # top-k first (TakeOrderedAndProject over the per-doc relation); the
    # display rank over the K survivors comes from rank_of_topk's broadcast
    # self-join — zero WindowExec anywhere in this plan.
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(TOP_K)
    return rank_of_topk(top, "bm25", "doc_id").select(
        F.col("topk_pos").alias("rank"), "doc_id", "n_matched_terms", "bm25"
    )


def _sql_bm25() -> str:
    in_list = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    return f"""
WITH terms AS (
  SELECT doc_id, unnest({sql_tokens()}) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms WHERE term <> ''
  GROUP BY doc_id, term),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
tfq AS (SELECT * FROM tf WHERE term IN ({in_list})),
df AS (SELECT term, COUNT(*) AS df FROM tfq GROUP BY term),
scalars AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         CAST((SELECT SUM(tf) FROM tf) AS DOUBLE)
           / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl),
scored AS (
  SELECT tfq.doc_id,
         COUNT(*) AS n_matched_terms,
         CAST(SUM(CAST(FLOOR(
           ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                     / (CAST(df.df AS DOUBLE) + 0.5))
           * ((CAST(tfq.tf AS DOUBLE) * {_K1P1!r})
              / (CAST(tfq.tf AS DOUBLE)
                 + {K1!r} * ({_OMB!r}
                             + {B!r} * CAST(dl.dl AS DOUBLE) / s.avgdl)))
           * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS bm25
  FROM tfq
  JOIN dl ON tfq.doc_id = dl.doc_id
  JOIN df ON tfq.term = df.term
  CROSS JOIN scalars s
  GROUP BY tfq.doc_id)
SELECT rank, doc_id, n_matched_terms, bm25 FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS rank
  FROM scored) t
WHERE rank <= {TOP_K}
ORDER BY rank
"""


POSTINGS_CAP = 10


def term_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the batch job whose output BM25-style serving
    reads: per term, document frequency, total term frequency, and the first
    POSTINGS_CAP doc ids of the (sorted) posting list.

    Scale shape: one (doc, term) hash agg (the same single fact shuffle as
    bm25_topk — an index build IS that aggregate plus a term-keyed regroup),
    then a term-keyed `collect_list` whose payload is bounded ids, never
    text. The posting arrays here are capped for the driver check; the
    production writer would range-partition by term and spill full lists to
    per-term parquet row groups — same plan, unbounded sink.
    """
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        F.explode(tokens()).alias("term"),
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            F.slice(
                F.array_sort(F.collect_list("doc_id")), 1, POSTINGS_CAP
            ).alias("top_doc_ids"),
        )
        .orderBy("term")
    )


_POSTINGS_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest({sql_tokens()}) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms WHERE term <> ''
  GROUP BY doc_id, term)
SELECT term,
       COUNT(*) AS df,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       list_sort(list(doc_id))[1:{POSTINGS_CAP}] AS top_doc_ids
FROM tf
GROUP BY term
ORDER BY term
"""


# --- retrieval-quality eval gate ---------------------------------------------

NDCG_K = 10
# 1/log2(rank+1) for ranks 1..K, literalized in Python so BOTH engines
# multiply by the exact same double (no cross-engine ln/log2 last-ulp
# hazard anywhere in the metric; the only transcendental left in this
# report is evaluated once here, at plan-build time)
_NDCG_DISCOUNTS = [1.0 / _math.log2(r + 1) for r in range(1, NDCG_K + 1)]


def _rel_expr() -> F.Column:
    """Deterministic synthetic relevance grade, two orthogonal components:
    shared-token count (how many QUERY_TERMS the doc contains, 0..len(Q) —
    the lexical signal) + 1 if the doc shares its source with the query
    document (`qsource` column, from doc QUERY_VEC — a non-lexical signal
    the embedding tower can capture but term matching cannot). Pure
    shared-token labels put BM25 at the NDCG ceiling BY CONSTRUCTION
    (the labels are what BM25 ranks); the source component is what lets
    the report distinguish the systems rather than re-derive BM25."""
    toks = tokens()
    # the source component COALESCEs to 0 when qsource is NULL (anchor doc
    # absent) — the SQL twin's CASE does the same, so a missing anchor
    # degrades to lexical-only labels instead of NULLing every grade
    return (
        sum(F.array_contains(toks, t).cast("int") for t in QUERY_TERMS)
        + F.coalesce((F.col("source") == F.col("qsource")).cast("int"), F.lit(0))
    ).alias("rel")


def retrieval_ndcg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relevance-quality audit for the FULL retrieval ladder: NDCG@10 and
    MRR for `bm25_topk` (pure lexical), `hybrid_search_rrf` (lexical ⊕
    vector, RRF-fused), `ann_ivf_topk` (IVF-flat vector index, query
    QUERY_VEC's arm), and `ann_ivfpq_topk` (IVF-PQ compressed serving
    path) against ONE set of deterministic shared-token relevance labels —
    the end-to-end "which index do we serve" gate (round-6 verdict task 5:
    `ann_recall_audit` grades the ANN ladder only by recall-vs-bruteforce,
    which ignores ranking quality against labels). The ANN arms exclude
    the query document from their own candidates by construction (an
    index never returns the query itself); BM25/hybrid may retrieve it —
    the standard asymmetry of a shared-label audit.

    Grading: rel(doc) = |{q ∈ QUERY_TERMS : q ∈ tokens(doc)}| +
    1[source(doc) = source(query doc)] ∈ [0, 4] (see `_rel_expr`);
    gain 2^rel − 1 (exact small ints via bit shift, no pow()); DCG discounts
    1/log2(rank+1) are Python-literalized doubles so both engines multiply
    identical constants; per-item gains are fixed-point int64 (⌊x·1e8+0.5⌋)
    before summing — order-independent, and NDCG = DCG/IDCG divides two
    exact integers. MRR = 1/rank of the first rel ≥ 1 hit.

    Scale (100 TB): the relevance frame is one map-side scan (no shuffle);
    each system's top-10 is broadcast against it; IDCG's ideal head is a
    TakeOrderedAndProject over (rel, doc_id) and positions come from the
    K²-pair broadcast self-join (`rank_of_topk`) — no windows, nothing
    data-sized moves.
    """
    from .similarity import (
        QUERY_VEC,
        ann_ivf_topk,
        ann_ivfpq_topk,
        hybrid_search_rrf,
    )

    docs = load_table(spark, sf_dir, "documents")
    # 1-row broadcast LEFT join (constant key), NOT a crossJoin: if the
    # QUERY_VEC anchor doc is ever absent, qsource becomes NULL and the
    # labels degrade to lexical-only (matching the SQL twin's scalar
    # subquery), instead of the crossJoin-with-empty silently emptying the
    # relevance frame and zeroing both systems' scores (round-6 ADVICE)
    qsrc = (
        docs.filter(F.col("doc_id") == QUERY_VEC)
        .select(F.col("source").alias("qsource"), F.lit(1).alias("_k"))
        .limit(1)
    )
    rel = caching.materialize(
        docs.withColumn("_k", F.lit(1))
        .join(F.broadcast(qsrc), "_k", "left")
        .select("doc_id", _rel_expr()),
        "retrieval_ndcg_report.rel",
    )
    disc = F.element_at(
        F.array(*[F.lit(d) for d in _NDCG_DISCOUNTS]), F.col("rank").cast("int")
    )
    # (1 << rel) via F.expr: PySpark's F.shiftleft only takes a literal
    # bit count, the SQL form takes a column
    gain_e8 = F.floor(
        (F.expr("shiftleft(1, rel) - 1").cast("double") * disc)
        * F.lit(100_000_000.0)
        + F.lit(0.5)
    ).cast("long")

    def _metrics(ranks: DataFrame, system: str) -> DataFrame:
        """(system, dcg_e8, n_relevant_topk, first_rel_rank) — one row."""
        scored = rel.join(F.broadcast(ranks), "doc_id").withColumn("g", gain_e8)
        return scored.agg(
            F.coalesce(F.sum("g"), F.lit(0)).cast("long").alias("dcg_e8"),
            F.sum((F.col("rel") >= 1).cast("long")).alias("n_relevant_topk"),
            F.min(F.when(F.col("rel") >= 1, F.col("rank"))).alias("first_rel_rank"),
        ).select(F.lit(system).alias("system"), "*")

    bm = bm25_topk(spark, sf_dir).select("doc_id", F.col("rank").cast("long").alias("rank"))
    # rank_of_topk SELF-JOINS its input, so without a materialization the
    # ENTIRE hybrid tower pipeline and the ENTIRE IVF-PQ pipeline (coarse
    # quantizer + PQ encode over the corpus) each planned AND executed
    # twice — once per side of the K²-pair join. The top-k frames are ≤ K
    # rows: checkpoint them eagerly so each composed system runs exactly
    # once per report (round-9 verdict task 3, guide §1.2).
    hy_top = caching.checkpoint(hybrid_search_rrf(spark, sf_dir), "retrieval_ndcg_report.hy_top")
    hy = rank_of_topk(hy_top, "rrf_score", "doc_id").select(
        "doc_id", F.col("topk_pos").cast("long").alias("rank")
    )
    ivf = (
        ann_ivf_topk(spark, sf_dir)
        .filter(F.col("query_id") == QUERY_VEC)
        .select(
            F.col("vec_id").alias("doc_id"), F.col("rank").cast("long").alias("rank")
        )
    )
    # IVF-PQ ranks ascending by approx squared distance; rank_of_topk wants
    # a descending score, so negate (ties broken by vec_id, as served)
    pq_top = caching.checkpoint(
        ann_ivfpq_topk(spark, sf_dir).withColumn("neg_dist", -F.col("approx_sqdist")),
        "retrieval_ndcg_report.pq_top",
    )
    pq = rank_of_topk(pq_top, "neg_dist", "vec_id").select(
        F.col("vec_id").alias("doc_id"), F.col("topk_pos").cast("long").alias("rank")
    )
    # same self-join shape: the NDCG_K-row ideal head would otherwise run
    # its TakeOrdered pass over the (cached) relevance frame twice
    ideal = rank_of_topk(
        caching.checkpoint(
            rel.orderBy(F.desc("rel"), F.asc("doc_id")).limit(NDCG_K),
            "retrieval_ndcg_report.ideal",
        ),
        "rel",
        "doc_id",
    ).select(F.col("topk_pos").cast("long").alias("rank"), "rel")
    idcg = ideal.withColumn("g", gain_e8).agg(
        F.coalesce(F.sum("g"), F.lit(0)).cast("long").alias("idcg_e8")
    )

    out = (
        _metrics(bm, "bm25")
        .unionByName(_metrics(hy, "hybrid_rrf"))
        .unionByName(_metrics(ivf, "ann_ivf"))
        .unionByName(_metrics(pq, "ann_ivfpq"))
    )
    return (
        out.crossJoin(F.broadcast(idcg))
        .select(
            "system",
            F.when(
                F.col("idcg_e8") > 0,
                round_half_up(
                    F.col("dcg_e8").cast("double") / F.col("idcg_e8").cast("double"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("ndcg_at_10"),
            F.when(
                F.col("first_rel_rank").isNotNull(),
                round_half_up(
                    F.lit(1.0) / F.col("first_rel_rank").cast("double"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("mrr_at_10"),
            F.coalesce("n_relevant_topk", F.lit(0)).cast("long").alias("n_relevant_topk"),
        )
        .orderBy("system")
    )


def _sql_ndcg_report() -> str:
    from .similarity import _ANN_IVF_SQL, _sql_hybrid, _sql_ivfpq

    disc_list = "[" + ", ".join(repr(d) for d in _NDCG_DISCOUNTS) + "]"
    from .similarity import QUERY_VEC

    rel_sum = " + ".join(
        f"CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END" for t in QUERY_TERMS
    )
    rel_sum += f" + CASE WHEN source = (SELECT source FROM documents WHERE doc_id = {QUERY_VEC}) THEN 1 ELSE 0 END"
    gain = (
        f"CAST(FLOOR((CAST((1 << rel) - 1 AS DOUBLE) * ({disc_list})[rank])"
        " * 100000000.0 + 0.5) AS BIGINT)"
    )
    metrics = """
  SELECT CAST(COALESCE(SUM(g), 0) AS BIGINT) AS dcg_e8,
         CAST(COALESCE(SUM(CASE WHEN rel >= 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_relevant_topk,
         MIN(CASE WHEN rel >= 1 THEN rank END) AS first_rel_rank"""
    return f"""
WITH rel AS (
  SELECT doc_id, ({rel_sum}) AS rel
  FROM (SELECT doc_id, source,
               {sql_tokens()} AS toks
        FROM documents) t),
bm AS (
  SELECT r.rank, rel.rel FROM ({_sql_bm25()}) r JOIN rel ON r.doc_id = rel.doc_id),
hy0 AS (SELECT doc_id, rrf_score FROM ({_sql_hybrid()}) h),
hy AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h.rrf_score DESC, h.doc_id ASC) AS BIGINT)
           AS rank, rel.rel
  FROM hy0 h JOIN rel ON h.doc_id = rel.doc_id),
ivf AS (
  SELECT i.rank, rel.rel
  FROM (SELECT vec_id AS doc_id, rank FROM ({_ANN_IVF_SQL}) v
        WHERE query_id = {QUERY_VEC}) i
  JOIN rel ON i.doc_id = rel.doc_id),
pq0 AS (SELECT vec_id AS doc_id, approx_sqdist FROM ({_sql_ivfpq()}) p),
pq AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY p.approx_sqdist ASC, p.doc_id ASC) AS BIGINT)
           AS rank, rel.rel
  FROM pq0 p JOIN rel ON p.doc_id = rel.doc_id),
ideal AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id ASC) AS BIGINT) AS rank,
         rel
  FROM rel
  QUALIFY rank <= {NDCG_K}),
idcg AS (SELECT CAST(COALESCE(SUM({gain}), 0) AS BIGINT) AS idcg_e8 FROM ideal),
m_bm AS ({metrics} FROM (SELECT rank, rel, {gain} AS g FROM bm) x),
m_hy AS ({metrics} FROM (SELECT rank, rel, {gain} AS g FROM hy) x),
m_ivf AS ({metrics} FROM (SELECT rank, rel, {gain} AS g FROM ivf) x),
m_pq AS ({metrics} FROM (SELECT rank, rel, {gain} AS g FROM pq) x),
sys AS (
  SELECT 'bm25' AS system, * FROM m_bm
  UNION ALL
  SELECT 'hybrid_rrf' AS system, * FROM m_hy
  UNION ALL
  SELECT 'ann_ivf' AS system, * FROM m_ivf
  UNION ALL
  SELECT 'ann_ivfpq' AS system, * FROM m_pq)
SELECT system,
       CASE WHEN idcg_e8 > 0 THEN
         {sql_round_half_up('CAST(dcg_e8 AS DOUBLE) / CAST(idcg_e8 AS DOUBLE)', 6)}
       ELSE 0.0 END AS ndcg_at_10,
       CASE WHEN first_rel_rank IS NOT NULL THEN
         {sql_round_half_up('1.0 / CAST(first_rel_rank AS DOUBLE)', 6)}
       ELSE 0.0 END AS mrr_at_10,
       n_relevant_topk
FROM sys CROSS JOIN idcg
ORDER BY system
"""


QUERIES = {
    "bm25_topk": bm25_topk,
    "term_postings": term_postings,
    "retrieval_ndcg_report": retrieval_ndcg_report,
}
ORACLES = {
    "bm25_topk": _sql_bm25(),
    "term_postings": _POSTINGS_SQL,
    "retrieval_ndcg_report": _sql_ndcg_report(),
}
