"""Deduplication operators over the `documents` table.

Training-data-pipeline staples: exact dedup, normalized-fingerprint dedup,
n-gram Jaccard near-dup, MinHash+LSH near-dup, SimHash near-dup. Everything
that reads documents is built from JVM-side column expressions
(split/explode/groupBy/join); the one Python step is the union-find inside
`connected_components`, which sees only label-sized edges, never documents.
Each operator has a DuckDB SQL twin via the portable md5-based hash
(functions.scalars.portable_hash; Spark's murmur3 `hash()` and DuckDB's
`hash()` disagree, md5 doesn't).

Scale notes (100 TB):
- Exact/fingerprint dedup is one hash-agg on the digest — the digest
  (16 bytes) shuffles, never the document body.
- The pairwise shapes (Jaccard, band-bucket, simhash) only ever self-join on
  a *bucket key* (shingle, band signature, simhash prefix), so the cross
  product is per-bucket. Hot buckets are the hazard: `_cap_bucket` drops
  buckets above a frequency ceiling (stopword-shingle explosion), the
  standard MinHash-LSH mitigation. AQE skew-join handles residual skew.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import caching
from ..catalog import load_table
from ..functions.scalars import (
    round_half_up,
    sql_portable_hash,
    sql_round_half_up,
    sql_tokens,
    tokens,
)

# MinHash parameters: k hashes, b bands × r rows (k = b*r).
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4
_MERSENNE = (1 << 61) - 1
# fixed odd multipliers/offsets for the k permutations (seeded, public-knowledge
# affine family h_i(x) = (a_i * x + b_i) mod p)
_A = [2 * i + 1 for i in range(1, MINHASH_K + 1)]
_B = [7919 * i for i in range(1, MINHASH_K + 1)]

JACCARD_THRESHOLD = 0.6
MAX_BUCKET = 200  # drop shingles/buckets seen in more docs than this
# Bounded-emission contract for the pair reports: a duplicate CLUSTER of m
# docs holds m(m-1)/2 qualifying pairs, so emitting every pair is O(m²) in
# output even when candidate GENERATION is capped — a 10⁶-doc boilerplate
# cluster (real web corpora have them) would emit ~5·10¹¹ rows. The default
# report therefore keeps each doc's top-k neighbors (output O(n·k)); the
# full pair list stays available behind topk=None for small-corpus audits.
TOPK_NEIGHBORS = 5


# --- exact dedup -----------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: md5(text) hash-agg, keep min doc_id as keeper.
    Only the 32-char digest shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("digest"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keeper_doc_id", "n_copies")
        # no final orderBy: scaling output, order-insensitive gate (guide §2.4)
    )


_DEDUP_EXACT_SQL = """
SELECT MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY keeper_doc_id
"""


# --- fingerprint dedup (sorted-distinct-token canonical form) --------------


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-collision fingerprint: lowercase → tokenize → distinct → sort →
    rejoin → md5. Catches token-reordered / repeated-token duplicates."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(tokens())), " "))
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_members"))
        # no final orderBy: scaling output, order-insensitive gate (guide §2.4)
    )


_DEDUP_FP_SQL = f"""
SELECT fingerprint, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_members
FROM (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct({sql_tokens()})), ' ')) AS fingerprint
  FROM documents) t
GROUP BY fingerprint
ORDER BY keeper_doc_id
"""


def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row business case for dedup: corpus size before/after keeping one
    representative (min doc_id) per fingerprint group — doc and char totals,
    the chars the dedup pass deletes, and the savings share. This is the
    number that decides whether the near-dup pass is worth its compute at
    100 TB (storage AND training-epoch token budget both scale with it).

    Scale: one digest hash-agg (16-byte key, body never shuffles) with
    min_by picking the representative's size in the same pass, then a
    broadcast-sized rollup. Savings share is integer round-half-up — no
    float enters the comparison path.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(tokens())), " "))
    groups = (
        docs.select("doc_id", "n_chars", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.sum("n_chars").alias("chars_all"),
            F.min_by("n_chars", "doc_id").alias("chars_rep"),
        )
    )
    return groups.agg(
        F.sum("n_copies").alias("n_docs"),
        F.count(F.lit(1)).alias("n_groups"),
        (F.sum("n_copies") - F.count(F.lit(1))).alias("n_dup_docs"),
        F.sum("chars_all").alias("chars_total"),
        F.sum("chars_rep").alias("chars_kept"),
        (F.sum("chars_all") - F.sum("chars_rep")).alias("chars_saved"),
    ).withColumn(
        "savings_share",
        F.expr("(chars_saved * 20000 + chars_total) div (2 * chars_total)").cast("double")
        / F.lit(10000.0),
    )


_DEDUP_SAVINGS_SQL = f"""
WITH groups AS (
  SELECT fingerprint,
         COUNT(*) AS n_copies,
         SUM(n_chars) AS chars_all,
         MIN_BY(n_chars, doc_id) AS chars_rep
  FROM (
    SELECT doc_id, n_chars,
           md5(array_to_string(list_sort(list_distinct({sql_tokens()})), ' ')) AS fingerprint
    FROM documents) t
  GROUP BY fingerprint)
SELECT CAST(SUM(n_copies) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n_dup_docs,
       CAST(SUM(chars_all) AS BIGINT) AS chars_total,
       CAST(SUM(chars_rep) AS BIGINT) AS chars_kept,
       CAST(SUM(chars_all) - SUM(chars_rep) AS BIGINT) AS chars_saved,
       CAST(((SUM(chars_all) - SUM(chars_rep)) * 20000 + SUM(chars_all))
            // (2 * SUM(chars_all)) AS DOUBLE) / 10000.0 AS savings_share
FROM groups
"""


# --- word-shingle n-gram Jaccard near-dup ----------------------------------


def _shingles_df(docs: DataFrame, n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """(id_col, shingle) distinct word-n-gram pairs. element_at is 1-based in
    both Spark SQL and DuckDB, so the twins are literally parallel. Docs
    shorter than 3 tokens yield NO shingles (hence no signature row — they
    collide with nothing), matching the SQL twin, where DuckDB's
    end-exclusive range() is naturally empty; Spark's sequence(1, 0) steps
    DOWNWARD to [1, 0] and must be guarded or element_at throws (found by
    the hypothesis admission property test on a 1-token doc)."""
    from ..catalog import spread_small_scan

    toks = tokens()
    shingle_expr = F.expr(
        "if(size(toks) < 3, array(), transform(sequence(1, size(toks) - 2), "
        "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))"
    )
    return (
        # spread_small_scan: the tokenize + shingle explode below is the
        # dedup family's dominant map pass (measured 3.8 s single-split vs
        # 0.6 s spread at ~sf1); no-op whenever the input already splits to
        # cluster parallelism (catalog docstring)
        spread_small_scan(docs)
        .select(id_col, toks.alias("toks"))
        .select(id_col, F.explode(F.array_distinct(shingle_expr)).alias("shingle"))
    )


_SQL_SHINGLES = f"""
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS shingle
  FROM (SELECT doc_id, {sql_tokens()} AS toks FROM documents) base
"""


def _content_frames(docs: DataFrame):
    """Content-deduplicated candidate machinery for the pairwise shingle
    family — exact-dedup BEFORE near-dup, the standard production layering
    (a replicated/boilerplate corpus holds the same text thousands of
    times; scoring it once per distinct CONTENT instead of once per doc
    pair turns O(cluster^2) shingle-join work into O(distinct-contents)).

    Returns (members, pairs):
      members = (doc_id, ckey, mrank)   ckey = md5(text), mrank = 1..g by
                doc_id within the content group
      pairs   = one row per CONTENT pair (ckey_a, ckey_b, n_common,
                size_a, size_b); ckey_a == ckey_b is the self-pair of a
                group with >= 2 members (its members are pairwise
                identical documents), n_common there = the content's KEPT
                shingle count — exactly what the doc-level join would
                count for two identical docs.

    Bit-exact equivalence with doc-level scoring: identical texts have
    identical shingle sets, so every member pair of (G, H) shares the
    content pair's n_common/sizes; the df cap keeps DOC-level frequency
    semantics by weighting each content's shingles with its group size g
    (sum(g) over contents == count over docs).
    """
    base = docs.select("doc_id", F.md5(F.col("text")).alias("ckey"), "text")
    w_m = Window.partitionBy("ckey").orderBy("doc_id")
    members = base.select("doc_id", "ckey").withColumn(
        "mrank", F.row_number().over(w_m)
    )
    members = caching.materialize(members, "content_frames.members")
    gsize = members.groupBy("ckey").agg(F.count(F.lit(1)).alias("g"))
    reps = base.groupBy("ckey").agg(F.min("text").alias("text"))
    shc = caching.materialize(_shingles_df(reps, id_col="ckey"), "content_frames.shc")
    sizes = shc.groupBy("ckey").agg(F.count(F.lit(1)).alias("full_size"))
    # Broadcast the *hot* shingle list (doc-level df > MAX_BUCKET — bounded
    # by |postings|/MAX_BUCKET, small by construction) and anti-join, rather
    # than broadcasting the kept set, which is data-sized at 100 TB.
    hot = (
        shc.join(gsize, "ckey")
        .groupBy("shingle")
        .agg(F.sum("g").alias("df"))
        .filter(F.col("df") > MAX_BUCKET)
    )
    kept = shc.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    a = kept.select(F.col("ckey").alias("ckey_a"), "shingle")
    b = kept.select(F.col("ckey").alias("ckey_b"), "shingle")
    cross = (
        a.join(b, "shingle")
        .filter(F.col("ckey_a") < F.col("ckey_b"))
        .groupBy("ckey_a", "ckey_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    selfp = (
        kept.groupBy("ckey")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(gsize.filter(F.col("g") >= 2).select("ckey"), "ckey")
        .select(
            F.col("ckey").alias("ckey_a"), F.col("ckey").alias("ckey_b"), "n_common"
        )
    )
    pairs = (
        cross.unionByName(selfp)
        .join(
            sizes.select(F.col("ckey").alias("ckey_a"), F.col("full_size").alias("size_a")),
            "ckey_a",
        )
        .join(
            sizes.select(F.col("ckey").alias("ckey_b"), F.col("full_size").alias("size_b")),
            "ckey_b",
        )
    )
    return members, pairs


# shared SQL CTE prefix mirroring `_content_frames` (members/gsize/reps/
# shc/sizes/kept/crossp/selfp/cpairs)
_SQL_CONTENT_CTES = f"""
WITH base AS (SELECT doc_id, md5(text) AS ckey, text FROM documents),
members AS (
  SELECT doc_id, ckey,
         ROW_NUMBER() OVER (PARTITION BY ckey ORDER BY doc_id) AS mrank
  FROM base),
gsize AS (SELECT ckey, COUNT(*) AS g FROM members GROUP BY ckey),
reps AS (SELECT ckey, MIN(text) AS text FROM base GROUP BY ckey),
shc AS (
  SELECT ckey, unnest(list_distinct(
           list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS shingle
  FROM (SELECT ckey, {sql_tokens()} AS toks FROM reps) t),
sizes AS (SELECT ckey, COUNT(*) AS full_size FROM shc GROUP BY ckey),
kept AS (
  SELECT * FROM shc WHERE shingle IN (
    SELECT shingle FROM shc JOIN gsize USING (ckey)
    GROUP BY shingle HAVING SUM(g) <= {MAX_BUCKET})),
crossp AS (
  SELECT a.ckey AS ckey_a, b.ckey AS ckey_b, COUNT(*) AS n_common
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.ckey < b.ckey
  GROUP BY a.ckey, b.ckey),
selfp AS (
  SELECT k.ckey AS ckey_a, k.ckey AS ckey_b, COUNT(*) AS n_common
  FROM kept k JOIN gsize g USING (ckey)
  WHERE g.g >= 2 GROUP BY k.ckey),
cpairs AS (
  SELECT p.ckey_a, p.ckey_b, p.n_common,
         sa.full_size AS size_a, sb.full_size AS size_b
  FROM (SELECT * FROM crossp UNION ALL SELECT * FROM selfp) p
  JOIN sizes sa ON sa.ckey = p.ckey_a
  JOIN sizes sb ON sb.ckey = p.ckey_b)"""


def _expand_group_topk(
    members: DataFrame,
    cdir: DataFrame,
    order_col: str,
    topk: int,
    entity_col: str,
    out_cols: list[str] | None = None,
    nbr_col: str = "neighbor",
) -> DataFrame:
    """Recover exact per-entity top-k neighbors from GROUP-level scored
    pairs — the shared expansion behind the content-level pair reports
    (n-gram Jaccard/containment, embedding near-dups).

    `members` = (entity_col, gkey, mrank) with mrank = 1..g by entity id
    within the group; `cdir` = the DIRECTED admitted pair list
    (gkey, ngkey, score columns…), self-pairs appearing once with
    gkey == ngkey. Keeps each entity's content-neighbors with
    RANK ≤ topk (ties included) × the neighbor group's topk+1 smallest
    member ids, then row_number ≤ topk by (score desc, neighbor asc).

    Superset proof (why the result is EXACT, not approximate): if n is a
    true top-k neighbor of entity d, fewer than k groups can score
    strictly better than n's group (each would contribute ≥1 better
    neighbor), so n's group has rank ≤ k; and fewer than k members of n's
    own group can precede n by id (equal scores tie-break by id), so n is
    among its group's k+1 smallest ids (the +1 absorbs d itself when
    d shares the group). Hence every true top-k neighbor survives into
    `cand` and the final window selects exactly the true k best.
    """
    w_c = Window.partitionBy("gkey").orderBy(F.desc(order_col))
    crank = cdir.withColumn("cr", F.rank().over(w_c)).filter(F.col("cr") <= topk)
    mtop = members.filter(F.col("mrank") <= topk + 1).select(
        F.col("gkey").alias("ngkey"), F.col(entity_col).alias(nbr_col)
    )
    cand = (
        members.select(entity_col, "gkey")
        .join(crank, "gkey")
        .join(mtop, "ngkey")
        .filter(F.col(nbr_col) != F.col(entity_col))
    )
    w = Window.partitionBy(entity_col).orderBy(F.desc(order_col), F.asc(nbr_col))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= topk)
        .select(entity_col, nbr_col, *(out_cols or [order_col]), "rank")
        # no final orderBy: rank column carries the order (guide §2.4)
    )


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, topk: int | None = TOPK_NEIGHBORS
) -> DataFrame:
    """Per-doc top-k near-duplicate neighbors by word-3-gram Jaccard >=
    threshold (bounded emission; see TOPK_NEIGHBORS note). topk=None emits
    the full qualifying pair list — O(cluster^2) output, audit-only.

    Scale shape: scoring runs on DISTINCT CONTENTS (`_content_frames` —
    the shingle inverted-index self-join never sees exact duplicates), and
    doc-level expansion is bounded: each doc joins its content's top-k
    (RANK, ties kept — a provable superset of the true per-doc top-k)
    content neighbors x their k+1 smallest member ids, then a row_number
    window takes the exact k best. A 10x-replicated corpus therefore costs
    what its distinct corpus costs, + O(n·k) expansion.
    """
    docs = load_table(spark, sf_dir, "documents")
    members, pairs = _content_frames(docs)
    adm = pairs.withColumn(
        "jaccard",
        round_half_up(
            F.col("n_common").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
            4,
        ),
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD).select("ckey_a", "ckey_b", "jaccard")
    if topk is None:
        da = members.select(F.col("ckey").alias("ckey_a"), F.col("doc_id").alias("da"))
        db = members.select(F.col("ckey").alias("ckey_b"), F.col("doc_id").alias("db"))
        return (
            adm.join(da, "ckey_a")
            .join(db, "ckey_b")
            .filter((F.col("ckey_a") != F.col("ckey_b")) | (F.col("da") < F.col("db")))
            .select(
                F.least("da", "db").alias("doc_a"),
                F.greatest("da", "db").alias("doc_b"),
                "jaccard",
            )
            # no final orderBy (guide §2.4)
        )
    cdir = adm.select(
        F.col("ckey_a").alias("gkey"), F.col("ckey_b").alias("ngkey"), "jaccard"
    ).unionByName(
        adm.filter(F.col("ckey_a") != F.col("ckey_b")).select(
            F.col("ckey_b").alias("gkey"), F.col("ckey_a").alias("ngkey"), "jaccard"
        )
    )
    return _expand_group_topk(
        members.withColumnRenamed("ckey", "gkey"), cdir, "jaccard", topk, "doc_id"
    )


_NGRAM_JACCARD_SQL = f"""
{_SQL_CONTENT_CTES},
admf AS (
  SELECT ckey_a, ckey_b, jaccard FROM (
    SELECT ckey_a, ckey_b,
           CAST(FLOOR((CAST(n_common AS DOUBLE)
                 / CAST(size_a + size_b - n_common AS DOUBLE)) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS jaccard
    FROM cpairs) q
  WHERE jaccard >= {JACCARD_THRESHOLD}),
cdir AS (
  SELECT ckey_a AS ckey, ckey_b AS nckey, jaccard FROM admf
  UNION ALL
  SELECT ckey_b AS ckey, ckey_a AS nckey, jaccard FROM admf WHERE ckey_a <> ckey_b),
crank AS (
  SELECT * FROM (
    SELECT *, RANK() OVER (PARTITION BY ckey ORDER BY jaccard DESC) AS cr
    FROM cdir) r
  WHERE cr <= {TOPK_NEIGHBORS}),
mtop AS (SELECT ckey, doc_id FROM members WHERE mrank <= {TOPK_NEIGHBORS + 1}),
cand AS (
  SELECT m.doc_id, mt.doc_id AS neighbor, c.jaccard
  FROM members m
  JOIN crank c ON c.ckey = m.ckey
  JOIN mtop mt ON mt.ckey = c.nckey
  WHERE mt.doc_id <> m.doc_id)
SELECT doc_id, neighbor, jaccard, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY jaccard DESC, neighbor) AS INTEGER) AS rank
  FROM cand) t
WHERE rank <= {TOPK_NEIGHBORS}
ORDER BY doc_id, rank
"""


CONTAINMENT_THRESHOLD = 0.8


def ngram_containment_pairs(
    spark: SparkSession, sf_dir: str, topk: int | None = TOPK_NEIGHBORS
) -> DataFrame:
    """Per-doc top-k containment neighbors: pairs where one side's shingle
    set is >=80% CONTAINED in the other, C(A->B) = |A n B| / |A|, bounded
    to each doc's k best (by how much THIS doc is contained in the
    neighbor — the subsumed-duplicate signal). topk=None emits the full
    qualifying pair list (O(cluster^2) output, audit-only).

    The asymmetric complement to `ngram_jaccard_pairs` — a short document
    quoted inside a long one has high containment but low Jaccard (the
    union is dominated by the long side), which is exactly the
    subsumed-duplicate class training-data dedup must catch (quote
    inflation, boilerplate wrappers).

    Same content-level candidate generation as the Jaccard path
    (`_content_frames`) — the scale shape is shared; only the scoring
    denominator differs, and the directed mirror carries both directions'
    scores (they swap when the pair orientation flips).
    """
    docs = load_table(spark, sf_dir, "documents")
    members, pairs = _content_frames(docs)
    # integer-exact admission: n_common*10 >= 8*size (threshold 0.8) on the
    # smaller side, so the filter never depends on the rounded display value
    adm = pairs.filter(
        F.col("n_common") * F.lit(10)
        >= F.lit(int(CONTAINMENT_THRESHOLD * 10)) * F.least("size_a", "size_b")
    ).select(
        "ckey_a",
        "ckey_b",
        round_half_up(
            F.col("n_common").cast("double") / F.col("size_a").cast("double"), 4
        ).alias("c_a_in_b"),
        round_half_up(
            F.col("n_common").cast("double") / F.col("size_b").cast("double"), 4
        ).alias("c_b_in_a"),
    )
    if topk is None:
        da = members.select(F.col("ckey").alias("ckey_a"), F.col("doc_id").alias("da"))
        db = members.select(F.col("ckey").alias("ckey_b"), F.col("doc_id").alias("db"))
        exp = (
            adm.join(da, "ckey_a")
            .join(db, "ckey_b")
            .filter((F.col("ckey_a") != F.col("ckey_b")) | (F.col("da") < F.col("db")))
        )
        flip = F.col("da") > F.col("db")  # orientation swap carries the scores along
        return exp.select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            F.when(flip, F.col("c_b_in_a")).otherwise(F.col("c_a_in_b")).alias(
                "containment_a_in_b"
            ),
            F.when(flip, F.col("c_a_in_b")).otherwise(F.col("c_b_in_a")).alias(
                "containment_b_in_a"
            ),
        )  # no final orderBy (guide §2.4)
    cdir = adm.select(
        F.col("ckey_a").alias("gkey"),
        F.col("ckey_b").alias("ngkey"),
        F.col("c_a_in_b").alias("containment_doc_in_nbr"),
        F.col("c_b_in_a").alias("containment_nbr_in_doc"),
    ).unionByName(
        adm.filter(F.col("ckey_a") != F.col("ckey_b")).select(
            F.col("ckey_b").alias("gkey"),
            F.col("ckey_a").alias("ngkey"),
            F.col("c_b_in_a").alias("containment_doc_in_nbr"),
            F.col("c_a_in_b").alias("containment_nbr_in_doc"),
        )
    )
    return _expand_group_topk(
        members.withColumnRenamed("ckey", "gkey"),
        cdir,
        "containment_doc_in_nbr",
        topk,
        "doc_id",
        out_cols=["containment_doc_in_nbr", "containment_nbr_in_doc"],
    )


_NGRAM_CONTAINMENT_SQL = f"""
{_SQL_CONTENT_CTES},
admf AS (
  SELECT ckey_a, ckey_b,
         CAST(FLOOR((CAST(n_common AS DOUBLE) / CAST(size_a AS DOUBLE))
              * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS c_a_in_b,
         CAST(FLOOR((CAST(n_common AS DOUBLE) / CAST(size_b AS DOUBLE))
              * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS c_b_in_a
  FROM cpairs
  WHERE n_common * 10 >= {int(CONTAINMENT_THRESHOLD * 10)} * LEAST(size_a, size_b)),
cdir AS (
  SELECT ckey_a AS ckey, ckey_b AS nckey,
         c_a_in_b AS containment_doc_in_nbr, c_b_in_a AS containment_nbr_in_doc
  FROM admf
  UNION ALL
  SELECT ckey_b AS ckey, ckey_a AS nckey,
         c_b_in_a AS containment_doc_in_nbr, c_a_in_b AS containment_nbr_in_doc
  FROM admf WHERE ckey_a <> ckey_b),
crank AS (
  SELECT * FROM (
    SELECT *, RANK() OVER (PARTITION BY ckey ORDER BY containment_doc_in_nbr DESC) AS cr
    FROM cdir) r
  WHERE cr <= {TOPK_NEIGHBORS}),
mtop AS (SELECT ckey, doc_id FROM members WHERE mrank <= {TOPK_NEIGHBORS + 1}),
cand AS (
  SELECT m.doc_id, mt.doc_id AS neighbor,
         c.containment_doc_in_nbr, c.containment_nbr_in_doc
  FROM members m
  JOIN crank c ON c.ckey = m.ckey
  JOIN mtop mt ON mt.ckey = c.nckey
  WHERE mt.doc_id <> m.doc_id)
SELECT doc_id, neighbor, containment_doc_in_nbr, containment_nbr_in_doc, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY containment_doc_in_nbr DESC, neighbor) AS INTEGER) AS rank
  FROM cand) t
WHERE rank <= {TOPK_NEIGHBORS}
ORDER BY doc_id, rank
"""


# --- MinHash + LSH ---------------------------------------------------------


def _signatures_of(docs: DataFrame) -> DataFrame:
    """(doc_id, sig[0..k-1]) for any (doc_id, text) frame: min over shingles
    of (a_i*h + b_i) mod p, with h = portable md5-based shingle hash. Pure
    expressions, one map-side-combined shuffle (a doc's shingles never leave
    their input row's partition, so the min-agg moves ~1 row per doc).
    Shared by the batch corpus path and the per-micro-batch streaming
    probe (`streaming.novelty`)."""
    sh = _shingles_df(docs)
    from ..functions.scalars import portable_hash

    h = portable_hash("shingle")
    aggs = [
        F.min((F.lit(_A[i]) * h + F.lit(_B[i])) % F.lit(_MERSENNE)).alias(f"sig_{i}")
        for i in range(MINHASH_K)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signatures_of(load_table(spark, sf_dir, "documents"))


def _sql_minhash_cte() -> str:
    h = sql_portable_hash("shingle")
    sig_cols = ",\n         ".join(
        f"MIN(({_A[i]} * {h} + {_B[i]}) % {_MERSENNE}) AS sig_{i}"
        for i in range(MINHASH_K)
    )
    return f"""
sigs AS (
  SELECT doc_id,
         {sig_cols}
  FROM ({_SQL_SHINGLES}) sh
  GROUP BY doc_id)
"""


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc output; no presentation sort (order-insensitive gate)
    return _minhash_signatures(spark, sf_dir)


_MINHASH_SIG_SQL = f"""
WITH {_sql_minhash_cte()}
SELECT * FROM sigs ORDER BY doc_id
"""


def _cap_buckets(df: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """Drop every row whose bucket (the `keys` tuple) holds more than
    `max_bucket` rows. Bounds the within-bucket cross product of any
    bucketed self-join: post-cap, fan-out per bucket ≤ max_bucket²."""
    ok = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") <= max_bucket)
        .select(*keys)
    )
    return df.join(ok, keys, "left_semi")


def _banded(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash): each signature exploded into its LSH
    band postings — the single definition of the banding, shared by the
    candidate join and the cap-drop audit."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "_",
                        *[
                            F.col(f"sig_{b * LSH_ROWS + r}").cast("string")
                            for r in range(LSH_ROWS)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band_id").alias("band_id"), F.col("bb.band_hash").alias("band_hash")
    )


def _lsh_candidates(sigs: DataFrame) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) from the banded signature
    equi-join, with the MAX_BUCKET degenerate-bucket cap applied. Shared by
    `minhash_lsh_pairs` and `minhash_estimate_audit` so the candidate set
    cannot desynchronize between the pair report and its quality audit."""
    banded = _banded(sigs)
    # Per-bucket size guard (VERDICT r1 task 5): a degenerate band hash —
    # e.g. a signature band shared by boilerplate-heavy documents — makes
    # one bucket quadratic at 100 TB. Same cap idea as the shingle
    # frequency filter in ngram_jaccard_pairs, keyed on (band_id,
    # band_hash); the count table is data-sized, so it joins (semi), not
    # broadcasts. The oracle SQL mirrors the cap, so parity is exact.
    banded = _cap_buckets(banded, ["band_id", "band_hash"], MAX_BUCKET)
    a = banded.select(F.col("doc_id").alias("doc_a"), "band_id", "band_hash")
    b2 = banded.select(F.col("doc_id").alias("doc_b"), "band_id", "band_hash")
    return (
        a.join(b2, ["band_id", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _lsh_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsorted (doc_a, doc_b, est_jaccard) candidate pairs — the ONE scored
    LSH pair frame shared by `minhash_lsh_pairs` (adds the presentation
    sort) and `lsh_jaccard_tau_sweep` (aggregates it, no sort wanted)."""
    # signatures are one narrow row per doc; cache so the band explode and
    # the two signature re-joins below read one materialization instead of
    # re-running the shingle shuffle up to 7× (bench: 3.1s → ~1s at sf0.1)
    sigs = caching.materialize(_minhash_signatures(spark, sf_dir), "lsh_scored_pairs.sigs")
    cand = _lsh_candidates(sigs)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(MINHASH_K)])
    sb = sigs.select(F.col("doc_id").alias("doc_b"), *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(MINHASH_K)])
    matches = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0) for i in range(MINHASH_K)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            round_half_up(matches.cast("double") / F.lit(float(MINHASH_K)), 4).alias("est_jaccard"),
        )
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs via banded LSH: b bands of r signature rows;
    docs sharing any full band collide. Estimated Jaccard = fraction of
    equal signature components. The self-join key is (band_id, band_hash) —
    per-bucket cross products only, never all-pairs — and buckets larger
    than MAX_BUCKET docs are dropped before the join (degenerate band
    hashes carry no near-dup signal; an uncapped one is quadratic at
    scale). The oracle mirrors the cap. No final orderBy:
    candidate-pair-sized output, and the driver comparator is
    order-insensitive (guide §2.4).
    """
    return _lsh_scored_pairs(spark, sf_dir)


def _sql_banded_cte() -> str:
    """`banded AS (...)` CTE (assumes a preceding `sigs` CTE) — the SQL twin
    of `_banded`, shared by the candidate join and the delta probe."""
    band_selects = []
    for b in range(LSH_BANDS):
        concat = " || '_' || ".join(
            f"CAST(sig_{b * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, md5({concat}) AS band_hash FROM sigs"
        )
    return "banded AS (" + " UNION ALL ".join(band_selects) + ")"


def _sql_lsh_cand_ctes() -> str:
    """banded/kept/cand CTE block (assumes a preceding `sigs` CTE) — the SQL
    twin of `_lsh_candidates`, shared by the pair report and the audit."""
    return f"""
{_sql_banded_cte()},
kept AS (
  SELECT banded.* FROM banded
  JOIN (SELECT band_id, band_hash FROM banded
        GROUP BY band_id, band_hash HAVING COUNT(*) <= {MAX_BUCKET}) ok
    USING (band_id, band_hash)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a JOIN kept b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)"""


def _sql_lsh_scored() -> str:
    """Unsorted scored-pair SELECT — the SQL twin of `_lsh_scored_pairs`,
    shared by `_sql_lsh_pairs` and the τ-sweep oracle."""
    match_sum = " + ".join(
        f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END" for i in range(MINHASH_K)
    )
    return f"""
WITH {_sql_minhash_cte()},
{_sql_lsh_cand_ctes()}
SELECT doc_a, doc_b,
       CAST(FLOOR((CAST(({match_sum}) AS DOUBLE) / {float(MINHASH_K)}) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS est_jaccard
FROM cand
JOIN sigs sa ON sa.doc_id = doc_a
JOIN sigs sb ON sb.doc_id = doc_b"""


def _sql_lsh_pairs() -> str:
    return _sql_lsh_scored() + "\nORDER BY doc_a, doc_b\n"


# θ grid for the near-dup edge-threshold sweep: est_jaccard lives on the
# k/MINHASH_K grid (all binary-exact for K=16) and banded collision implies
# ≥ LSH_ROWS/MINHASH_K matches, so the grid spans [0.25, 1.0] in exact
# half-band steps — every literal parses to the identical double in both
# engines.
LSH_TAU_GRID = [0.25, 0.375, 0.5, 0.625, 0.75, 0.875, 1.0]


def lsh_jaccard_tau_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-threshold tuning curve for MinHash near-dup pruning: for every
    θ in LSH_TAU_GRID, how many candidate pairs carry est_jaccard ≥ θ and
    how many documents a keep-smallest-id prune at that threshold would
    remove — the curve that picks the near-dup edge filter (and shows what
    `near_dup_clusters`' unfiltered-collision graph over-merges) before
    committing a prune to the real corpus. The semantic-dedup twin is
    `semdedup_tau_sweep`; this is the lexical arm over the SAME sweep
    shape.

    Prune rule per θ (parallelizable greedy, as in SemDeDup): doc_b pruned
    iff some candidate (doc_a < doc_b) estimates ≥ θ. Reported against the
    full corpus: n_kept_docs = corpus − pruned.

    Plan shape: reuses `_lsh_scored_pairs` (band-bucketed, MAX_BUCKET-capped
    — never all-pairs), reduces to ONE max-estimate row per candidate
    victim (sufficient statistic for every θ), prices the whole grid as
    conditional sums in a single aggregate, and fans out via a
    constant-size stack over three 1-row broadcast frames. The sweep costs
    the same as one fixed-θ report at any scale.
    """
    pairs = _lsh_scored_pairs(spark, sf_dir)
    victims = pairs.groupBy("doc_b").agg(F.max("est_jaccard").alias("mx"))
    v_agg = victims.agg(
        *[
            F.coalesce(F.sum((F.col("mx") >= F.lit(t)).cast("long")), F.lit(0)).alias(
                f"pruned_{i}"
            )
            for i, t in enumerate(LSH_TAU_GRID)
        ]
    )
    p_agg = pairs.agg(
        *[
            F.coalesce(
                F.sum((F.col("est_jaccard") >= F.lit(t)).cast("long")), F.lit(0)
            ).alias(f"pairs_{i}")
            for i, t in enumerate(LSH_TAU_GRID)
        ]
    )
    n_agg = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    stack_args = ", ".join(
        f"CAST({t!r} AS DOUBLE), pairs_{i}, pruned_{i}"
        for i, t in enumerate(LSH_TAU_GRID)
    )
    rows = (
        v_agg.crossJoin(F.broadcast(p_agg))
        .crossJoin(F.broadcast(n_agg))
        .selectExpr(
            f"stack({len(LSH_TAU_GRID)}, {stack_args}) AS (theta, n_pairs, n_pruned)",
            "n_docs",
        )
    )
    return rows.select(
        "theta",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_pruned").cast("long").alias("n_pruned"),
        (F.col("n_docs") - F.col("n_pruned")).cast("long").alias("n_kept_docs"),
        round_half_up(
            F.col("n_pruned").cast("double") / F.col("n_docs").cast("double") * 100.0,
            4,
        ).alias("prune_pct"),
    ).orderBy("theta")


def _sql_lsh_tau_sweep() -> str:
    thetas = ", ".join(f"{t!r}::DOUBLE" for t in LSH_TAU_GRID)
    return f"""
WITH pairs AS ({_sql_lsh_scored()}),
victims AS (SELECT doc_b, MAX(est_jaccard) AS mx FROM pairs GROUP BY doc_b),
taus AS (SELECT unnest([{thetas}]) AS theta),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
grid AS (
  SELECT t.theta,
         CAST(COALESCE(SUM(CASE WHEN p.est_jaccard >= t.theta THEN 1 END), 0) AS BIGINT)
           AS n_pairs
  FROM taus t LEFT JOIN pairs p ON TRUE GROUP BY t.theta),
vgrid AS (
  SELECT t.theta,
         CAST(COALESCE(SUM(CASE WHEN v.mx >= t.theta THEN 1 END), 0) AS BIGINT)
           AS n_pruned
  FROM taus t LEFT JOIN victims v ON TRUE GROUP BY t.theta)
SELECT g.theta, g.n_pairs, vg.n_pruned,
       CAST(n.n_docs - vg.n_pruned AS BIGINT) AS n_kept_docs,
       {sql_round_half_up("CAST(vg.n_pruned AS DOUBLE) / CAST(n.n_docs AS DOUBLE) * 100.0", 4)} AS prune_pct
FROM grid g
JOIN vgrid vg ON vg.theta = g.theta
CROSS JOIN nd n
ORDER BY g.theta
"""


def lsh_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the MAX_BUCKET degenerate-bucket cap actually DROPS — the
    "no silent caps" audit for the banded LSH join: total band buckets,
    buckets over the cap, postings (doc, band) removed by the cap, and the
    within-bucket comparisons the cap eliminated vs kept
    (n·(n−1)/2 per bucket; comparisons, not distinct pairs — a pair
    colliding in two bands counts twice, which is exactly the join fan-out
    the cap bounds).

    Scale: bucket sizes are one hash agg over the banded postings; the
    report is a 1-row rollup of that table. dropped_comparisons is the
    number a real 100 TB run should alert on — a spike means boilerplate
    is saturating a band and recall is silently degrading."""
    bs = _banded(_minhash_signatures(spark, sf_dir)).groupBy(
        "band_id", "band_hash"
    ).agg(F.count(F.lit(1)).alias("n"))
    pairs = F.expr("(n * (n - 1)) div 2")  # int64 — n·(n−1) is even
    dropped = F.col("n") > MAX_BUCKET
    return bs.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(dropped.cast("long")).alias("n_buckets_dropped"),
        F.sum(F.when(dropped, F.col("n")).otherwise(0)).cast("long").alias("n_postings_dropped"),
        F.sum(F.when(dropped, pairs).otherwise(0)).cast("long").alias("dropped_comparisons"),
        F.sum(F.when(~dropped, pairs).otherwise(0)).cast("long").alias("kept_comparisons"),
    )


_LSH_CAP_REPORT_SQL = f"""
WITH {_sql_minhash_cte()},
{_sql_lsh_cand_ctes()},
bs AS (
  SELECT band_id, band_hash, COUNT(*) AS n
  FROM banded GROUP BY band_id, band_hash)
SELECT COUNT(*) AS n_buckets,
       CAST(SUM(CASE WHEN n > {MAX_BUCKET} THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_dropped,
       CAST(SUM(CASE WHEN n > {MAX_BUCKET} THEN n ELSE 0 END) AS BIGINT) AS n_postings_dropped,
       CAST(SUM(CASE WHEN n > {MAX_BUCKET} THEN (n * (n - 1)) // 2 ELSE 0 END) AS BIGINT) AS dropped_comparisons,
       CAST(SUM(CASE WHEN n <= {MAX_BUCKET} THEN (n * (n - 1)) // 2 ELSE 0 END) AS BIGINT) AS kept_comparisons
FROM bs
"""


# --- incremental signature-index maintenance ---------------------------------


def incremental_minhash_update(existing_sigs: DataFrame, new_docs: DataFrame) -> DataFrame:
    """Append-only maintenance of the MinHash signature index: signatures
    for a NEW batch of documents are computed from that batch alone and
    unioned with the stored index — no recompute of the existing corpus.
    Valid because a document's signature depends only on its own shingles
    (per-doc min over fixed hash permutations), so the index is
    embarrassingly incremental; the nightly dedup run then re-runs only
    the banded join, whose cost is driven by the (unchanged) bucket sizes.

    Contract: `new_docs` must not contain doc_ids already in the index
    (enforced with a left-anti guard so replays are idempotent — the
    exactly-once batch-sink discipline applied to index maintenance).
    Equivalence with a from-scratch rebuild is pinned in
    `tests/test_operators.py::test_incremental_minhash_equals_rebuild`.
    """
    from ..functions.scalars import portable_hash

    sh = _shingles_df(new_docs)
    h = portable_hash("shingle")
    aggs = [
        F.min((F.lit(_A[i]) * h + F.lit(_B[i])) % F.lit(_MERSENNE)).alias(f"sig_{i}")
        for i in range(MINHASH_K)
    ]
    fresh = sh.groupBy("doc_id").agg(*aggs)
    fresh = fresh.join(
        existing_sigs.select("doc_id"), "doc_id", "left_anti"
    )
    return existing_sigs.unionByName(fresh)


# --- MinHash estimator-quality audit ---------------------------------------

# 10000 / MINHASH_K is integral (625), so the estimate in 1e-4 units is an
# exact integer — the audit's error column is integer arithmetic end to end.
_EST_UNIT = 10000 // MINHASH_K


def minhash_estimate_audit(
    spark: SparkSession, sf_dir: str, rollup: bool = True
) -> DataFrame:
    """Sketch-quality audit: MinHash Jaccard estimate (matching
    components / k) vs the TRUE Jaccard over the full distinct-shingle
    sets. This is the report that sizes MINHASH_K: if the observed error
    at k=16 is too wide for the dedup threshold, you raise k before
    trusting the sketch on the real corpus.

    Default (rollup=True) emits ONE ROW PER ESTIMATE LEVEL (est_matches ∈
    0..k → ≤ k+1 rows: pair count, mean/max absolute error vs exact) —
    bounded output no matter how many candidate pairs the corpus holds.
    rollup=False emits the per-pair frame (O(candidates) output,
    audit-only; see TOPK_NEIGHBORS note on cluster² growth).

    Exactness: both jaccards are computed in 1e-4 fixed-point integer
    arithmetic (est = matches·625; exact = (2·10000·inter + union) intdiv
    2·union — round-half-up without touching binary floats), so the twins
    agree bit-for-bit.

    Scale (100 TB): candidates come from the capped banded join (shared
    `_lsh_candidates`, never all-pairs); the exact-intersection verify
    joins shingles only for candidate docs — per-pair cost ∝ document
    length, the standard verify stage of an LSH dedup pipeline. True
    Jaccard is deliberately UNcapped (the estimator targets the full
    shingle set), which is safe here because the fan-out is per candidate
    pair, not per shingle bucket.
    """
    docs = load_table(spark, sf_dir, "documents")
    sigs = caching.materialize(_minhash_signatures(spark, sf_dir), "minhash_estimate_audit.sigs")
    # the candidate pair set feeds three consumers below (the estimate join,
    # the exact-intersection join, and the endpoint set that prunes the
    # shingle postings) — cache it so the banded self-join runs once
    cand = caching.materialize(_lsh_candidates(sigs), "minhash_estimate_audit.cand")
    sa = sigs.select(F.col("doc_id").alias("doc_a"), *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(MINHASH_K)])
    sb = sigs.select(F.col("doc_id").alias("doc_b"), *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(MINHASH_K)])
    matches = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0) for i in range(MINHASH_K)
    )
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", matches.cast("int").alias("est_matches"))
    )
    # the exact-intersection verify only tests shingle EQUALITY, so carry
    # the 16-byte binary md5 digest instead of the raw n-gram string
    # through the cache and both per-pair join shuffles (guide §2.3,
    # narrower types; the same md5-equality-as-identity convention as
    # `_win_digests` and the passage digests — the DuckDB twin keeps
    # strings, and the sweep hashes prove value-identity).
    # Only CANDIDATE-PAIR ENDPOINTS' shingles can reach the per-pair joins
    # (est/inter/sizes all join inner on doc_a/doc_b drawn from `cand`), so
    # semi-join the posting list down to those docs BEFORE caching it
    # (guide §3.2 — pre-filter the big side; the endpoint set is tiny and
    # broadcasts). At dedup scale the overwhelming majority of documents
    # are in no candidate pair, so this shrinks the cached relation and
    # both per-pair join shuffles by the non-candidate share of the corpus.
    # The oracle twin keeps the unfiltered posting CTE: its sizes/inter
    # rows for non-candidate docs are dropped by the same inner joins, so
    # the results are identical.
    cand_docs = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    sh = caching.materialize(
        _shingles_df(docs)
        .select("doc_id", F.unhex(F.md5("shingle")).alias("shingle"))
        .join(cand_docs, "doc_id", "left_semi"),
        "minhash_estimate_audit.sh",
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "size_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "size_b"), "doc_b")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
        .withColumn("n_union", F.col("size_a") + F.col("size_b") - F.col("n_inter"))
        .withColumn("est4", F.col("est_matches").cast("long") * _EST_UNIT)
        .withColumn(
            "ex4",
            F.expr("(n_inter * 20000 + n_union) div (2 * n_union)"),
        )
    )
    per_pair = out.select(
        "doc_a",
        "doc_b",
        "est_matches",
        F.col("n_inter").cast("long").alias("n_inter"),
        F.col("n_union").cast("long").alias("n_union"),
        (F.col("est4").cast("double") / 10000.0).alias("est_jaccard"),
        (F.col("ex4").cast("double") / 10000.0).alias("exact_jaccard"),
        (F.abs(F.col("est4") - F.col("ex4")).cast("double") / 10000.0).alias("abs_err"),
        F.col("est4"),
        F.col("ex4"),
    )
    if not rollup:
        return per_pair.drop("est4", "ex4").orderBy("doc_a", "doc_b")
    # fixed-point means: round_half_up(s/n) = (2s + n) div (2n) on non-negative
    # int64 sums, so the twins agree bit-for-bit regardless of agg order
    agg = (
        per_pair.withColumn("abs4", F.abs(F.col("est4") - F.col("ex4")))
        .groupBy("est_matches")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("ex4").alias("s_ex"),
            F.sum("abs4").alias("s_abs"),
            F.max("abs4").alias("m_abs"),
        )
    )
    return agg.select(
        "est_matches",
        "n_pairs",
        ((F.col("est_matches").cast("long") * F.lit(_EST_UNIT)).cast("double") / 10000.0).alias(
            "est_jaccard"
        ),
        (F.expr("(2 * s_ex + n_pairs) div (2 * n_pairs)").cast("double") / 10000.0).alias(
            "mean_exact_jaccard"
        ),
        (F.expr("(2 * s_abs + n_pairs) div (2 * n_pairs)").cast("double") / 10000.0).alias(
            "mean_abs_err"
        ),
        (F.col("m_abs").cast("double") / 10000.0).alias("max_abs_err"),
    ).orderBy("est_matches")


def _sql_minhash_audit() -> str:
    match_sum = " + ".join(
        f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END" for i in range(MINHASH_K)
    )
    return f"""
WITH {_sql_minhash_cte()},
{_sql_lsh_cand_ctes()},
est AS (
  SELECT doc_a, doc_b, CAST(({match_sum}) AS INTEGER) AS est_matches
  FROM cand
  JOIN sigs sa ON sa.doc_id = doc_a
  JOIN sigs sb ON sb.doc_id = doc_b),
sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b),
j AS (
  SELECT e.doc_a, e.doc_b, e.est_matches,
         COALESCE(i.n_inter, 0) AS n_inter,
         za.n_shingles + zb.n_shingles - COALESCE(i.n_inter, 0) AS n_union,
         CAST(e.est_matches AS BIGINT) * {_EST_UNIT} AS est4
  FROM est e
  LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
  JOIN sizes za ON za.doc_id = e.doc_a
  JOIN sizes zb ON zb.doc_id = e.doc_b),
pp AS (
  SELECT est_matches, est4,
         (n_inter * 20000 + n_union) // (2 * n_union) AS ex4
  FROM j),
agg AS (
  SELECT est_matches,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(ex4) AS s_ex,
         SUM(abs(est4 - ex4)) AS s_abs,
         MAX(abs(est4 - ex4)) AS m_abs
  FROM pp GROUP BY est_matches)
SELECT est_matches, n_pairs,
       CAST(CAST(est_matches AS BIGINT) * {_EST_UNIT} AS DOUBLE) / 10000.0 AS est_jaccard,
       CAST((2 * s_ex + n_pairs) // (2 * n_pairs) AS DOUBLE) / 10000.0 AS mean_exact_jaccard,
       CAST((2 * s_abs + n_pairs) // (2 * n_pairs) AS DOUBLE) / 10000.0 AS mean_abs_err,
       CAST(m_abs AS DOUBLE) / 10000.0 AS max_abs_err
FROM agg
ORDER BY est_matches
"""


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: for each bit j, sum ±1 over token hashes'
    j-th bit; bit j of the fingerprint = (sum > 0).

    Explode tokens × bit positions is avoided: the per-bit vote is computed
    as k aggregate expressions over one (doc_id, token_hash) pass — one
    shuffle, no lateral blow-up.
    """
    docs = load_table(spark, sf_dir, "documents")
    from ..catalog import spread_small_scan
    from ..functions.scalars import portable_hash

    tok = (
        # spread_small_scan: tokenize + per-token hash + 32 vote aggregates
        # is this query's dominant map pass; single-split locally otherwise
        spread_small_scan(docs)
        .select("doc_id", F.explode(F.array_distinct(tokens())).alias("token"))
        .select("doc_id", portable_hash("token").alias("h"))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(SIMHASH_BITS)
    ]
    voted = tok.groupBy("doc_id").agg(*votes)
    fp = sum(
        F.when(F.col(f"v_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(SIMHASH_BITS)
    )
    return voted.select("doc_id", fp.cast("long").alias("simhash"))  # no final orderBy (guide §2.4)


def _sql_simhash() -> str:
    h = sql_portable_hash("token")
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS v_{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN v_{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, {h} AS h
  FROM (
    SELECT doc_id, unnest(list_distinct({sql_tokens()})) AS token
    FROM documents) t),
voted AS (
  SELECT doc_id,
         {votes}
  FROM tok GROUP BY doc_id)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash
FROM voted ORDER BY doc_id
"""


# --- SimHash Hamming-band near-dup join ------------------------------------

# 32-bit fingerprint → 4 bands of 8 bits. Pigeonhole: Hamming distance ≤ 3
# flips at most 3 bands, so every true pair shares at least one identical
# band — banding has 100% recall for the threshold below.
SIMHASH_BAND_BITS = 8
SIMHASH_N_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS
HAMMING_MAX = 3


def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ 3, found via banded
    buckets (the Manku/Jain/Sarma web-dedup shape): split each 32-bit
    fingerprint into 4 disjoint 8-bit bands; docs sharing any (band_id,
    band_value) bucket are candidates; verify with
    ``bit_count(simhash_a XOR simhash_b)``.

    Scale (100 TB): the fingerprint table is one narrow int64 row per doc;
    the self-join key is (band_id, band_value) — per-bucket cross products
    only, never all-pairs — and buckets above MAX_BUCKET docs are dropped
    (an 8-bit band of a near-monoculture corpus is the degenerate-bucket
    hazard, same mitigation as `minhash_lsh_pairs`). The XOR verify is a
    pure map over candidate rows. Complements `minhash_lsh_pairs`:
    MinHash targets set-Jaccard, SimHash targets weighted cosine — real
    pipelines run both and union the edge lists.
    """
    fps = caching.materialize(simhash_fingerprints(spark, sf_dir), "simhash_hamming_pairs.fps")
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS)
                .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
                .alias("band_value"),
            )
            for b in range(SIMHASH_N_BANDS)
        ]
    )
    banded = fps.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band_id").alias("band_id"), F.col("bb.band_value").alias("band_value")
    )
    banded = _cap_buckets(banded, ["band_id", "band_value"], MAX_BUCKET)
    a = banded.select(F.col("doc_id").alias("doc_a"), "band_id", "band_value")
    b2 = banded.select(F.col("doc_id").alias("doc_b"), "band_id", "band_value")
    cand = (
        a.join(b2, ["band_id", "band_value"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    fa = fps.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"))
    fb = fps.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b"))
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        # no final orderBy: the largest scaling pair output (guide §2.4)
    )


def _sql_simhash_hamming_pairs() -> str:
    mask = (1 << SIMHASH_BAND_BITS) - 1
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"(simhash // {1 << (b * SIMHASH_BAND_BITS)}) % {mask + 1} AS band_value FROM fps"
        for b in range(SIMHASH_N_BANDS)
    )
    return f"""
WITH fps AS ({_sql_simhash()}),
banded AS ({band_rows}),
kept AS (
  SELECT banded.* FROM banded
  JOIN (SELECT band_id, band_value FROM banded
        GROUP BY band_id, band_value HAVING COUNT(*) <= {MAX_BUCKET}) ok
    USING (band_id, band_value)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a JOIN kept b
    ON a.band_id = b.band_id AND a.band_value = b.band_value AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INTEGER) AS hamming
FROM cand
JOIN fps fa ON fa.doc_id = doc_a
JOIN fps fb ON fb.doc_id = doc_b
WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {HAMMING_MAX}
ORDER BY doc_a, doc_b
"""


# --- detector agreement --------------------------------------------------------


def near_dup_detector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row cross-validation of the two near-dup detectors: MinHash-LSH
    (set-Jaccard signal) vs SimHash Hamming bands (weighted-cosine
    signal) — pair counts, overlap, and edge-set Jaccard. Low agreement is
    expected and informative (the detectors target different similarity
    notions); a sudden DROP across corpus snapshots means one detector's
    buckets degenerated (cap eating a hot band) — this is the canary.

    Scale: both edge lists come from their capped bucketed joins; the
    overlap is an equi-join on (doc_a, doc_b). Pure integers + one int-div
    share.
    """
    # each edge list feeds two branches (own count + the overlap join);
    # cache the bounded, cap-limited pair lists so neither detector's
    # banded join runs twice (the sweep harness clears caches per query).
    # The MinHash side consumes the CANDIDATE set (`_lsh_candidates`), not
    # the scored pairs: agreement compares edge SETS, and the scored form
    # re-joined the 16-column signature frame twice per pair to compute an
    # est_jaccard this report never reads (guide §1.2).
    sigs = caching.materialize(_minhash_signatures(spark, sf_dir), "near_dup_detector_agreement.sigs")
    mh = caching.materialize(_lsh_candidates(sigs), "near_dup_detector_agreement.mh")
    sh = caching.materialize(
        simhash_hamming_pairs(spark, sf_dir).select("doc_a", "doc_b"), "near_dup_detector_agreement.sh"
    )
    n_mh = mh.agg(F.count(F.lit(1)).alias("n_minhash"))
    n_sh = sh.agg(F.count(F.lit(1)).alias("n_simhash"))
    n_both = mh.join(sh, ["doc_a", "doc_b"]).agg(F.count(F.lit(1)).alias("n_both"))
    return (
        n_mh.crossJoin(F.broadcast(n_sh))
        .crossJoin(F.broadcast(n_both))
        .withColumn("n_union", F.col("n_minhash") + F.col("n_simhash") - F.col("n_both"))
        .withColumn(
            "edge_jaccard",
            F.expr("(n_both * 20000 + n_union) div (2 * n_union)").cast("double")
            / F.lit(10000.0),
        )
    )


def _sql_detector_agreement() -> str:
    return f"""
WITH mh AS (SELECT doc_a, doc_b FROM ({_sql_lsh_pairs()}) m),
sh AS (SELECT doc_a, doc_b FROM ({_sql_simhash_hamming_pairs()}) s),
s AS (
  SELECT (SELECT COUNT(*) FROM mh) AS n_minhash,
         (SELECT COUNT(*) FROM sh) AS n_simhash,
         (SELECT COUNT(*) FROM mh JOIN sh USING (doc_a, doc_b)) AS n_both)
SELECT CAST(n_minhash AS BIGINT) AS n_minhash,
       CAST(n_simhash AS BIGINT) AS n_simhash,
       CAST(n_both AS BIGINT) AS n_both,
       CAST(n_minhash + n_simhash - n_both AS BIGINT) AS n_union,
       CAST((n_both * 20000 + (n_minhash + n_simhash - n_both))
            // (2 * (n_minhash + n_simhash - n_both)) AS DOUBLE) / 10000.0 AS edge_jaccard
FROM s
"""


# --- corpus heavy hitters ----------------------------------------------------

HH_TOP_K = 20


def frequent_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word-3-grams by document frequency — the heavy-hitter report
    that tunes MAX_BUCKET (boilerplate shingles are what explode LSH
    buckets). Exact counts here; at 100 TB this becomes a count-min /
    frequent-items sketch over the same (doc, shingle) stream."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _shingles_df(docs)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), "shingle")
        .limit(HH_TOP_K)
    )


_FREQ_SHINGLES_SQL = f"""
SELECT shingle, COUNT(*) AS df
FROM ({_SQL_SHINGLES}) sh
GROUP BY shingle
ORDER BY df DESC, shingle
LIMIT {HH_TOP_K}
"""


# --- n-gram novelty ----------------------------------------------------------


def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a doc's distinct 3-gram shingles
    that appear in NO other document (corpus df = 1) — high novelty marks
    genuinely fresh content, near-zero novelty marks boilerplate or
    near-duplicates that slipped past exact dedup. The memorization-risk /
    freshness signal a curation mix weighs alongside quality scores.

    Plan: ONE shingle relation feeds both the df counts and the per-doc
    rollup (inverted-index reuse, like `_common_shingle_pairs`); novelty
    is an integer ratio (int-div 4dp). Docs with < 3 tokens have no
    shingles and report NULL novelty rather than vanishing.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = caching.materialize(_shingles_df(docs), "doc_ngram_novelty.sh")
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        sh.join(df_counts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles"),
            F.coalesce(F.col("n_unique"), F.lit(0)).alias("n_unique"),
            F.when(
                F.col("n_shingles").isNotNull(),
                F.expr("(n_unique * 20000 + n_shingles) div (2 * n_shingles)").cast("double")
                / F.lit(10000.0),
            ).alias("novelty"),
        )
        # no final orderBy (guide §2.4)
    )


_NOVELTY_SQL = f"""
WITH sh AS ({_SQL_SHINGLES}),
dfc AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
per_doc AS (
  SELECT s.doc_id,
         COUNT(*) AS n_shingles,
         SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS n_unique
  FROM sh s JOIN dfc d USING (shingle)
  GROUP BY s.doc_id)
SELECT doc_id,
       CAST(COALESCE(n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(n_unique, 0) AS BIGINT) AS n_unique,
       CASE WHEN n_shingles IS NOT NULL THEN
         CAST((n_unique * 20000 + n_shingles) // (2 * n_shingles) AS DOUBLE) / 10000.0
       END AS novelty
FROM documents LEFT JOIN per_doc USING (doc_id)
ORDER BY doc_id
"""


# --- near-dup clustering (connected components) ------------------------------

# Contracted edges one union-find task takes: every round coalesces its edge
# set to ceil(edges / EDGES_PER_TASK) partitions, so an edge set that fits one
# task is solved in one round whatever the shuffle partition count.
EDGES_PER_TASK = 1 << 19


def _cc_round_bound(n_edges: int) -> int:
    """Union-find rounds `connected_components` may run on a graph of
    `n_edges` distinct edges before it raises."""
    return 2 * math.ceil(math.log2(n_edges + 1)) + 2


def connected_components(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(node, label) connected components of the undirected graph `edges`
    (a, b); label = the smallest node id in the node's component.

    Label contraction (Rastogi et al., ICDE 2013; Kiveris et al., SoCC
    2014). Each round normalizes the current edges to (least, greatest),
    drops self-loops and duplicates, and materializes and counts them; it
    stops when none are left. Otherwise it coalesces them to
    ceil(count / EDGES_PER_TASK) partitions, runs a union-find over each
    partition (`mapInPandas`; the smaller id becomes the root), takes each
    node's min root over the partitions, and relabels both the labels and
    the edges through that map. The map sends every node to a smaller or
    equal id of its own component and the component's min id to itself, so
    an empty edge set means every component carries its min id. An edge set
    that fits one task is solved by that task, so the loop ends after it;
    larger ones shrink each round until they fit.

    Bound: the loop raises RuntimeError, naming the round count and the
    bound, once the rounds pass 2·⌈log₂(m + 1)⌉ + 2 for m first-round edges
    (`_cc_round_bound`) — it never returns unconverged labels.

    The driver loop is control flow only. Per round: one edge
    materialization and count, one union-find pass into a materialized
    (node, root) map, and the joins that relabel through it. The union-find
    is Python, but it sees only label-sized edges (two ids), never
    documents. Catalyst estimates each relabelled edge set as the product
    of its join inputs, so the estimate's digit count triples per round and
    planning slows past ~12 rounds (4 cores: 0.5 s at round 10, 5 s at
    13) — far above the one round an edge set within one task takes.

    nodes: (node) — MUST be a superset of the edge endpoints; nodes without
    an edge are singleton clusters (label = node).
    """
    import pandas as pd

    def _union_find(batches):
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
                ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        yield pd.DataFrame({"node": list(parent), "root": [find(x) for x in parent]})

    cur = edges.select("a", "b")
    id_type = cur.schema["a"].dataType.simpleString()
    labels = endpoints = bound = None
    rounds = 0
    while True:
        cur = caching.checkpoint(
            cur.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct(),
            "connected_components.edges",
        )
        n = cur.count()
        if bound is None:
            bound = _cc_round_bound(n)
        if n == 0:
            break
        rounds += 1
        if rounds > bound:
            raise RuntimeError(
                f"connected_components did not converge: round {rounds} exceeds "
                f"the bound of {bound} rounds with {n} edges left"
            )
        tasks = max(1, math.ceil(n / EDGES_PER_TASK))
        root = caching.checkpoint(
            cur.coalesce(tasks)
            .mapInPandas(_union_find, f"node {id_type}, root {id_type}")
            .groupBy("node")
            .agg(F.min("root").alias("root")),
            "connected_components.root",
        )
        if labels is None:
            endpoints = root.select("node")
            labels = root.select("node", F.col("root").alias("label"))
        else:
            labels = labels.join(
                root.withColumnRenamed("node", "label"), "label", "left"
            ).select("node", F.coalesce("root", "label").alias("label"))
        if tasks == 1:
            break  # one union-find saw every edge: the labels are final
        ra = root.select(F.col("node").alias("a"), F.col("root").alias("ra"))
        rb = root.select(F.col("node").alias("b"), F.col("root").alias("rb"))
        cur = cur.join(ra, "a").join(rb, "b").select(
            F.col("ra").alias("a"), F.col("rb").alias("b")
        )
    singles = nodes.select("node", F.col("node").alias("label"))
    if labels is None:
        return singles
    return labels.unionByName(singles.join(endpoints, "node", "left_anti"))


def _near_dup_label_frame(
    spark: SparkSession, sf_dir: str, cand: DataFrame | None = None
) -> DataFrame:
    """(node, label) connected-component labels of the MinHash-LSH candidate
    graph over all documents — the shared core of `near_dup_clusters` and
    `split_leakage_compare`. Consumes the CANDIDATE pair set
    (`_lsh_candidates`), not the scored pairs: the component pass only needs
    the edge SET, and the scored form re-joined the 16-column signature
    frame twice per pair purely to compute an est_jaccard the loop drops on
    the floor (guide §1.2: don't compute what you throw away). `cand`
    injects a pre-built (optionally cached) candidate frame so a caller
    that also aggregates the pairs (the leakage audit) runs the banded join
    once."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    if cand is None:
        sigs = caching.materialize(_minhash_signatures(spark, sf_dir), "near_dup_label_frame.sigs")
        cand = _lsh_candidates(sigs)
    pairs = cand.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    return connected_components(pairs, docs)


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document labeled with its near-dup cluster id (min doc_id in
    its connected component of the MinHash-LSH candidate graph); docs with
    no near-dup are singleton clusters. This is the assignment a dedup
    stage keeps one representative per cluster from."""
    # no final orderBy on the per-doc label output — driver comparator is
    # order-insensitive
    return _near_dup_label_frame(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _sql_near_dup_clusters() -> str:
    lsh = _sql_lsh_pairs()
    return f"""
WITH RECURSIVE
edges AS (SELECT doc_a AS a, doc_b AS b FROM ({lsh}) lshp),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT CASE WHEN r.node = e.a THEN e.b ELSE e.a END, r.root
  FROM reach r JOIN edges e ON r.node = e.a OR r.node = e.b)
SELECT node AS doc_id, MIN(root) AS cluster_id
FROM reach GROUP BY node ORDER BY doc_id
"""


def near_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram: how many clusters of each size — the dedup
    yield report (size 1 = unique docs; Σ(size>1 clusters' (size-1)) = docs
    removable)."""
    clusters = near_dup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy("size").agg(F.count(F.lit(1)).alias("n_clusters")).orderBy("size")
    )


def _sql_near_dup_cluster_sizes() -> str:
    return f"""
WITH assigned AS ({_sql_near_dup_clusters()})
SELECT size, COUNT(*) AS n_clusters FROM (
  SELECT cluster_id, COUNT(*) AS size FROM assigned GROUP BY cluster_id) s
GROUP BY size ORDER BY size
"""


def near_dup_canonicals(
    spark: SparkSession, sf_dir: str, quality: DataFrame | None = None
) -> DataFrame:
    """Canonical-document selection: for every near-dup cluster, the single
    document a dedup stage KEEPS — the cluster member with the highest
    heuristic quality score (doc_id ascending as the deterministic
    tiebreak) — plus the cluster's size and how many docs selecting it
    removes. `near_dup_clusters` answers "which docs are the same"; this
    answers the curation question that follows: "which copy do we train
    on". Keeping the best-quality copy (not the min-id one) is the policy
    real corpus builds use — boilerplate mirrors often have truncated or
    low-quality variants of the canonical page.

    Scale: cluster labels come from the shared iterative component pass;
    the keeper is ONE partial-aggregating `max(struct(quality, -doc_id))`
    per cluster — no window, no second shuffle beyond the label join, and
    the quality scan fuses with the `documents` read Catalyst already
    plans for the label side. `quality` injects a pre-built (optionally
    cached) (doc_id, quality_score) frame so a funnel job that also joins
    the score per doc computes the scoring scan once."""
    from .text import quality_scores

    clusters = near_dup_clusters(spark, sf_dir)
    if quality is None:
        quality = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    best = (
        clusters.join(quality, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col("quality_score").alias("q"),
                    (-F.col("doc_id")).alias("neg_id"),
                )
            ).alias("best"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    return best.select(
        "cluster_id",
        (-F.col("best.neg_id")).alias("keeper_doc_id"),
        F.col("best.q").alias("keeper_quality"),
        "n_docs",
        (F.col("n_docs") - F.lit(1)).cast("long").alias("n_removed"),
    )
    # no final orderBy (cluster-count-sized output, order-insensitive gate)


def _sql_near_dup_canonicals() -> str:
    from .text import _QUALITY_SQL

    return f"""
WITH RECURSIVE
{_sql_minhash_cte()},
{_sql_lsh_cand_ctes()},
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT CASE WHEN r.node = e.doc_a THEN e.doc_b ELSE e.doc_a END, r.root
  FROM reach r JOIN cand e ON r.node = e.doc_a OR r.node = e.doc_b),
labels AS (SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node),
quality AS (SELECT doc_id, quality_score FROM ({_QUALITY_SQL}) q),
ranked AS (
  SELECT l.cluster_id, l.doc_id, q.quality_score,
         ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                            ORDER BY q.quality_score DESC, l.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY l.cluster_id) AS n_docs
  FROM labels l JOIN quality q USING (doc_id))
SELECT cluster_id, doc_id AS keeper_doc_id, quality_score AS keeper_quality,
       CAST(n_docs AS BIGINT) AS n_docs, CAST(n_docs - 1 AS BIGINT) AS n_removed
FROM ranked WHERE rn = 1 ORDER BY cluster_id
"""


# --- incremental dedup: probe a delta batch against the corpus index --------

DELTA_MOD = 5  # doc_id % DELTA_MOD == DELTA_MOD-1 plays the "new crawl" slice


def _is_delta() -> F.Column:
    return (F.col("doc_id") % F.lit(DELTA_MOD)) == F.lit(DELTA_MOD - 1)


def corpus_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(corpus_doc, band_id, band_hash): the capped MinHash band postings of
    the already-ingested corpus slice — the INDEX an incremental dedup
    probes against. At 100 TB this is a persisted table bucketed by
    (band_id, band_hash), appended per ingest; here it is derived on the
    fly. The degenerate-bucket cap is applied at build time (index side),
    exactly as `_lsh_candidates` does for the batch self-join. Shared by
    `minhash_delta_probe` and the streaming probe."""
    # scoped cache: `_cap_buckets` reads its input twice (bucket-count side
    # + semi-join probe side), and each read was a full shingle → signature
    # → banding pass over the corpus; the caller checkpoints the RESULT, so
    # without the cache the build pays the signature pass twice
    bands = caching.materialize(
        _banded(_minhash_signatures(spark, sf_dir)).filter(~_is_delta()), "corpus_band_index.bands"
    )
    return _cap_buckets(bands, ["band_id", "band_hash"], MAX_BUCKET).select(
        F.col("doc_id").alias("corpus_doc"), "band_id", "band_hash"
    )


def probe_band_index(delta_docs: DataFrame, index: DataFrame) -> DataFrame:
    """Per-doc novelty verdicts for any (doc_id, text) delta frame against a
    band index: (doc_id, n_corpus_matches, first_match_doc, is_novel).
    Candidate generation is the banded equi-join of the delta's postings
    against the index — the delta side shuffles, the index side reads
    pre-bucketed at scale."""
    delta = _banded(_signatures_of(delta_docs)).select(
        F.col("doc_id").alias("delta_doc"), "band_id", "band_hash"
    )
    probe = (
        delta.join(index, ["band_id", "band_hash"])
        .select("delta_doc", "corpus_doc")
        .distinct()
    )
    per_doc = probe.groupBy("delta_doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_corpus_matches"),
        F.min("corpus_doc").alias("first_match_doc"),
    )
    ids = delta_docs.select("doc_id")
    return (
        ids.join(per_doc, ids.doc_id == per_doc.delta_doc, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_corpus_matches"), F.lit(0).cast("long")).alias(
                "n_corpus_matches"
            ),
            "first_match_doc",
            F.col("delta_doc").isNull().cast("int").alias("is_novel"),
        )
    )


def minhash_delta_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup admission: a DELTA batch of new documents
    (here the deterministic doc_id % {DELTA_MOD} == {DELTA_MOD - 1} slice)
    probed against the MinHash band INDEX of the already-ingested corpus
    (the remaining docs), without ever comparing corpus docs to each other.
    Per delta doc: how many corpus near-dup candidates it collides with,
    the first (min-id) match, and whether it is novel — the keep/drop
    signal a daily crawl ingest needs.

    Scale: this is THE shape that makes dedup affordable on a growing
    100 TB corpus — the corpus band table is built once and persisted as a
    table bucketed by (band_id, band_hash), so each new batch's probe
    shuffles ONLY the delta postings (corpus side reads pre-bucketed, no
    shuffle, no rescan); cost is O(|delta| · bands) versus re-running the
    full self-join. The degenerate-bucket cap is applied on the INDEX side
    at build time, exactly as `_lsh_candidates` does for the batch path.
    """
    # one cached signature pass feeds BOTH sides here (the batch shortcut);
    # the streaming path (`streaming.novelty`) uses `corpus_band_index` +
    # `probe_band_index`, which compute the same expressions per side
    sigs = caching.materialize(_minhash_signatures(spark, sf_dir), "minhash_delta_probe.sigs")
    bands = _banded(sigs)
    corpus = _cap_buckets(
        bands.filter(~_is_delta()), ["band_id", "band_hash"], MAX_BUCKET
    ).select(F.col("doc_id").alias("corpus_doc"), "band_id", "band_hash")
    delta = bands.filter(_is_delta()).select(
        F.col("doc_id").alias("delta_doc"), "band_id", "band_hash"
    )
    probe = (
        delta.join(corpus, ["band_id", "band_hash"])
        .select("delta_doc", "corpus_doc")
        .distinct()
    )
    per_doc = probe.groupBy("delta_doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_corpus_matches"),
        F.min("corpus_doc").alias("first_match_doc"),
    )
    delta_docs = (
        load_table(spark, sf_dir, "documents").select("doc_id").filter(_is_delta())
    )
    return (
        delta_docs.join(per_doc, delta_docs.doc_id == per_doc.delta_doc, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_corpus_matches"), F.lit(0).cast("long")).alias(
                "n_corpus_matches"
            ),
            "first_match_doc",
            F.col("delta_doc").isNull().cast("int").alias("is_novel"),
        )
        # no final orderBy (guide §2.4)
    )


def _sql_delta_probe() -> str:
    d = DELTA_MOD
    return f"""
WITH {_sql_minhash_cte()},
{_sql_banded_cte()},
corpus AS (SELECT * FROM banded WHERE doc_id % {d} <> {d - 1}),
kept AS (
  SELECT corpus.* FROM corpus
  JOIN (SELECT band_id, band_hash FROM corpus
        GROUP BY band_id, band_hash HAVING COUNT(*) <= {MAX_BUCKET}) ok
    USING (band_id, band_hash)),
delta AS (SELECT * FROM banded WHERE doc_id % {d} = {d - 1}),
probe AS (
  SELECT DISTINCT dl.doc_id AS delta_doc, c.doc_id AS corpus_doc
  FROM delta dl JOIN kept c USING (band_id, band_hash)),
agg AS (
  SELECT delta_doc, CAST(COUNT(*) AS BIGINT) AS n_corpus_matches,
         MIN(corpus_doc) AS first_match_doc
  FROM probe GROUP BY delta_doc)
SELECT dd.doc_id,
       COALESCE(a.n_corpus_matches, 0) AS n_corpus_matches,
       a.first_match_doc AS first_match_doc,
       CAST(CASE WHEN a.delta_doc IS NULL THEN 1 ELSE 0 END AS INT) AS is_novel
FROM (SELECT doc_id FROM documents WHERE doc_id % {d} = {d - 1}) dd
LEFT JOIN agg a ON a.delta_doc = dd.doc_id
ORDER BY dd.doc_id
"""


# --- corpus curation capstone: quality filter → dedup → split ---------------

QUALITY_CUTOFF = 0.5
TRAIN_PCT = 90  # hash buckets < 90 → train, rest → holdout


def training_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation pipeline as ONE declarative
    plan: (1) keep each near-dup cluster's representative (min doc_id of its
    MinHash-LSH connected component), (2) drop docs below the quality-score
    cutoff, (3) deterministically split survivors train/holdout by hash
    bucket, (4) report the resulting data mix per (lang, split).

    Composes `near_dup_clusters`, `quality_scores`, and the
    `deterministic_sample` bucket rule — the stages a 100 TB corpus build
    runs, here fused so Catalyst plans them together (the quality scan and
    the dedup scan share the one `documents` read; no intermediate
    materialization)."""
    from ..functions.scalars import portable_hash
    from .text import quality_scores

    docs = load_table(spark, sf_dir, "documents")
    reps = near_dup_clusters(spark, sf_dir).filter(
        F.col("doc_id") == F.col("cluster_id")
    )
    quality = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    bucket = portable_hash(F.col("doc_id").cast("string")) % 100
    return (
        docs.join(reps.select("doc_id"), "doc_id")
        .join(quality, "doc_id")
        .filter(F.col("quality_score") >= QUALITY_CUTOFF)
        .withColumn(
            "split",
            F.when(bucket < TRAIN_PCT, F.lit("train")).otherwise(F.lit("holdout")),
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang", "split")
    )


def _sql_training_corpus_mix() -> str:
    from .text import _QUALITY_SQL

    return f"""
SELECT d.lang,
       CASE WHEN CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
                 < {TRAIN_PCT}
            THEN 'train' ELSE 'holdout' END AS split,
       COUNT(*) AS n_docs, CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
FROM documents d
JOIN (SELECT doc_id FROM ({_sql_near_dup_clusters()}) c
      WHERE doc_id = cluster_id) reps USING (doc_id)
JOIN (SELECT doc_id, quality_score FROM ({_QUALITY_SQL}) q) qs USING (doc_id)
WHERE qs.quality_score >= {QUALITY_CUTOFF}
GROUP BY 1, 2
ORDER BY lang, split
"""


def split_leakage_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-integrity audit of train/holdout SPLIT POLICIES: for each
    policy, how many near-dup candidate pairs survive with BOTH endpoints
    in the corpus, and how many of those straddle the train/holdout
    boundary (a holdout doc whose near-duplicate sits in train inflates
    eval scores — the leakage `cv_fold_leakage_report` measures for exact
    dups and K folds, here for NEAR dups and the mix's 90/10 split):

      naive_hash — split every doc by the hash bucket alone (no dedup):
        ≈ 2·p·(1−p) of near-dup pairs leak by construction;
      cluster_representative — `training_corpus_mix`'s policy: keep one
        doc per near-dup cluster BEFORE splitting, so no near-dup pair can
        have two live endpoints; the audit proves the 0 instead of
        asserting it.

    Scale: the pair frame is the shared band-bucketed `_lsh_scored_pairs`
    (digest-only shuffles, capped buckets); splits/keeps are per-row hash
    expressions + one broadcast-sized reps join; both policies price as
    conditional sums in ONE aggregate over the pair frame."""
    from ..functions.scalars import portable_hash

    # the candidate SET suffices (scores are irrelevant to leakage), so
    # skip _lsh_scored_pairs' two 16-column signature re-joins; cache the
    # candidate frame and inject it into the component pass, so the banded
    # self-join runs ONCE for both the pair aggregate and the rep labels
    # (it used to run twice — once per consumer)
    sigs = caching.materialize(_minhash_signatures(spark, sf_dir), "split_leakage_compare.sigs")
    pairs = caching.materialize(_lsh_candidates(sigs), "split_leakage_compare.pairs")
    reps = (
        _near_dup_label_frame(spark, sf_dir, cand=pairs)
        .filter(F.col("node") == F.col("label"))
        .select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
    )

    def _doc_side(side: str) -> DataFrame:
        split = F.when(
            portable_hash(F.col("doc_id").cast("string")) % 100 < TRAIN_PCT,
            F.lit("train"),
        ).otherwise(F.lit("holdout"))
        return (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", split.alias(f"split_{side}"))
            .join(
                reps.select("doc_id", F.lit(1).alias(f"kept_{side}")),
                "doc_id",
                "left",
            )
            .select(
                F.col("doc_id").alias(f"doc_{side}"),
                f"split_{side}",
                F.coalesce(f"kept_{side}", F.lit(0)).alias(f"kept_{side}"),
            )
        )

    joined = pairs.join(_doc_side("a"), "doc_a").join(_doc_side("b"), "doc_b")
    cross = (F.col("split_a") != F.col("split_b")).cast("long")
    live = (F.col("kept_a") * F.col("kept_b")).cast("long")
    one = joined.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(F.sum(cross), F.lit(0)).cast("long").alias("cross_all"),
        F.coalesce(F.sum(live), F.lit(0)).cast("long").alias("live_rep"),
        F.coalesce(F.sum(live * cross), F.lit(0)).cast("long").alias("cross_rep"),
    )

    def _policy(name: str, live_col: str, cross_col: str) -> DataFrame:
        pct = F.when(
            F.col(live_col) > 0,
            round_half_up(
                F.col(cross_col).cast("double") / F.col(live_col).cast("double"), 6
            ),
        )
        return one.select(
            F.lit(name).alias("policy"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col(live_col).cast("long").alias("n_pairs_live"),
            F.col(cross_col).cast("long").alias("n_cross_split"),
            pct.alias("leaked_pct"),
        )

    return (
        _policy("cluster_representative", "live_rep", "cross_rep")
        .unionByName(_policy("naive_hash", "n_pairs", "cross_all"))
        .orderBy("policy")
    )


def _sql_split_leakage() -> str:
    h = sql_portable_hash("CAST(doc_id AS VARCHAR)")
    return f"""
WITH {_sql_minhash_cte()},
{_sql_lsh_cand_ctes()},
splits AS (
  SELECT doc_id,
         CASE WHEN {h} % 100 < {TRAIN_PCT} THEN 'train' ELSE 'holdout' END AS split,
         doc_id IN (SELECT doc_id FROM ({_sql_near_dup_clusters()}) c
                    WHERE doc_id = cluster_id) AS kept
  FROM documents),
agg AS (
  SELECT COUNT(*) AS n_pairs,
         COALESCE(SUM(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END), 0)
           AS cross_all,
         COALESCE(SUM(CASE WHEN sa.kept AND sb.kept THEN 1 ELSE 0 END), 0)
           AS live_rep,
         COALESCE(SUM(CASE WHEN sa.kept AND sb.kept AND sa.split <> sb.split
                  THEN 1 ELSE 0 END), 0) AS cross_rep
  FROM cand p
  JOIN splits sa ON sa.doc_id = p.doc_a
  JOIN splits sb ON sb.doc_id = p.doc_b)
SELECT * FROM (
  SELECT 'cluster_representative' AS policy,
         CAST(n_pairs AS BIGINT) AS n_pairs,
         CAST(live_rep AS BIGINT) AS n_pairs_live,
         CAST(cross_rep AS BIGINT) AS n_cross_split,
         CASE WHEN live_rep > 0 THEN {sql_round_half_up(
             "CAST(cross_rep AS DOUBLE) / CAST(live_rep AS DOUBLE)", 6)}
         END AS leaked_pct
  FROM agg
  UNION ALL
  SELECT 'naive_hash', CAST(n_pairs AS BIGINT), CAST(n_pairs AS BIGINT),
         CAST(cross_all AS BIGINT),
         CASE WHEN n_pairs > 0 THEN {sql_round_half_up(
             "CAST(cross_all AS DOUBLE) / CAST(n_pairs AS DOUBLE)", 6)}
         END
  FROM agg) u
ORDER BY policy
"""


# --- benchmark decontamination ---------------------------------------------

EVAL_MOD = 20  # doc_id % 20 == 0 → the deterministic pseudo-benchmark split


def decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-vs-benchmark n-gram decontamination (the GPT-3/C4-style
    filter): flag every training document sharing at least one word-3-gram
    with the held-out eval set, with overlap counts.

    The eval set here is the deterministic `doc_id % EVAL_MOD == 0` slice
    (a stand-in for MMLU/GSM-style benchmark text shipped alongside a real
    corpus). Spark-first shape: both sides reuse the distinct-shingle
    explode; the eval shingle set is tiny relative to the corpus (benchmarks
    are MBs, corpora are TBs) so it is DISTINCT-ed and **broadcast** — the
    100 TB training side joins map-side with no shuffle of document text,
    and only the matching (doc_id, shingle) hits shuffle into the final
    per-doc count. Contamination rate = shared shingles / doc shingles.
    """
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % EVAL_MOD != 0)
    eval_docs = docs.filter(F.col("doc_id") % EVAL_MOD == 0)
    eval_shingles = _shingles_df(eval_docs).select("shingle").distinct()
    train_sh = _shingles_df(train)
    sizes = train_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        train_sh.join(F.broadcast(eval_shingles), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        hits.join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_contaminated",
            "n_shingles",
            round_half_up(
                F.col("n_contaminated").cast("double") / F.col("n_shingles").cast("double"), 4
            ).alias("contamination_rate"),
        )
        # no final orderBy (guide §2.4)
    )


_DECONTAM_SQL = f"""
WITH sh AS ({_SQL_SHINGLES}),
eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {EVAL_MOD} = 0),
train_sh AS (SELECT * FROM sh WHERE doc_id % {EVAL_MOD} != 0),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train_sh GROUP BY doc_id),
hits AS (
  SELECT doc_id, COUNT(*) AS n_contaminated
  FROM train_sh JOIN eval_sh USING (shingle)
  GROUP BY doc_id)
SELECT doc_id, n_contaminated, n_shingles,
       CAST(FLOOR((CAST(n_contaminated AS DOUBLE) / CAST(n_shingles AS DOUBLE))
            * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS contamination_rate
FROM hits JOIN sizes USING (doc_id)
ORDER BY doc_id
"""


# contamination-rate drop thresholds: 0.0 = the GPT-3 "any shared n-gram"
# policy; the rest trade eval hygiene against corpus yield. Literals parse
# to identical doubles in both engines; rates are 1e-4-quantized.
DECON_RATE_GRID = [0.0, 0.05, 0.1, 0.2, 0.5]


def decontamination_policy_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-of-policy curve for decontamination: for each θ in
    DECON_RATE_GRID, how many training documents (and how much token
    mass) a "drop if contamination_rate ≥ θ" policy removes — θ = 0.0 is
    the any-hit GPT-3 rule, larger θ keeps lightly-grazed docs. The curve
    is what decides the policy BEFORE a 100 TB purge: the difference
    between dropping 8% and 0.3% of tokens is a retraining budget.

    Plan shape: `decontamination_report`'s per-doc rate frame (broadcast
    eval-shingle semi-join — the corpus never shuffles its text) is the
    sufficient statistic; token counts join on only for the contaminated
    docs (a tiny frame — contamination is rare by construction); the whole
    grid prices as conditional sums in ONE aggregate over that frame plus
    a 1-row train-corpus total, fanned out by a constant-size stack.
    """
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % EVAL_MOD != 0)
    n_toks = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(
        F.size(tokens())
    ).cast("long")
    contaminated = decontamination_report(spark, sf_dir).select(
        "doc_id", "contamination_rate"
    )
    per = contaminated.join(train.select("doc_id", n_toks.alias("n_tokens")), "doc_id")
    c_agg = per.agg(
        *[
            e
            for i, t in enumerate(DECON_RATE_GRID)
            for e in (
                F.coalesce(
                    F.sum((F.col("contamination_rate") >= F.lit(t)).cast("long")),
                    F.lit(0),
                ).alias(f"docs_{i}"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("contamination_rate") >= F.lit(t), F.col("n_tokens")
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias(f"toks_{i}"),
            )
        ]
    )
    t_agg = train.agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.sum(n_toks).alias("n_train_tokens"),
    )
    stack_args = ", ".join(
        f"CAST({t!r} AS DOUBLE), docs_{i}, toks_{i}"
        for i, t in enumerate(DECON_RATE_GRID)
    )
    rows = c_agg.crossJoin(F.broadcast(t_agg)).selectExpr(
        f"stack({len(DECON_RATE_GRID)}, {stack_args})"
        " AS (theta, n_dropped_docs, dropped_tokens)",
        "n_train_docs",
        "n_train_tokens",
    )
    return rows.select(
        "theta",
        F.col("n_dropped_docs").cast("long").alias("n_dropped_docs"),
        F.col("dropped_tokens").cast("long").alias("dropped_tokens"),
        round_half_up(
            F.col("n_dropped_docs").cast("double")
            / F.col("n_train_docs").cast("double")
            * 100.0,
            4,
        ).alias("dropped_docs_pct"),
        round_half_up(
            F.col("dropped_tokens").cast("double")
            / F.col("n_train_tokens").cast("double")
            * 100.0,
            4,
        ).alias("dropped_tokens_pct"),
    ).orderBy("theta")


def _sql_decon_policy_sweep() -> str:
    thetas = ", ".join(f"{t!r}::DOUBLE" for t in DECON_RATE_GRID)
    ntoks = (
        "CASE WHEN trim(text) = '' THEN 0 "
        f"ELSE len({sql_tokens()}) END"
    )
    return f"""
WITH rates AS (SELECT doc_id, contamination_rate FROM ({_DECONTAM_SQL}) r),
tok AS (SELECT doc_id, CAST({ntoks} AS BIGINT) AS n_tokens
        FROM documents WHERE doc_id % {EVAL_MOD} != 0),
per AS (SELECT r.contamination_rate, t.n_tokens FROM rates r JOIN tok t USING (doc_id)),
tot AS (SELECT COUNT(*) AS n_train_docs, SUM(n_tokens) AS n_train_tokens FROM tok),
taus AS (SELECT unnest([{thetas}]) AS theta),
grid AS (
  SELECT ts.theta,
         CAST(COALESCE(SUM(CASE WHEN p.contamination_rate >= ts.theta THEN 1 END), 0)
              AS BIGINT) AS n_dropped_docs,
         CAST(COALESCE(SUM(CASE WHEN p.contamination_rate >= ts.theta
                                THEN p.n_tokens END), 0) AS BIGINT) AS dropped_tokens
  FROM taus ts LEFT JOIN per p ON TRUE GROUP BY ts.theta)
SELECT g.theta, g.n_dropped_docs, g.dropped_tokens,
       {sql_round_half_up("CAST(g.n_dropped_docs AS DOUBLE) / CAST(t.n_train_docs AS DOUBLE) * 100.0", 4)} AS dropped_docs_pct,
       {sql_round_half_up("CAST(g.dropped_tokens AS DOUBLE) / CAST(t.n_train_tokens AS DOUBLE) * 100.0", 4)} AS dropped_tokens_pct
FROM grid g CROSS JOIN tot t
ORDER BY g.theta
"""


# --- cross-validation fold leakage ------------------------------------------

N_FOLDS = 5
_FOLD_SALT = "fold:"


def cv_fold_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fold contamination audit for a deterministic K-fold split:
    fold = portable_hash(doc_id) % K, leakage = a doc whose normalized
    fingerprint (dedup_fingerprint's token-set digest) also appears in a
    DIFFERENT fold — i.e. training folds contain (near-)copies of the
    held-out fold's rows, the silent eval-inflation bug. Reports per fold:
    docs, leaked docs, distinct leaked fingerprints, leak fraction.

    A random split leaks by construction whenever duplicates exist — the
    fix is splitting by fingerprint GROUP (training_corpus_mix does) —
    and this report is the audit that says whether you must.

    Scale: fingerprints are md5 digests, so both aggregations shuffle
    32-byte keys; the fold-spread table joins back on digest (shuffle
    join, same key — one exchange reused). Output is K rows.
    """
    from ..functions.scalars import portable_hash

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(tokens())), " "))
    fold = (
        portable_hash(F.concat(F.lit(_FOLD_SALT), F.col("doc_id").cast("string")))
        % N_FOLDS
    )
    keyed = docs.select(
        "doc_id", fold.alias("fold"), fp.alias("fingerprint")
    )
    spread = keyed.groupBy("fingerprint").agg(
        F.countDistinct("fold").alias("n_folds")
    )
    return (
        keyed.join(spread, "fingerprint")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_folds") > 1, 1).otherwise(0)).alias("n_leaked_docs"),
            F.countDistinct(
                F.when(F.col("n_folds") > 1, F.col("fingerprint"))
            ).alias("n_leaked_fingerprints"),
        )
        .select(
            "fold",
            "n_docs",
            "n_leaked_docs",
            "n_leaked_fingerprints",
            round_half_up(
                F.col("n_leaked_docs").cast("double") / F.col("n_docs").cast("double"),
                4,
            ).alias("leak_frac"),
        )
        .orderBy("fold")
    )


_CV_LEAK_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         {sql_portable_hash(f"'{_FOLD_SALT}' || CAST(doc_id AS VARCHAR)")} % {N_FOLDS} AS fold,
         md5(array_to_string(list_sort(list_distinct({sql_tokens()})), ' ')) AS fingerprint
  FROM documents),
spread AS (
  SELECT fingerprint, COUNT(DISTINCT fold) AS n_folds
  FROM keyed GROUP BY fingerprint)
SELECT fold,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_folds > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked_docs,
       COUNT(DISTINCT CASE WHEN n_folds > 1 THEN fingerprint END) AS n_leaked_fingerprints,
       CAST(FLOOR(CAST(SUM(CASE WHEN n_folds > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS leak_frac
FROM keyed JOIN spread USING (fingerprint)
GROUP BY fold
ORDER BY fold
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "cv_fold_leakage_report": cv_fold_leakage_report,
    "dedup_fingerprint": dedup_fingerprint,
    "dedup_token_savings": dedup_token_savings,
    "doc_ngram_novelty": doc_ngram_novelty,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "ngram_containment_pairs": ngram_containment_pairs,
    "minhash_signatures": minhash_signatures,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "lsh_jaccard_tau_sweep": lsh_jaccard_tau_sweep,
    "lsh_cap_report": lsh_cap_report,
    "minhash_estimate_audit": minhash_estimate_audit,
    "simhash_fingerprints": simhash_fingerprints,
    "simhash_hamming_pairs": simhash_hamming_pairs,
    "near_dup_detector_agreement": near_dup_detector_agreement,
    "near_dup_clusters": near_dup_clusters,
    "frequent_shingles": frequent_shingles,
    "near_dup_cluster_sizes": near_dup_cluster_sizes,
    "near_dup_canonicals": near_dup_canonicals,
    "minhash_delta_probe": minhash_delta_probe,
    "training_corpus_mix": training_corpus_mix,
    "split_leakage_compare": split_leakage_compare,
    "decontamination_report": decontamination_report,
    "decontamination_policy_sweep": decontamination_policy_sweep,
}

ORACLES = {
    "dedup_exact": _DEDUP_EXACT_SQL,
    "cv_fold_leakage_report": _CV_LEAK_SQL,
    "dedup_fingerprint": _DEDUP_FP_SQL,
    "dedup_token_savings": _DEDUP_SAVINGS_SQL,
    "doc_ngram_novelty": _NOVELTY_SQL,
    "ngram_jaccard_pairs": _NGRAM_JACCARD_SQL,
    "ngram_containment_pairs": _NGRAM_CONTAINMENT_SQL,
    "minhash_signatures": _MINHASH_SIG_SQL,
    "minhash_lsh_pairs": _sql_lsh_pairs(),
    "lsh_jaccard_tau_sweep": _sql_lsh_tau_sweep(),
    "lsh_cap_report": _LSH_CAP_REPORT_SQL,
    "minhash_estimate_audit": _sql_minhash_audit(),
    "simhash_fingerprints": _sql_simhash(),
    "simhash_hamming_pairs": _sql_simhash_hamming_pairs(),
    "near_dup_detector_agreement": _sql_detector_agreement(),
    "near_dup_clusters": _sql_near_dup_clusters(),
    "frequent_shingles": _FREQ_SHINGLES_SQL,
    "near_dup_cluster_sizes": _sql_near_dup_cluster_sizes(),
    "near_dup_canonicals": _sql_near_dup_canonicals(),
    "minhash_delta_probe": _sql_delta_probe(),
    "training_corpus_mix": _sql_training_corpus_mix(),
    "split_leakage_compare": _sql_split_leakage(),
    "decontamination_report": _DECONTAM_SQL,
    "decontamination_policy_sweep": _sql_decon_policy_sweep(),
}
