"""Similarity search over the `embeddings` table (array<float>, 64-dim).

Brute-force cosine top-k as the correctness baseline, plus an LSH-bucketed
variant as the scale path. All vector math is JVM-side higher-order
functions (zip_with + aggregate = sequential fold, deterministic order) on
double-cast arrays. The only Python is two grouped pandas calls
(`applyInPandas`) that run small-state loops in exact integers: the PCA
power iteration over the d×d Gram and the MMR greedy picks per query.

Scale notes (100 TB): brute force is O(|Q|·|N|) — fine when the query set is
small and broadcast (as here: queries broadcast, corpus streamed, no shuffle
of the corpus at all). For large |Q| the random-hyperplane LSH variant
bucket-joins on a signature so each query only meets its bucket. At real
scale the corpus side would also be pre-partitioned by signature so probes
prune files (partitionBy(bucket) on write).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import caching
from ..catalog import load_table, spread_small_scan
from ..functions.scalars import round_half_up, sql_round_half_up, sql_tokens, tokens


def _emb_table(spark, sf_dir):
    """The embeddings scan with its map-side parallelism floored
    (catalog.spread_small_scan): every consumer in this module follows the
    scan with heavyweight per-row vector expressions (cosine folds, PQ/ADC
    argmins, k-means distance argmins) whose cost dwarfs one round-robin
    exchange of the narrow (vec_id, embedding) rows — and on any at-scale
    table the spread is a no-op. Selective filters (query vectors,
    deterministic centroid rows) still push below the added exchange."""
    return spread_small_scan(load_table(spark, sf_dir, "embeddings"))


N_QUERIES = 5  # vec_ids [0, N_QUERIES) serve as the query set
TOP_K = 5
DIM = 64

# deterministic ±1 hyperplanes for LSH: sign derived from the portable hash
# of "plane_{p}_{d}" — identical in the SQL twin.
N_PLANES = 8


def _dot(a: F.Column, b: F.Column) -> F.Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _cosine(a: F.Column, b: F.Column) -> F.Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


# DuckDB twins: list_reduce without an init arg left-folds from the first
# element, so prepending 0.0 reproduces Spark's aggregate(lst, 0.0, +) fold
# order exactly. Arrays are cast to DOUBLE[] so accumulation error matches.
def _sql_fold_sum(list_expr: str) -> str:
    return f"list_reduce(list_prepend(0.0::DOUBLE, {list_expr}), (acc, x) -> acc + x)"


_SQL_DOT_AB = _sql_fold_sum("list_transform(list_zip(a.emb, b.emb), x -> x[1] * x[2])")
# self-dot through the same zip/product shape so float op order matches the
# pair path (and Spark's _cosine) exactly
_SQL_DOT_SELF = _sql_fold_sum("list_transform(list_zip(emb, emb), x -> x[1] * x[2])")


def _sql_norm(alias: str) -> str:
    return f"sqrt({_sql_fold_sum(f'list_transform({alias}.emb, x -> x * x)')})"


def _sql_norm_bare(col: str) -> str:
    return f"sqrt({_sql_fold_sum(f'list_transform({col}, x -> x * x)')})"


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for each query vector against the whole corpus.

    The query set is tiny → broadcast; the corpus is scanned once with no
    shuffle until the final per-query top-k (TakeOrdered per partition via
    window row_number over ≤ |Q| groups).
    """
    emb = _emb_table(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            round_half_up(_cosine(F.col("qemb"), F.col("emb")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


_ANN_BF_SQL = f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
scored AS (
  SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
         CAST(FLOOR(({_SQL_DOT_AB} / ({_sql_norm('a')} * {_sql_norm('b')})) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS cosine
  FROM emb a
  JOIN emb b ON b.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored) t
WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# --- random-hyperplane LSH bucketing (the scale path) ----------------------


def _plane_sign(p: int, d: int) -> int:
    """Deterministic ±1 from md5 — computed in Python at plan-build time so
    both engines receive identical literal hyperplanes."""
    import hashlib

    h = hashlib.md5(f"plane_{p}_{d}".encode()).hexdigest()
    return 1 if int(h[:8], 16) % 2 == 1 else -1


_PLANES = [[_plane_sign(p, d) for d in range(DIM)] for p in range(N_PLANES)]


def _signature(emb_col: F.Column) -> F.Column:
    """N_PLANES-bit signature: bit p = (emb · plane_p) > 0. The planes are
    literal ±1 vectors, so the dot is a signed sequential sum."""
    bits = []
    for p in range(N_PLANES):
        plane = F.array(*[F.lit(float(v)) for v in _PLANES[p]])
        bits.append(F.when(_dot(emb_col, plane) > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    return sum(bits).cast("int")


def _sql_signature(alias: str) -> str:
    terms = []
    for p in range(N_PLANES):
        plane = "[" + ", ".join(f"{float(v)}::DOUBLE" for v in _PLANES[p]) + "]"
        dot = _sql_fold_sum(
            f"list_transform(list_zip({alias}.emb, {plane}), x -> x[1] * x[2])"
        )
        terms.append(f"CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket occupancy of the hyperplane-LSH index — the partition-health
    view an operator checks before trusting probe recall."""
    emb = _emb_table(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    return (
        emb.select(_signature(F.col("emb")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("bucket")
    )


_LSH_HIST_SQL = f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
SELECT {_sql_signature('emb')} AS bucket, COUNT(*) AS n_vectors
FROM emb
GROUP BY bucket
ORDER BY bucket
"""


ANN_BUCKET_CAP = 500  # max candidates probed per LSH bucket


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates limited to the query's own LSH bucket,
    then exact cosine rank within the bucket. The join key is the bucket
    signature → per-bucket work only, no corpus-wide cross join.

    Per-bucket probe cap (VERDICT r1 task 5): bucket occupancy grows
    linearly with the corpus, so an uncapped hot bucket is an unbounded
    per-query scan at 100 TB. Candidates are the first ANN_BUCKET_CAP
    vectors per bucket in vec_id order — a deterministic cut both engines
    compute identically; the rank<=cap filter compiles to WindowGroupLimit
    (partial mode runs map-side), so no task ever buffers a full hot
    bucket. At the test SFs every bucket is far below the cap, so results
    equal the uncapped formulation."""
    emb = _emb_table(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    sig = emb.withColumn("bucket", _signature(F.col("emb")))
    queries = sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"), "bucket"
    )
    w_bucket = Window.partitionBy("bucket").orderBy("vec_id")
    candidates = (
        sig.withColumn("_bpos", F.row_number().over(w_bucket))
        .filter(F.col("_bpos") <= ANN_BUCKET_CAP)
        .drop("_bpos")
    )
    scored = (
        candidates.join(F.broadcast(queries), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            round_half_up(_cosine(F.col("qemb"), F.col("emb")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


_ANN_LSH_SQL = f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
sig AS (SELECT vec_id, emb, {_sql_signature('emb')} AS bucket FROM emb),
candidates AS (
  SELECT vec_id, emb, bucket FROM (
    SELECT vec_id, emb, bucket,
           ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id) AS bpos
    FROM sig) c
  WHERE bpos <= {ANN_BUCKET_CAP}),
scored AS (
  SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
         CAST(FLOOR(({_SQL_DOT_AB} / ({_sql_norm('a')} * {_sql_norm('b')})) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS cosine
  FROM candidates a
  JOIN sig b ON a.bucket = b.bucket AND b.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored) t
WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# --- IVF-style ANN (coarse quantizer → inverted lists → probe) -------------

N_CENTROIDS = 16
NPROBE = 4


def _centroids(emb: DataFrame) -> DataFrame:
    """Deterministic coarse quantizer: the N_CENTROIDS vectors right after
    the query range serve as centroids. At scale these would come from an
    offline k-means; the assignment/probe machinery is identical, and
    determinism keeps the oracle twin exact."""
    return emb.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    ).select(F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb"))


def _ivf_assigned(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, emb, cell): nearest-centroid assignment as a map-side
    argmax — centroids folded into one broadcast row; struct array_min
    over (-cosine, cent_id) = highest cosine, ties to lowest cent_id — the
    corpus never shuffles and never fans out K candidate rows (the
    previous row_number-over-(vec_id) form shuffled it). Centroid norms
    ride in the broadcast array and the row's own norm is computed once
    outside the argmin, so the per-centroid work is ONE cross dot —
    cosine = dot/(row_norm·cent_norm) is the identical IEEE expression
    tree as _cosine, just with the two sqrt factors hoisted. Shared by
    `ann_ivf_topk` and `ann_nprobe_recall_curve`."""
    c_row = cents.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "cent_id",
                    "cemb",
                    F.sqrt(_dot(F.col("cemb"), F.col("cemb"))).alias("cnorm"),
                )
            )
        ).alias("_ce")
    )
    row_norm = F.sqrt(_dot(F.col("emb"), F.col("emb")))
    best = F.array_min(
        F.transform(
            F.col("_ce"),
            lambda e: F.struct(
                (-(_dot(F.col("emb"), e["cemb"]) / (row_norm * e["cnorm"]))).alias("negc"),
                e["cent_id"].alias("cent_id"),
            ),
        )
    )
    return emb.crossJoin(F.broadcast(c_row)).select(
        "vec_id", "emb", best["cent_id"].alias("cell")
    )


def _ivf_probes(emb: DataFrame, cents: DataFrame, max_rn: int) -> DataFrame:
    """(query_id, qemb, cell, rn): each query's `max_rn` closest inverted
    lists, probe rank attached (rn = 1 is the nearest list)."""
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("c"), F.asc("cent_id"))
    return (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"))
        .crossJoin(F.broadcast(cents))
        .withColumn("c", _cosine(F.col("qemb"), F.col("cemb")))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= max_rn)
        .select("query_id", "qemb", F.col("cent_id").alias("cell"), "rn")
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: every corpus vector is assigned to its nearest centroid
    (inverted list); each query probes only its NPROBE closest lists and
    ranks exact cosine inside them.

    Scale path: centroids broadcast (tiny); assignment is one map-side pass
    over the corpus; the search join is keyed on cell id → a query touches
    nprobe/N_CENTROIDS of the data. Written out as `partitionBy(cell)`, the
    lists become prunable files and probes skip ~3/4 of the corpus on disk.
    """
    emb = _emb_table(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cents = _centroids(emb)
    assigned = _ivf_assigned(emb, cents)
    probes = _ivf_probes(emb, cents, NPROBE).select("query_id", "qemb", "cell")
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            round_half_up(_cosine(F.col("qemb"), F.col("emb")), 4).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def _sql_cos(x: str, y: str) -> str:
    dot = _sql_fold_sum(f"list_transform(list_zip({x}, {y}), z -> z[1] * z[2])")
    nx = f"sqrt({_sql_fold_sum(f'list_transform({x}, v -> v * v)')})"
    ny = f"sqrt({_sql_fold_sum(f'list_transform({y}, v -> v * v)')})"
    return f"({dot} / ({nx} * {ny}))"


_ANN_IVF_SQL = f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
cents AS (
  SELECT vec_id AS cent_id, emb AS cemb FROM emb
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}),
assigned AS (
  SELECT vec_id, emb, cent_id AS cell FROM (
    SELECT e.vec_id, e.emb, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sql_cos('e.emb', 'c.cemb')} DESC, c.cent_id ASC) AS rn
    FROM emb e CROSS JOIN cents c) t
  WHERE rn = 1),
probes AS (
  SELECT query_id, qemb, cent_id AS cell FROM (
    SELECT e.vec_id AS query_id, e.emb AS qemb, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sql_cos('e.emb', 'c.cemb')} DESC, c.cent_id ASC) AS rn
    FROM emb e CROSS JOIN cents c
    WHERE e.vec_id < {N_QUERIES}) t
  WHERE rn <= {NPROBE}),
scored AS (
  SELECT p.query_id, a.vec_id,
         CAST(FLOOR({_sql_cos('p.qemb', 'a.emb')} * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS cosine
  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored) t
WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of the IVF index against brute-force ground truth, per
    query — the estimator-quality audit for the ANN ladder (same role as
    `minhash_estimate_audit` for LSH dedup and `fuzzy_blocking_recall` for
    blocking): the number that justifies NPROBE/N_CENTROIDS before
    trusting `ann_ivf_topk` at scale.

    Scale: composes the two existing plans (corpus never shuffles in
    either); the audit joins two K·|Q|-row top-k results — constant-size
    work after the searches themselves. A production run samples queries;
    here the full (tiny) query set is exact.
    """
    bf = ann_bruteforce_topk(spark, sf_dir).select("query_id", "vec_id")
    ivf = ann_ivf_topk(spark, sf_dir).select("query_id", "vec_id")
    truth = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_truth"))
    hits = (
        bf.join(ivf, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        truth.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_truth",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            round_half_up(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("n_truth").cast("double"),
                4,
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def _sql_ann_recall() -> str:
    return f"""
WITH bf AS ({_ANN_BF_SQL}),
ivf AS ({_ANN_IVF_SQL}),
truth AS (SELECT query_id, COUNT(*) AS n_truth FROM bf GROUP BY query_id),
hits AS (
  SELECT b.query_id, COUNT(*) AS n_hits
  FROM bf b JOIN ivf i ON i.query_id = b.query_id AND i.vec_id = b.vec_id
  GROUP BY b.query_id)
SELECT t.query_id,
       CAST(t.n_truth AS BIGINT) AS n_truth,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       {sql_round_half_up("CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(t.n_truth AS DOUBLE)", 4)} AS recall_at_k
FROM truth t LEFT JOIN hits h USING (query_id)
ORDER BY t.query_id
"""


NPROBE_SWEEP = (1, 2, 4, 8, 16)  # 16 = all lists -> the recall=1.0 anchor


def ann_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NPROBE sizing curve: micro-averaged recall@K and average scanned
    candidates per query for each probe budget in NPROBE_SWEEP —
    `ann_recall_audit` justifies ONE operating point; this is the
    cost-vs-recall frontier an operator tunes against before fixing NPROBE
    at scale (the last sweep value probes every list, so its recall row
    must read 1.0 — a built-in self-check).

    Scale: the whole sweep costs ONE search at the largest budget, not one
    search per setting — every candidate is tagged with the probe rank
    that admitted it (a corpus vector lives in exactly one list, so the
    tag is unique per (query, vector)), and each budget's top-k is a
    re-rank of that single candidate set filtered to rn <= budget.
    Corpus-side work is identical to `ann_ivf_topk`: broadcast centroids,
    map-side assignment, equi-join on cell id."""
    emb = _emb_table(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cents = _centroids(emb)
    max_rn = max(NPROBE_SWEEP)
    cand = (
        _ivf_assigned(emb, cents)
        .join(F.broadcast(_ivf_probes(emb, cents, max_rn)), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "rn",
            round_half_up(_cosine(F.col("qemb"), F.col("emb")), 4).alias("cosine"),
        )
    )
    # the tagged candidate set feeds BOTH the per-budget top-k and the
    # per-budget candidate counts — cache it so the corpus assignment +
    # probe join runs once, not once per branch
    cand = caching.materialize(cand, "ann_nprobe_recall_curve.cand")
    budgets = F.explode(F.array(*[F.lit(p) for p in NPROBE_SWEEP])).alias("nprobe")
    c2 = cand.select("*", budgets).filter(F.col("rn") <= F.col("nprobe"))
    w_rank = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    topk = (
        c2.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOP_K)
        .select("nprobe", "query_id", "vec_id")
    )
    truth = ann_bruteforce_topk(spark, sf_dir).select("query_id", "vec_id")
    hits = (
        topk.join(truth, ["query_id", "vec_id"], "left_semi")
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    cand_counts = c2.groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("long").alias("n_cand")
    )
    truth_row = truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        F.countDistinct("query_id").cast("long").alias("n_queries"),
    )
    return (
        cand_counts.join(hits, "nprobe", "left")
        .crossJoin(F.broadcast(truth_row))
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "n_queries",
            "n_truth",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
            round_half_up(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("n_truth").cast("double"),
                4,
            ).alias("micro_recall"),
            round_half_up(
                F.col("n_cand").cast("double") / F.col("n_queries").cast("double"), 4
            ).alias("avg_candidates"),
        )
        .orderBy("nprobe")
    )


def _sql_nprobe_curve() -> str:
    sweep = ", ".join(str(p) for p in NPROBE_SWEEP)
    max_rn = max(NPROBE_SWEEP)
    return f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
cents AS (
  SELECT vec_id AS cent_id, emb AS cemb FROM emb
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}),
assigned AS (
  SELECT vec_id, emb, cent_id AS cell FROM (
    SELECT e.vec_id, e.emb, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sql_cos('e.emb', 'c.cemb')} DESC, c.cent_id ASC) AS rn
    FROM emb e CROSS JOIN cents c) t
  WHERE rn = 1),
probes AS (
  SELECT query_id, qemb, cell, rn FROM (
    SELECT e.vec_id AS query_id, e.emb AS qemb, c.cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sql_cos('e.emb', 'c.cemb')} DESC, c.cent_id ASC) AS rn
    FROM emb e CROSS JOIN cents c
    WHERE e.vec_id < {N_QUERIES}) t
  WHERE rn <= {max_rn}),
cand AS (
  SELECT p.query_id, a.vec_id, p.rn,
         CAST(FLOOR({_sql_cos('p.qemb', 'a.emb')} * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS cosine
  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id),
c2 AS (
  SELECT s.nprobe, c.query_id, c.vec_id, c.cosine
  FROM cand c CROSS JOIN (SELECT unnest([{sweep}]) AS nprobe) s
  WHERE c.rn <= s.nprobe),
topk AS (
  SELECT nprobe, query_id, vec_id FROM (
    SELECT nprobe, query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                              ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM c2) t
  WHERE rank <= {TOP_K}),
bf AS ({_ANN_BF_SQL}),
truth AS (SELECT query_id, vec_id FROM bf),
hits AS (
  SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM topk JOIN truth USING (query_id, vec_id) GROUP BY nprobe),
candn AS (SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_cand FROM c2 GROUP BY nprobe),
tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
              CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries FROM truth)
SELECT CAST(c.nprobe AS INT) AS nprobe,
       tr.n_queries AS n_queries,
       tr.n_truth AS n_truth,
       COALESCE(h.n_hits, 0) AS n_hits,
       {sql_round_half_up("CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(tr.n_truth AS DOUBLE)", 4)} AS micro_recall,
       {sql_round_half_up("CAST(c.n_cand AS DOUBLE) / CAST(tr.n_queries AS DOUBLE)", 4)} AS avg_candidates
FROM candn c LEFT JOIN hits h USING (nprobe) CROSS JOIN tr
ORDER BY nprobe
"""


# --- embedding near-duplicate pairs ---------------------------------------

NEAR_DUP_COSINE = 0.30


NEAR_DUP_TOPK = 5


def embedding_near_dups(
    spark: SparkSession, sf_dir: str, topk: int | None = NEAR_DUP_TOPK
) -> DataFrame:
    """Per-vector top-k near-duplicate neighbors with cosine ≥ threshold,
    restricted to LSH-bucket collisions (the scalable all-pairs shape:
    bucket join, not cross join), with content-level scoring: vectors are
    grouped by EXACT array equality first (re-crawled/mirrored assets embed
    to byte-identical vectors), the bucket join and cosine run once per
    distinct vector value, and per-vector top-k is recovered through a
    ties-inclusive group-rank bound that provably contains the true top-k
    (the same construction as ngram_jaccard_pairs). Bucket membership and
    cosine are pure functions of the vector value, so the output is
    bit-identical to vec-level scoring while a K×-replicated corpus costs
    its distinct corpus. topk=None emits every qualifying pair
    (O(cluster²) output, audit-only).

    Threshold 0.30: the driver's synthetic embeddings are near-isotropic
    (max pairwise cosine ≈ 0.51), so a realistic 0.95 near-dup bar matches
    nothing at any SF; 0.30 keeps the operator shape identical while
    exercising the filter against ~20 true pairs at sf0.01."""
    emb = _emb_table(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    grp = emb.groupBy("emb").agg(
        F.min("vec_id").alias("gid"), F.count(F.lit(1)).alias("g")
    )
    w_m = Window.partitionBy("gid").orderBy("vec_id")
    mem = (
        emb.join(grp.select("emb", "gid"), "emb")
        .select("vec_id", "gid")
        .withColumn("mrank", F.row_number().over(w_m))
    )
    reps = grp.withColumn("bucket", _signature(F.col("emb")))
    a = reps.select(F.col("gid").alias("gid_a"), F.col("emb").alias("emb_a"), "bucket")
    b = reps.select(F.col("gid").alias("gid_b"), F.col("emb").alias("emb_b"), "bucket")
    cross = (
        a.join(b, "bucket")
        .filter(F.col("gid_a") < F.col("gid_b"))
        .select(
            "gid_a",
            "gid_b",
            round_half_up(_cosine(F.col("emb_a"), F.col("emb_b")), 4).alias("cosine"),
        )
    )
    # self-pair of a multi-member group: same formula on (rep, rep) — the
    # identical float ops the vec-level join would run, so the rounded
    # score is bit-identical (≈1.0; a zero vector yields NaN ≥ τ Spark-true
    # but such vectors never reach here — no group pairs with itself twice)
    selfp = grp.filter(F.col("g") >= 2).select(
        F.col("gid").alias("gid_a"),
        F.col("gid").alias("gid_b"),
        round_half_up(_cosine(F.col("emb"), F.col("emb")), 4).alias("cosine"),
    )
    adm = cross.unionByName(selfp).filter(F.col("cosine") >= NEAR_DUP_COSINE)
    if topk is None:
        va = mem.select(F.col("gid").alias("gid_a"), F.col("vec_id").alias("va"))
        vb = mem.select(F.col("gid").alias("gid_b"), F.col("vec_id").alias("vb"))
        return (
            adm.join(va, "gid_a")
            .join(vb, "gid_b")
            .filter((F.col("gid_a") != F.col("gid_b")) | (F.col("va") < F.col("vb")))
            .select(
                F.least("va", "vb").alias("vec_a"),
                F.greatest("va", "vb").alias("vec_b"),
                "cosine",
            )
            .orderBy("vec_a", "vec_b")
        )
    cdir = adm.select(
        F.col("gid_a").alias("gkey"), F.col("gid_b").alias("ngkey"), "cosine"
    ).unionByName(
        adm.filter(F.col("gid_a") != F.col("gid_b")).select(
            F.col("gid_b").alias("gkey"), F.col("gid_a").alias("ngkey"), "cosine"
        )
    )
    from .dedup import _expand_group_topk

    return _expand_group_topk(
        mem.withColumnRenamed("gid", "gkey"), cdir, "cosine", topk, "vec_id"
    )


_NEAR_DUP_SQL = f"""
WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
grp AS (SELECT emb, MIN(vec_id) AS gid, COUNT(*) AS g FROM ev GROUP BY emb),
mem AS (
  SELECT e.vec_id, gr.gid,
         ROW_NUMBER() OVER (PARTITION BY gr.gid ORDER BY e.vec_id) AS mrank
  FROM ev e JOIN grp gr ON gr.emb = e.emb),
reps AS (SELECT gid, emb, g, {_sql_signature('grp')} AS bucket FROM grp),
crossp AS (
  SELECT a.gid AS gid_a, b.gid AS gid_b,
         CAST(FLOOR(({_SQL_DOT_AB} / ({_sql_norm('a')} * {_sql_norm('b')})) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS cosine
  FROM reps a
  JOIN reps b ON a.bucket = b.bucket AND a.gid < b.gid),
selfp AS (
  SELECT gid AS gid_a, gid AS gid_b,
         CAST(FLOOR(({_SQL_DOT_SELF} / ({_sql_norm_bare('emb')} * {_sql_norm_bare('emb')})) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS cosine
  FROM grp WHERE g >= 2),
adm AS (
  SELECT * FROM (SELECT * FROM crossp UNION ALL SELECT * FROM selfp) u
  WHERE cosine >= {NEAR_DUP_COSINE}),
cdir AS (
  SELECT gid_a AS gid, gid_b AS ngid, cosine FROM adm
  UNION ALL
  SELECT gid_b AS gid, gid_a AS ngid, cosine FROM adm WHERE gid_a <> gid_b),
crank AS (
  SELECT * FROM (
    SELECT *, RANK() OVER (PARTITION BY gid ORDER BY cosine DESC) AS cr
    FROM cdir) r
  WHERE cr <= {NEAR_DUP_TOPK}),
mtop AS (SELECT gid, vec_id FROM mem WHERE mrank <= {NEAR_DUP_TOPK + 1}),
cand AS (
  SELECT m.vec_id, mt.vec_id AS neighbor, c.cosine
  FROM mem m
  JOIN crank c ON c.gid = m.gid
  JOIN mtop mt ON mt.gid = c.ngid
  WHERE mt.vec_id <> m.vec_id)
SELECT vec_id, neighbor, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY cosine DESC, neighbor) AS INTEGER) AS rank
  FROM cand) t
WHERE rank <= {NEAR_DUP_TOPK}
ORDER BY vec_id, rank
"""


# --- int8 quantization audit -----------------------------------------------


def embedding_quantize_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per label: reconstruction-error audit of symmetric int8 quantization
    (q_i = round(x_i / s), s = max|x| / 127 — the faiss/SQ8 scheme every
    vector store applies before ANN at scale). Reports mean absolute
    dequantization error and the mean scale, both via scaled-int64 sums so
    partial-aggregation order is irrelevant.

    Wholly JVM-side: transform/aggregate higher-order functions per row
    (embarrassingly parallel), one low-cardinality hash-agg at the end."""
    emb = _emb_table(spark, sf_dir).select(
        "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    scale = F.array_max(F.transform(F.col("emb"), lambda x: F.abs(x))) / F.lit(127.0)
    err_e8 = F.aggregate(
        F.col("emb"),
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.floor(
            F.abs(x - F.floor(x / F.col("s") + F.lit(0.5)) * F.col("s"))
            * F.lit(1e8)
            + F.lit(0.5)
        ).cast("long"),
    )
    per_vec = emb.withColumn("s", scale).select(
        "label",
        F.size("emb").alias("n_dims"),
        err_e8.alias("err_e8"),
        F.floor(F.col("s") * F.lit(1e8) + F.lit(0.5)).cast("long").alias("s_e8"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            round_half_up(
                (F.sum("err_e8").cast("double") / F.lit(1e8))
                / F.sum("n_dims").cast("double"),
                8,
            ).alias("mean_abs_err"),
            round_half_up(
                (F.sum("s_e8").cast("double") / F.lit(1e8))
                / F.count(F.lit(1)).cast("double"),
                8,
            ).alias("mean_scale"),
        )
        .orderBy("label")
    )


_QUANT_SQL = f"""
WITH emb AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
scaled AS (
  SELECT label, emb,
         list_max(list_transform(emb, x -> abs(x))) / 127.0 AS s
  FROM emb),
per_vec AS (
  SELECT label,
         len(emb) AS n_dims,
         list_sum(list_transform(emb,
           x -> CAST(FLOOR(abs(x - FLOOR(x / s + 0.5) * s) * 100000000.0 + 0.5)
                     AS BIGINT))) AS err_e8,
         CAST(FLOOR(s * 100000000.0 + 0.5) AS BIGINT) AS s_e8
  FROM scaled)
SELECT label,
       COUNT(*) AS n_vecs,
       {sql_round_half_up("(CAST(SUM(err_e8) AS DOUBLE) / 100000000.0) / CAST(SUM(n_dims) AS DOUBLE)", 8)} AS mean_abs_err,
       {sql_round_half_up("(CAST(SUM(s_e8) AS DOUBLE) / 100000000.0) / CAST(COUNT(*) AS DOUBLE)", 8)} AS mean_scale
FROM per_vec
GROUP BY label
ORDER BY label
"""


# --- hybrid retrieval: lexical ⊕ vector via reciprocal-rank fusion ----------

RRF_K = 60
RRF_TOP = 10
QUERY_TERMS = ("vector", "merge", "stream")
QUERY_VEC = 0  # vec_id of the query embedding


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: TF-IDF lexical rank fused with embedding-cosine rank by
    reciprocal-rank fusion (RRF, k=60) — the standard two-tower retrieval
    serve path. documents.doc_id and embeddings.vec_id share an id space.

    Determinism/scale notes: IDF is integer-scaled ((N·1000) div df) so the
    lexical score is exact int64 — `ln` differs in the last ulp between
    libm and the JVM, which can flip a rounding at the rank boundary. The
    per-term dfs are ONE corpus aggregate broadcast back (never a per-doc
    subquery). Ranking uses a PROVABLE candidate cut instead of a global
    window (a single-partition sort of every scored doc, the classic
    scale cliff): with M = 2·(RRF_K + RRF_TOP), the vec-tower top-TOP all
    survive the id join (shared id space) and each scores ≥
    1/(RRF_K+RRF_TOP), while any doc outside BOTH tower top-Ms scores
    < 2/(RRF_K+M+1) = 1/(RRF_K+RRF_TOP+0.5) — strictly below the floor —
    so the fused top-TOP is contained in the union of the two tower
    top-Ms. Tower top-Ms are TakeOrderedAndProject (per-partition heaps,
    no global sort); the candidates' EXACT global ranks are then
    comparison counts against the full towers via a broadcast join
    (map-side, embarrassingly parallel) — bit-identical to the
    row_number() formulation at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    emb = _emb_table(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    toks = tokens()
    tf = {
        t: F.size(F.filter(toks, lambda x: x == F.lit(t))).alias(f"tf_{t}")
        for t in QUERY_TERMS
    }
    per_doc = docs.select("doc_id", *tf.values())
    dfs = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in QUERY_TERMS
        ],
    )
    lex = per_doc.crossJoin(F.broadcast(dfs)).select(
        "doc_id",
        sum(
            F.col(f"tf_{t}").cast("long")
            * F.expr(f"(n_docs * CAST(1000 AS BIGINT)) div df_{t}")
            for t in QUERY_TERMS
        ).alias("lex_score"),
    )
    qv = emb.filter(F.col("vec_id") == QUERY_VEC).select(F.col("emb").alias("qemb"))
    vec = (
        emb.crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            round_half_up(_cosine(F.col("emb"), F.col("qemb")), 6).alias("vec_score"),
        )
    )
    # The tower score frames are read by three branches each (top-M cut,
    # candidate lookup, comparison counts); materialize them ONCE so the
    # expensive map work (tokenization / cosine) runs a single time. The
    # materialized frames are narrow — (id, int64) / (id, double) — so this
    # is bytes-per-row cheap at any N, unlike re-tokenizing text 3×.
    lex = caching.materialize(lex, "hybrid_search_rrf.lex")
    vec = caching.materialize(vec, "hybrid_search_rrf.vec")
    m_cut = 2 * (RRF_K + RRF_TOP)  # provable bound — see docstring
    cand = (
        lex.orderBy(F.desc("lex_score"), F.asc("doc_id"))
        .limit(m_cut)
        .select("doc_id")
        .unionByName(
            vec.orderBy(F.desc("vec_score"), F.asc("doc_id"))
            .limit(m_cut)
            .select("doc_id")
        )
        .distinct()
    )
    cand_lex = lex.join(F.broadcast(cand), "doc_id")
    cand_vec = vec.join(F.broadcast(cand), "doc_id")

    def _exact_ranks(tower: DataFrame, cands: DataFrame, score: str, rank_name: str) -> DataFrame:
        """Global rank of each candidate within its full tower, as
        1 + count(strictly-better rows), better = (score DESC, doc_id ASC)
        — identical to row_number() but computed as a broadcast
        comparison-count: no single-partition sort at any N."""
        c = cands.select(
            F.col("doc_id").alias("c_id"), F.col(score).alias("c_score")
        )
        better = (F.col(score) > F.col("c_score")) | (
            (F.col(score) == F.col("c_score")) & (F.col("doc_id") < F.col("c_id"))
        )
        counts = (
            tower.join(F.broadcast(c), better)
            .groupBy("c_id")
            .agg(F.count(F.lit(1)).alias("n_better"))
        )
        return (
            c.join(counts, "c_id", "left")
            .select(
                F.col("c_id").alias("doc_id"),
                (F.coalesce(F.col("n_better"), F.lit(0)) + 1)
                .cast("int")
                .alias(rank_name),
            )
        )

    fused = (
        _exact_ranks(lex, cand_lex, "lex_score", "rank_lex")
        .join(_exact_ranks(vec, cand_vec, "vec_score", "rank_vec"), "doc_id")
        .withColumn(
            "rrf_score",
            round_half_up(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_lex"))
                + F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_vec")),
                6,
            ),
        )
    )
    return (
        fused.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(RRF_TOP)
        .select("doc_id", "rank_lex", "rank_vec", "rrf_score")
    )


def _sql_hybrid() -> str:
    tf_cols = ",\n         ".join(
        f"len(list_filter({sql_tokens()}, x -> x = '{t}')) AS tf_{t}"
        for t in QUERY_TERMS
    )
    df_cols = ",\n         ".join(
        f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in QUERY_TERMS
    )
    lex_sum = " + ".join(
        f"CAST(tf_{t} AS BIGINT) * ((n_docs * CAST(1000 AS BIGINT)) // df_{t})"
        for t in QUERY_TERMS
    )
    cos = f"{_SQL_DOT_AB} / ({_sql_norm('a')} * {_sql_norm('b')})"
    return f"""
WITH per_doc AS (
  SELECT doc_id,
         {tf_cols}
  FROM documents),
dfs AS (
  SELECT COUNT(*) AS n_docs,
         {df_cols}
  FROM per_doc),
lex AS (
  SELECT doc_id, {lex_sum} AS lex_score
  FROM per_doc CROSS JOIN dfs),
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
vec AS (
  SELECT a.vec_id AS doc_id,
         {sql_round_half_up(cos, 6)} AS vec_score
  FROM emb a CROSS JOIN (SELECT emb FROM emb WHERE vec_id = {QUERY_VEC}) b),
-- each tower ranks its OWN full corpus (lex over every document, vec over
-- every embedding) BEFORE the id join — ranking after the join would
-- silently re-rank inside the intersection, which diverges once documents
-- outrank candidates without carrying an embedding (caught by the sf0.1
-- full-registry sweep; the engine ranks full towers by construction)
lex_ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY lex_score DESC, doc_id ASC) AS rank_lex
  FROM lex),
vec_ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY vec_score DESC, doc_id ASC) AS rank_vec
  FROM vec)
SELECT l.doc_id AS doc_id, rank_lex, rank_vec,
       {sql_round_half_up(f"1.0 / ({RRF_K} + rank_lex) + 1.0 / ({RRF_K} + rank_vec)", 6)} AS rrf_score
FROM lex_ranked l JOIN vec_ranked v ON l.doc_id = v.doc_id
ORDER BY rrf_score DESC, doc_id ASC
LIMIT {RRF_TOP}
"""


# --- k-means (fixed-iteration Lloyd's, integer-exact) ----------------------

KMEANS_K = 8
_KM_SCALE = 1_000_000.0  # fixed-point 1e6: embeddings are unit-scale floats


def _scaled_vec(emb_col: F.Column) -> F.Column:
    """array<long> fixed-point vector: round_half_up(x·1e6). All distance
    arithmetic then happens in int64 — order-independent and bit-identical
    across engines (double folds would drift between Spark and the oracle)."""
    return F.transform(
        emb_col.cast("array<double>"),
        lambda x: F.floor(x * F.lit(_KM_SCALE) + F.lit(0.5)).cast("long"),
    )


def _sq_dist(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# NB: an expanded sq-dist (Σx² − 2Σxy + Σy², norms hoisted) was measured
# NEUTRAL-to-worse for the int argmin lambdas here — HOF interpretation
# overhead dominates the arithmetic — so they keep the direct (x−y)² fold
# that mirrors the oracle. The double-cosine hoist in ann_ivf_topk (norms
# precomputed outside the per-centroid lambda) IS a measured win.


def _km_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment, fully map-side: the centroid table is
    folded into ONE row (array of (cid, c) structs), broadcast, and the
    argmin is an array expression per corpus row — the corpus neither
    shuffles nor fans out k candidate rows (the previous row_number-over-
    (vec_id) form shuffled the whole corpus per Lloyd round). Ties break to
    the lowest cluster id via lexicographic struct ordering."""
    cb = cents.agg(F.array_sort(F.collect_list(F.struct("cid", "c"))).alias("_cb"))
    best = F.array_min(
        F.transform(
            F.col("_cb"),
            lambda e: F.struct(
                _sq_dist(F.col("sx"), e["c"]).alias("sqdist"), e["cid"].alias("cid")
            ),
        )
    )
    return vecs.crossJoin(F.broadcast(cb)).select(
        "vec_id", "sx", best["cid"].alias("cid"), best["sqdist"].alias("sqdist")
    )


def _km_update(assigned: DataFrame) -> DataFrame:
    """Centroid recompute: posexplode → per-(cluster, dim) integer mean
    (round-half-up back to the fixed-point grid) → re-assemble ordered
    arrays. One shuffle keyed by (cid, dim) — k·64 cells regardless of
    corpus size (partial aggregation does the heavy lifting map-side)."""
    exploded = assigned.select("cid", F.posexplode("sx").alias("pos", "v"))
    cell = exploded.groupBy("cid", "pos").agg(
        F.floor(F.sum("v").cast("double") / F.count(F.lit(1)).cast("double") + F.lit(0.5))
        .cast("long")
        .alias("cv")
    )
    return cell.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
        ).alias("c")
    )


def _km_final_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final (vec_id, sx, cid, sqdist) after the two fixed Lloyd rounds —
    shared by `kmeans_cluster_stats` and `kmeans_label_purity`."""
    emb = _emb_table(spark, sf_dir)
    vecs = emb.select("vec_id", _scaled_vec(F.col("embedding")).alias("sx"))
    cents = vecs.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("sx").alias("c")
    )
    for _ in range(2):
        assigned = _km_assign(vecs, cents)
        # eager k-row checkpoint per Lloyd round: broadcasting the next
        # round's codebook otherwise re-executes every PREVIOUS round's
        # corpus-sized assignment pass inside the broadcast job (guide
        # §1.2; same fix as `_pq_codebooks`)
        cents = caching.checkpoint(_km_update(assigned), "km_final_assignment.cents")
    return _km_assign(vecs, cents)


def kmeans_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two fixed Lloyd iterations of k-means over the embeddings, seeded from
    the first K vectors; per-cluster membership and inertia.

    The iterative-algorithm pattern on Spark: each round is
    broadcast-assign (map-side) + one tiny (k·dim)-cell aggregation, so the
    per-iteration cost is one corpus scan and the loop count is a plan-time
    constant — no driver collect of anything larger than k centroids.
    Fixed-point int64 vectors make every distance and centroid exactly
    reproducible in the ANSI twin (no float-accumulation drift).
    """
    final = _km_final_assignment(spark, sf_dir)
    return (
        final.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            round_half_up(
                (F.sum("sqdist").cast("double") / F.lit(_KM_SCALE * _KM_SCALE))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_sqdist"),
        )
        .orderBy("cid")
    )


def _sql_km_chain() -> str:
    """CTE chain 'vecs … a3' (final assignment) — shared by the cluster
    stats twin and the label-purity twin."""
    sx = (
        "list_transform(CAST(embedding AS DOUBLE[]), "
        f"x -> CAST(FLOOR(x * {_KM_SCALE} + 0.5) AS BIGINT))"
    )
    dist = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(list_zip(v.sx, c.c), x -> (x[1] - x[2]) * (x[1] - x[2]))), "
        "(acc, x) -> acc + x)"
    )

    def assign(vecs: str, cents: str) -> str:
        return f"""
  SELECT vec_id, sx, cid, sqdist FROM (
    SELECT v.vec_id, v.sx, c.cid, {dist} AS sqdist,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist}, c.cid) AS rn
    FROM {vecs} v CROSS JOIN {cents} c) t
  WHERE rn = 1"""

    update = """
  SELECT cid, list(cv ORDER BY pos) AS c FROM (
    SELECT cid, i AS pos,
           CAST(FLOOR(CAST(SUM(sx[i]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS cv
    FROM {src}, generate_series(1, 64) AS g(i)
    GROUP BY cid, i) cells
  GROUP BY cid"""

    return f"""vecs AS (SELECT vec_id, {sx} AS sx FROM embeddings),
c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, sx AS c FROM vecs WHERE vec_id < {KMEANS_K}),
a1 AS ({assign('vecs', 'c0')}),
c1 AS ({update.format(src='a1')}),
a2 AS ({assign('vecs', 'c1')}),
c2 AS ({update.format(src='a2')}),
a3 AS ({assign('vecs', 'c2')})"""


def _sql_kmeans() -> str:
    return f"""
WITH {_sql_km_chain()}
SELECT cid, COUNT(*) AS n_members,
       {sql_round_half_up(f"(CAST(SUM(sqdist) AS DOUBLE) / {_KM_SCALE * _KM_SCALE}) / CAST(COUNT(*) AS DOUBLE)", 6)} AS mean_sqdist
FROM a3
GROUP BY cid
ORDER BY cid
"""


# --- product quantization (PQ) ADC search -----------------------------------
#
# The remaining rung of the ANN ladder after brute-force / LSH / IVF: compress
# each vector to M subspace code ids against per-subspace codebooks, then
# answer queries with an asymmetric-distance (ADC) table lookup — the memory
# layout that makes billion-vector search feasible (codes are M bytes, not
# 4·dim). Codebooks come from the same fixed-point integer Lloyd's as
# kmeans_cluster_stats, so encode + ADC are bit-exact against the ANSI twin.

PQ_M = 4  # subspaces
PQ_SUB = 16  # dims per subspace (4 × 16 = the 64-dim embeddings)
PQ_K = 8  # codes per subspace
PQ_ITERS = 2
PQ_TOP = 10


def _pq_subvectors(vecs: DataFrame) -> DataFrame:
    """(vec_id, m, sv): each fixed-point vector split into PQ_M contiguous
    PQ_SUB-dim subvectors — the single definition of the subspace layout
    shared by training, encoding, and both query paths."""
    return vecs.select(
        "vec_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                lambda m: F.struct(
                    m.alias("m"),
                    F.slice(F.col("sx"), m * PQ_SUB + 1, PQ_SUB).alias("sv"),
                ),
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def _pq_cb_row(cents: DataFrame) -> DataFrame:
    """All M codebooks folded into one broadcastable row: a sorted array of
    (m, cid, c) structs — M·K entries regardless of corpus size."""
    return cents.agg(F.array_sort(F.collect_list(F.struct("m", "cid", "c"))).alias("_cb"))


def _pq_best(sv: F.Column, m: F.Column) -> F.Column:
    """struct(d, cid) of the nearest codeword to subvector `sv` in codebook
    `m`, evaluated against the broadcast `_cb` array — pure map-side
    expression, ties to the lowest cid via lexicographic struct ordering.
    """
    cands = F.filter(F.col("_cb"), lambda e: e["m"] == m)
    return F.array_min(
        F.transform(
            cands,
            lambda e: F.struct(_sq_dist(sv, e["c"]).alias("d"), e["cid"].alias("cid")),
        )
    )


def _pq_assign(subs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-codeword assignment per (m, vec_id): the codebooks collapse
    to one broadcast row and the argmin is an array expression — the
    subvector frame never shuffles and never fans out K candidate rows
    (the previous row_number-over-(m, vec_id) form shuffled the corpus)."""
    return (
        subs.crossJoin(F.broadcast(_pq_cb_row(cents)))
        .select("m", "vec_id", "sv", _pq_best(F.col("sv"), F.col("m"))["cid"].alias("cid"))
    )


def _pq_codebooks(vecs: DataFrame) -> DataFrame:
    """Per-subspace codebooks: (m, cid, c[16]) after PQ_ITERS Lloyd rounds
    over the subvectors, seeded from the first PQ_K vectors. One frame holds
    all M codebooks (subspace id is just another grouping key), so training
    is M parallel little k-means in a single plan."""
    # every Lloyd round re-reads the full subvector frame (assignment +
    # cell means) — cache it once so training rounds after the
    # first read one materialization instead of re-running the scan +
    # scale + explode per round (round-9 verdict task 4, guide §1.2)
    subs = caching.materialize(_pq_subvectors(vecs), "pq_codebooks.subs")
    cents = subs.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").cast("int").alias("cid"), F.col("sv").alias("c")
    )
    for _ in range(PQ_ITERS):
        assigned = _pq_assign(subs, cents)
        cell = assigned.select("m", "cid", F.posexplode("sv").alias("pos", "v")).groupBy(
            "m", "cid", "pos"
        ).agg(
            F.floor(
                F.sum("v").cast("double") / F.count(F.lit(1)).cast("double") + F.lit(0.5)
            )
            .cast("long")
            .alias("cv")
        )
        cents = cell.groupBy("m", "cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
            ).alias("c")
        )
        # Eagerly materialize each round's codebooks (M·K rows): without
        # this, every later broadcast of `_pq_cb_row(cents)` — the next
        # Lloyd round's assignment AND each query path's encode/ADC pass —
        # re-executed the ENTIRE chain of previous rounds' corpus-sized
        # assignment passes inside the broadcast job (guide §1.2: each
        # round's plan referenced the previous round's, so corpus passes
        # multiplied instead of adding). Iteration state as a (tiny) table.
        cents = caching.checkpoint(cents, "pq_codebooks.cents")
    return cents


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K nearest vectors to QUERY_VEC under PQ asymmetric distance,
    with the exact distance alongside (the approximation-quality audit).

    Plan shape for 100 TB: codebooks (M·K rows) broadcast twice — once to
    encode the corpus (map-side row_number over M·K candidates per vector,
    no shuffle of the corpus) and once as the query's ADC table (M·K
    precomputed integer distances). The scan carries only (vec_id, codes)
    after encoding — M small ints per vector, the PQ compression story —
    and the final top-k is a TakeOrderedAndProject. Composing with
    `ann_ivf_topk`'s list-pruning gives standard IVF-PQ; here the probe is
    exhaustive over codes so the oracle twin stays a pure expression."""
    emb = _emb_table(spark, sf_dir)
    vecs = emb.select("vec_id", _scaled_vec(F.col("embedding")).alias("sx"))
    cents = _pq_codebooks(vecs)

    # One broadcast row carries the codebooks, the query vector, and the
    # precomputed ADC entries (per (m, cid) the int64 distance from the
    # query's m-th subvector to that codeword). Encoding + ADC lookup +
    # exact audit distance are then ONE map-side pass over the corpus —
    # no explode, no per-vector groupBy, no corpus shuffle — finished by a
    # TakeOrderedAndProject.
    qv = vecs.filter(F.col("vec_id") == QUERY_VEC).select(F.col("sx").alias("qsx"))
    ctx = (
        _pq_cb_row(cents)
        .crossJoin(F.broadcast(qv))
        .select(
            "qsx",
            F.transform(
                F.col("_cb"),
                lambda e: F.struct(
                    e["m"].alias("m"),
                    e["cid"].alias("cid"),
                    _sq_dist(
                        F.slice(F.col("qsx"), e["m"] * PQ_SUB + 1, PQ_SUB), e["c"]
                    ).alias("d"),
                ),
            ).alias("_adc"),
            F.col("_cb"),
        )
    )

    def _adc_d(m: int) -> F.Column:
        # the query-side distance of this vector's chosen code in subspace m
        cid = _pq_best(F.slice(F.col("sx"), m * PQ_SUB + 1, PQ_SUB), F.lit(m))["cid"]
        return F.element_at(
            F.filter(F.col("_adc"), lambda a: (a["m"] == F.lit(m)) & (a["cid"] == cid)), 1
        )["d"]

    approx_sqdist = sum(_adc_d(m) for m in range(PQ_M)).cast("long")
    return (
        vecs.crossJoin(F.broadcast(ctx))
        .filter(F.col("vec_id") != QUERY_VEC)
        .select(
            "vec_id",
            approx_sqdist.alias("approx_sqdist"),
            _sq_dist(F.col("sx"), F.col("qsx")).alias("exact_sqdist"),
        )
        .orderBy("approx_sqdist", "vec_id")
        .limit(PQ_TOP)
    )


# shared ANSI fragments for the PQ family (used by _sql_pq and _sql_ivfpq)
_PQ_SQL_SX = (
    "list_transform(CAST(embedding AS DOUBLE[]), "
    f"x -> CAST(FLOOR(x * {_KM_SCALE} + 0.5) AS BIGINT))"
)


def _pq_sql_int_dist(a: str, b: str) -> str:
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(list_zip({a}, {b}), x -> (x[1] - x[2]) * (x[1] - x[2]))), "
        "(acc, x) -> acc + x)"
    )


_PQ_SQL_UPDATE = f"""
  SELECT m, cid, list(cv ORDER BY pos) AS c FROM (
    SELECT m, cid, i AS pos,
           CAST(FLOOR(CAST(SUM(sv[i]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS cv
    FROM {{src}}, generate_series(1, {PQ_SUB}) AS g(i)
    GROUP BY m, cid, i) cells
  GROUP BY m, cid"""


def _sql_pq() -> str:
    sx = (
        "list_transform(CAST(embedding AS DOUBLE[]), "
        f"x -> CAST(FLOOR(x * {_KM_SCALE} + 0.5) AS BIGINT))"
    )
    dist_sv_c = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(list_zip(s.sv, c.c), x -> (x[1] - x[2]) * (x[1] - x[2]))), "
        "(acc, x) -> acc + x)"
    )

    def assign(subs: str, cents: str) -> str:
        return f"""
  SELECT m, vec_id, sv, cid FROM (
    SELECT s.m, s.vec_id, s.sv, c.cid, {dist_sv_c} AS sqdist,
           ROW_NUMBER() OVER (PARTITION BY s.m, s.vec_id
                              ORDER BY {dist_sv_c}, c.cid) AS rn
    FROM {subs} s JOIN {cents} c ON s.m = c.m) t
  WHERE rn = 1"""

    update = f"""
  SELECT m, cid, list(cv ORDER BY pos) AS c FROM (
    SELECT m, cid, i AS pos,
           CAST(FLOOR(CAST(SUM(sv[i]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS cv
    FROM {{src}}, generate_series(1, {PQ_SUB}) AS g(i)
    GROUP BY m, cid, i) cells
  GROUP BY m, cid"""

    return f"""
WITH vecs AS (SELECT vec_id, {sx} AS sx FROM embeddings),
subs AS (
  SELECT vec_id, m, sx[(m * {PQ_SUB} + 1):(m * {PQ_SUB} + {PQ_SUB})] AS sv
  FROM vecs, generate_series(0, {PQ_M - 1}) AS g(m)),
c0 AS (SELECT m, CAST(vec_id AS INTEGER) AS cid, sv AS c
       FROM subs WHERE vec_id < {PQ_K}),
a1 AS ({assign('subs', 'c0')}),
c1 AS ({update.format(src='a1')}),
a2 AS ({assign('subs', 'c1')}),
c2 AS ({update.format(src='a2')}),
codes AS ({assign('subs', 'c2')}),
qsubs AS (SELECT m, sv AS qsv FROM subs WHERE vec_id = {QUERY_VEC}),
adc AS (
  SELECT c.m, c.cid,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(list_zip(q.qsv, c.c), x -> (x[1] - x[2]) * (x[1] - x[2]))),
           (acc, x) -> acc + x) AS d
  FROM c2 c JOIN qsubs q ON c.m = q.m),
approx AS (
  SELECT k.vec_id, CAST(SUM(a.d) AS BIGINT) AS approx_sqdist
  FROM codes k JOIN adc a ON k.m = a.m AND k.cid = a.cid
  GROUP BY k.vec_id),
exact AS (
  SELECT v.vec_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(list_zip(v.sx, q.sx), x -> (x[1] - x[2]) * (x[1] - x[2]))),
           (acc, x) -> acc + x) AS exact_sqdist
  FROM vecs v CROSS JOIN (SELECT sx FROM vecs WHERE vec_id = {QUERY_VEC}) q)
SELECT a.vec_id, a.approx_sqdist, e.exact_sqdist
FROM approx a JOIN exact e ON a.vec_id = e.vec_id
WHERE a.vec_id <> {QUERY_VEC}
ORDER BY a.approx_sqdist, a.vec_id
LIMIT {PQ_TOP}
"""


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the production serving path — coarse cells prune the corpus
    (probe NPROBE of N_CENTROIDS inverted lists), PQ ADC ranks within the
    probed lists. Proves the composition `ann_ivf_topk`'s list pruning ×
    `ann_pq_topk`'s compressed ranking as ONE declarative plan.

    Integer-exact end to end: the coarse step uses int64 squared-L2 to the
    same deterministic centroid vectors as `ann_ivf_topk` (L2, not cosine,
    so the whole pipeline shares one metric with PQ), the fine step reuses
    `_pq_codebooks`. Scale shape: both quantizers broadcast; the corpus is
    touched by exactly one map-side assignment each and never shuffles;
    the probe is an equi-join on cell id (NPROBE/N_CENTROIDS of the data),
    then a broadcast ADC lookup and TakeOrderedAndProject."""
    emb = _emb_table(spark, sf_dir)
    vecs = emb.select("vec_id", _scaled_vec(F.col("embedding")).alias("sx"))
    coarse = vecs.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    ).select(F.col("vec_id").alias("cent_id"), F.col("sx").alias("cx"))
    cents = _pq_codebooks(vecs)

    # Broadcast context row: coarse centroids (as a sorted struct array),
    # PQ codebooks, query vector, and the query's precomputed ADC entries.
    # Cell assignment + PQ encode + ADC sum are then ONE map-side pass over
    # the corpus; the probe filter is a broadcast semi-join on the derived
    # cell id; TakeOrderedAndProject finishes.
    qv = vecs.filter(F.col("vec_id") == QUERY_VEC).select(F.col("sx").alias("qsx"))
    co_row = coarse.agg(
        F.array_sort(F.collect_list(F.struct("cent_id", "cx"))).alias("_co")
    )
    ctx = (
        _pq_cb_row(cents)
        .crossJoin(F.broadcast(co_row))
        .crossJoin(F.broadcast(qv))
        .select(
            "_co",
            "_cb",
            "qsx",
            F.transform(
                F.col("_cb"),
                lambda e: F.struct(
                    e["m"].alias("m"),
                    e["cid"].alias("cid"),
                    _sq_dist(
                        F.slice(F.col("qsx"), e["m"] * PQ_SUB + 1, PQ_SUB), e["c"]
                    ).alias("d"),
                ),
            ).alias("_adc"),
        )
    )
    nearest_cell = lambda v: F.array_min(  # noqa: E731 — ties to lowest cent_id
        F.transform(
            F.col("_co"),
            lambda e: F.struct(
                _sq_dist(v, e["cx"]).alias("d"), e["cent_id"].alias("cent_id")
            ),
        )
    )["cent_id"]
    probed = (
        qv.crossJoin(F.broadcast(coarse))
        .withColumn("d", _sq_dist(F.col("qsx"), F.col("cx")))
        .orderBy("d", "cent_id")
        .limit(NPROBE)
        .select(F.col("cent_id").alias("cell"))
    )

    def _adc_d(m: int) -> F.Column:
        cid = _pq_best(F.slice(F.col("sx"), m * PQ_SUB + 1, PQ_SUB), F.lit(m))["cid"]
        return F.element_at(
            F.filter(F.col("_adc"), lambda a: (a["m"] == F.lit(m)) & (a["cid"] == cid)), 1
        )["d"]

    approx_sqdist = sum(_adc_d(m) for m in range(PQ_M)).cast("long")
    return (
        vecs.crossJoin(F.broadcast(ctx))
        .filter(F.col("vec_id") != QUERY_VEC)
        .withColumn("cell", nearest_cell(F.col("sx")))
        .join(F.broadcast(probed), "cell")  # prune to probed lists BEFORE encoding
        .select("vec_id", "cell", approx_sqdist.alias("approx_sqdist"))
        .orderBy("approx_sqdist", "vec_id")
        .limit(PQ_TOP)
    )


def _sql_ivfpq() -> str:
    sx = (
        "list_transform(CAST(embedding AS DOUBLE[]), "
        f"x -> CAST(FLOOR(x * {_KM_SCALE} + 0.5) AS BIGINT))"
    )

    def int_dist(a: str, b: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(list_zip({a}, {b}), x -> (x[1] - x[2]) * (x[1] - x[2]))), "
            "(acc, x) -> acc + x)"
        )

    dist_sv_c = int_dist("s.sv", "c.c")

    def assign(subs: str, cents: str) -> str:
        return f"""
  SELECT m, vec_id, sv, cid FROM (
    SELECT s.m, s.vec_id, s.sv, c.cid, {dist_sv_c} AS sqdist,
           ROW_NUMBER() OVER (PARTITION BY s.m, s.vec_id
                              ORDER BY {dist_sv_c}, c.cid) AS rn
    FROM {subs} s JOIN {cents} c ON s.m = c.m) t
  WHERE rn = 1"""

    update = f"""
  SELECT m, cid, list(cv ORDER BY pos) AS c FROM (
    SELECT m, cid, i AS pos,
           CAST(FLOOR(CAST(SUM(sv[i]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS cv
    FROM {{src}}, generate_series(1, {PQ_SUB}) AS g(i)
    GROUP BY m, cid, i) cells
  GROUP BY m, cid"""

    return f"""
WITH vecs AS (SELECT vec_id, {sx} AS sx FROM embeddings),
coarse AS (
  SELECT vec_id AS cent_id, sx AS cx FROM vecs
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}),
cells AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT v.vec_id, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {int_dist('v.sx', 'c.cx')}, c.cent_id) AS rn
    FROM vecs v CROSS JOIN coarse c) t
  WHERE rn = 1),
subs AS (
  SELECT vec_id, m, sx[(m * {PQ_SUB} + 1):(m * {PQ_SUB} + {PQ_SUB})] AS sv
  FROM vecs, generate_series(0, {PQ_M - 1}) AS g(m)),
c0 AS (SELECT m, CAST(vec_id AS INTEGER) AS cid, sv AS c
       FROM subs WHERE vec_id < {PQ_K}),
a1 AS ({assign('subs', 'c0')}),
c1 AS ({update.format(src='a1')}),
a2 AS ({assign('subs', 'c1')}),
c2 AS ({update.format(src='a2')}),
codes AS ({assign('subs', 'c2')}),
probed AS (
  SELECT c.cent_id AS cell
  FROM vecs q CROSS JOIN coarse c
  WHERE q.vec_id = {QUERY_VEC}
  ORDER BY {int_dist('q.sx', 'c.cx')}, c.cent_id
  LIMIT {NPROBE}),
qsubs AS (SELECT m, sv AS qsv FROM subs WHERE vec_id = {QUERY_VEC}),
adc AS (
  SELECT c.m, c.cid, {int_dist('q.qsv', 'c.c')} AS d
  FROM c2 c JOIN qsubs q ON c.m = q.m),
cand AS (
  SELECT ce.vec_id, ce.cell FROM cells ce JOIN probed p ON ce.cell = p.cell
  WHERE ce.vec_id <> {QUERY_VEC})
SELECT k.vec_id, k.cell, CAST(SUM(a.d) AS BIGINT) AS approx_sqdist
FROM cand k
JOIN codes co ON co.vec_id = k.vec_id
JOIN adc a ON a.m = co.m AND a.cid = co.cid
GROUP BY k.vec_id, k.cell
ORDER BY approx_sqdist, k.vec_id
LIMIT {PQ_TOP}
"""


# --- per-dimension embedding health -------------------------------------------

# dead dimension: variance < 1e-6 (integer cross-multiplied in 1e12 units)
_DEAD_VAR_E12 = 1_000_000


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance of the embedding space with a dead-dim
    flag — collapsed dimensions (variance ≈ 0) waste index space and can
    silently dominate quantizers; this is the feature-health report run
    before PQ/IVF codebook training.

    Exactness: moments are int64 sums over the 1e6 fixed-point grid;
    variance = (n·Σx² − (Σx)²)/n² with the dead test cross-multiplied in
    integers (n·Σx² − (Σx)² < n²·1e-6·1e12), so the flag is exact; the
    displayed mean/variance are single IEEE divisions, round-half-up 6dp.

    Scale: posexplode to (dim, value) → dim-keyed agg = 64 cells; fully
    map-side combined.
    """
    emb = _emb_table(spark, sf_dir)
    cells = (
        emb.select(F.posexplode(_scaled_vec(F.col("embedding"))).alias("pos", "v"))
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sx"),
            F.sum(F.col("v") * F.col("v")).alias("sxx"),
        )
    )
    num = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return cells.select(
        F.col("pos").cast("long").alias("dim"),
        "n",
        round_half_up(F.col("sx").cast("double") / F.col("n").cast("double") / F.lit(_KM_SCALE), 6).alias("mean"),
        round_half_up(
            num.cast("double")
            / (F.col("n") * F.col("n")).cast("double")
            / F.lit(_KM_SCALE * _KM_SCALE),
            6,
        ).alias("variance"),
        (num < F.col("n") * F.col("n") * F.lit(_DEAD_VAR_E12)).alias("is_dead"),
    ).orderBy("dim")


_DIM_STATS_SQL = f"""
WITH cells AS (
  SELECT pos, COUNT(*) AS n, SUM(v) AS sx, SUM(v * v) AS sxx
  FROM (
    SELECT unnest(list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(FLOOR(x * {_KM_SCALE} + 0.5) AS BIGINT))) AS v,
           unnest(range(0, len(embedding))) AS pos
    FROM embeddings) t
  GROUP BY pos)
SELECT CAST(pos AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
       {sql_round_half_up(f"CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / {_KM_SCALE}", 6)} AS mean,
       {sql_round_half_up(f"CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * n AS DOUBLE) / {_KM_SCALE * _KM_SCALE}", 6)} AS variance,
       (n * sxx - sx * sx) < n * n * {_DEAD_VAR_E12} AS is_dead
FROM cells
ORDER BY dim
"""


# --- clustering quality vs ground-truth labels --------------------------------


def kmeans_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External clustering-quality report: per k-means cluster, the
    majority ground-truth `label`, its share (purity), and the label
    entropy denominator inputs — the evaluation a clustering-based
    curation step (SemDeDup-style) runs against labeled eval data before
    trusting cluster-level decisions on the unlabeled corpus.

    Determinism: majority = highest count, ties to the smallest label
    (struct-max on (count, −label), identical in the twin). Purity is
    integer round-half-up. Assignment is the shared fixed-point Lloyd
    final pass (`_km_final_assignment`), bit-identical to
    `kmeans_cluster_stats`.

    Scale: (cluster, label) cells — k·|labels|, tiny — after the same
    broadcast-assign corpus scan as the stats query.
    """
    emb = _emb_table(spark, sf_dir)
    final = _km_final_assignment(spark, sf_dir)
    cells = (
        final.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cid", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = cells.groupBy("cid").agg(
        F.sum("cnt").alias("n_members"),
        F.count(F.lit(1)).alias("n_labels"),
        F.max(F.struct(F.col("cnt").alias("cnt"), (-F.col("label")).alias("neg_label"))).alias("t"),
    )
    return top.select(
        "cid",
        "n_members",
        "n_labels",
        (-F.col("t.neg_label")).cast("long").alias("majority_label"),
        F.col("t.cnt").alias("majority_n"),
        (
            F.expr("(t.cnt * 20000 + n_members) div (2 * n_members)").cast("double")
            / F.lit(10000.0)
        ).alias("purity"),
    ).orderBy("cid")


def _sql_km_purity() -> str:
    return f"""
WITH {_sql_km_chain()},
cells AS (
  SELECT a3.cid, e.label, COUNT(*) AS cnt
  FROM a3 JOIN embeddings e USING (vec_id)
  GROUP BY 1, 2),
top AS (
  SELECT cid,
         SUM(cnt) AS n_members,
         COUNT(*) AS n_labels,
         MAX(struct_pack(cnt := cnt, neg_label := -label)) AS t
  FROM cells GROUP BY cid)
SELECT cid,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(n_labels AS BIGINT) AS n_labels,
       CAST(-t.neg_label AS BIGINT) AS majority_label,
       CAST(t.cnt AS BIGINT) AS majority_n,
       CAST((t.cnt * 20000 + n_members) // (2 * n_members) AS DOUBLE) / 10000.0 AS purity
FROM top
ORDER BY cid
"""


def incremental_ivf_update(
    existing: DataFrame, new_vecs: DataFrame, cents: DataFrame
) -> DataFrame:
    """Append-only IVF index maintenance: assign ONLY the new vector batch
    to the FIXED coarse quantizer and union with the existing assignment —
    the nightly-ingest path that avoids re-assigning the whole corpus
    (the `incremental_minhash_update` pattern applied to the vector
    index). Centroids are deliberately frozen: production IVF retrains
    the quantizer on a schedule, not per batch, because moving centroids
    invalidates every existing list assignment.

    Args: `existing` = (vec_id, sx, cid, sqdist) as produced by
    `_km_assign`; `new_vecs` = (vec_id, sx); `cents` = (cid, c).
    A left-anti guard drops already-indexed vec_ids so replaying a batch
    is a no-op (at-least-once ingest → exactly-once index).

    Scale: the anti-join ships only vec_ids; the assignment is the usual
    broadcast-centroid map over the NEW batch alone — O(|batch|·k·dim),
    independent of corpus size.
    """
    fresh = (
        new_vecs.dropDuplicates(["vec_id"])  # intra-batch redelivery guard
        .join(existing.select("vec_id"), "vec_id", "left_anti")
    )
    return existing.unionByName(_km_assign(fresh, cents))


# --- SemDeDup-style cluster pruning -----------------------------------------

SEMDEDUP_TAU = 0.30  # prune threshold (synthetic embeddings are near-isotropic)
SEMDEDUP_CAP = 100  # members examined per cluster for the pairwise stage


def _semdedup_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(mem, ex, pairs): the cluster-member frame (with per-cluster rank and
    fixed-point self-dot), its SEMDEDUP_CAP-bounded examined subset, and the
    intra-cluster cosine pairs (va < vb, cos quantized to the 1e-4 grid) —
    the ONE pairwise pass shared by `semdedup_prune_report` (fixed τ) and
    `semdedup_tau_sweep` (τ grid)."""
    final = _km_final_assignment(spark, sf_dir)
    w_m = Window.partitionBy("cid").orderBy("vec_id")
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    mem = (
        final.select("vec_id", "cid", "sx")
        .withColumn("mrank", F.row_number().over(w_m))
        .withColumn("n2", dot(F.col("sx"), F.col("sx")))
    )
    # the capped examined set is ≤ k·SEMDEDUP_CAP rows and feeds BOTH sides
    # of the pairwise join plus the examined-count aggregate — cache it so
    # the corpus-sized rank window runs once, not once per branch
    ex = caching.materialize(mem.filter(F.col("mrank") <= SEMDEDUP_CAP), "semdedup_frames.ex")
    a = ex.select("cid", F.col("vec_id").alias("va"), F.col("sx").alias("xa"), F.col("n2").alias("na"))
    b = ex.select("cid", F.col("vec_id").alias("vb"), F.col("sx").alias("xb"), F.col("n2").alias("nb"))
    pairs = (
        a.join(b, "cid")
        .filter(F.col("va") < F.col("vb"))
        .select(
            "cid",
            "va",
            "vb",
            round_half_up(
                dot(F.col("xa"), F.col("xb")).cast("double")
                / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
                4,
            ).alias("cos"),
        )
    )
    return mem, ex, pairs


def semdedup_prune_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup (SemDeDup-shape) pruning report: partition the corpus
    with the shared fixed-point k-means assignment, compute pairwise cosine
    WITHIN each cluster only, and prune every vector that duplicates
    (cos ≥ τ) a lower-id member of its own cluster. Per cluster: members,
    examined, pruned, prune rate, max intra-cluster cosine — the report
    that sizes a semantic-dedup pass before committing to it on the real
    corpus.

    Prune rule (parallelizable variant of the greedy chain): x is pruned
    iff ∃ y in the same cluster with y.vec_id < x.vec_id and
    cos(x, y) ≥ τ. Keeps the smallest id of every duplicate cohort —
    deterministic, EXISTS-expressible, no sequential dependency.

    Scale (100 TB): the whole point of the k-means partition is that
    pairwise work is per-cluster, never corpus²; residual giant clusters
    are bounded by the SEMDEDUP_CAP examined-members cap (smallest ids —
    the kept side of the rule), with `n_members` vs `n_examined` making
    the cap VISIBLE per cluster (the no-silent-caps rule; raise K so
    clusters fit the cap in production). Cosines run on the int64
    fixed-point grid shared with the Lloyd pass — bit-identical twins,
    scale cancels in the ratio.
    """
    mem, ex, pairs = _semdedup_frames(spark, sf_dir)
    n_members = mem.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    pruned = (
        pairs.filter(F.col("cos") >= SEMDEDUP_TAU)
        .select("cid", "vb")
        .distinct()
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_pruned"))
    )
    pair_stats = pairs.groupBy("cid").agg(F.max("cos").alias("max_intra_cosine"))
    examined = ex.groupBy("cid").agg(F.count(F.lit(1)).alias("n_examined"))
    return (
        n_members.join(examined, "cid")
        .join(pruned, "cid", "left")
        .join(pair_stats, "cid", "left")
        .select(
            "cid",
            "n_members",
            "n_examined",
            F.coalesce(F.col("n_pruned"), F.lit(0)).cast("long").alias("n_pruned"),
            (
                F.expr(
                    "(coalesce(n_pruned, 0) * 20000 + n_examined) div (2 * n_examined)"
                ).cast("double")
                / 10000.0
            ).alias("prune_rate"),
            F.coalesce(F.col("max_intra_cosine"), F.lit(0.0)).alias("max_intra_cosine"),
        )
        .orderBy("cid")
    )


def _sql_semdedup_ctes() -> str:
    """The mem/ex/pairs CTE chain shared by `_sql_semdedup` and
    `_sql_tau_sweep` — the SQL twin of `_semdedup_frames`."""
    dot = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(list_zip({a}, {b}), x -> x[1] * x[2])), (acc, x) -> acc + x)"
    )
    return f"""{_sql_km_chain()},
mem AS (
  SELECT vec_id, cid, sx,
         ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id) AS mrank,
         {dot.format(a='sx', b='sx')} AS n2
  FROM a3),
ex AS (SELECT * FROM mem WHERE mrank <= {SEMDEDUP_CAP}),
pairs AS (
  SELECT a.cid, a.vec_id AS va, b.vec_id AS vb,
         CAST(FLOOR((CAST({dot.format(a='a.sx', b='b.sx')} AS DOUBLE)
               / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS cos
  FROM ex a JOIN ex b ON a.cid = b.cid AND a.vec_id < b.vec_id)"""


def _sql_semdedup() -> str:
    return f"""
WITH {_sql_semdedup_ctes()},
nmem AS (SELECT cid, COUNT(*) AS n_members FROM mem GROUP BY cid),
pruned AS (
  SELECT cid, COUNT(*) AS n_pruned FROM (
    SELECT DISTINCT cid, vb FROM pairs WHERE cos >= {SEMDEDUP_TAU}) d
  GROUP BY cid),
pstats AS (SELECT cid, MAX(cos) AS max_intra_cosine FROM pairs GROUP BY cid),
examined AS (SELECT cid, COUNT(*) AS n_examined FROM ex GROUP BY cid)
SELECT n.cid, n.n_members, e.n_examined,
       CAST(COALESCE(p.n_pruned, 0) AS BIGINT) AS n_pruned,
       CAST((COALESCE(p.n_pruned, 0) * 20000 + e.n_examined) // (2 * e.n_examined) AS DOUBLE) / 10000.0 AS prune_rate,
       COALESCE(s.max_intra_cosine, 0.0) AS max_intra_cosine
FROM nmem n
JOIN examined e ON e.cid = n.cid
LEFT JOIN pruned p ON p.cid = n.cid
LEFT JOIN pstats s ON s.cid = n.cid
ORDER BY n.cid
"""


# τ grid for the sweep: the span a semantic-dedup rollout actually tunes
# over (synthetic embeddings are near-isotropic, so the interesting knee
# sits low). Values chosen so each parses to the identical double literal
# in Spark and DuckDB.
SEMDEDUP_TAU_GRID = [0.20, 0.25, 0.30, 0.35, 0.40, 0.50]


def semdedup_tau_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold tuning curve for semantic dedup: corpus-level prune counts
    at every τ in SEMDEDUP_TAU_GRID from ONE pairwise pass — the curve that
    picks `SEMDEDUP_TAU` before committing a prune to the real corpus
    (`semdedup_prune_report` then details the chosen τ per cluster). Per τ:
    qualifying pairs, vectors pruned (the keep-smallest-id rule), examined
    survivors, and the prune percentage.

    Plan shape: reuses `_semdedup_frames`' cluster-bounded pairs (never
    corpus²), reduces them to ONE row per candidate victim (max cosine to a
    lower-id cluster-mate — sufficient statistic for EVERY τ at once), and
    evaluates the whole grid as conditional sums in a single aggregate; the
    grid fan-out is a constant-size `stack` over three 1-row broadcast
    frames. Adding a τ re-prices the curve without re-running the pairwise
    stage — at 100 TB the sweep costs the same as one fixed-τ report.
    """
    _, ex, pairs = _semdedup_frames(spark, sf_dir)
    victims = pairs.groupBy("vb").agg(F.max("cos").alias("max_lower_cos"))
    v_agg = victims.agg(
        *[
            F.coalesce(
                F.sum((F.col("max_lower_cos") >= F.lit(t)).cast("long")), F.lit(0)
            ).alias(f"pruned_{i}")
            for i, t in enumerate(SEMDEDUP_TAU_GRID)
        ]
    )
    p_agg = pairs.agg(
        *[
            F.coalesce(F.sum((F.col("cos") >= F.lit(t)).cast("long")), F.lit(0)).alias(
                f"pairs_{i}"
            )
            for i, t in enumerate(SEMDEDUP_TAU_GRID)
        ]
    )
    e_agg = ex.agg(F.count(F.lit(1)).alias("n_examined"))
    stack_args = ", ".join(
        f"CAST({t!r} AS DOUBLE), pairs_{i}, pruned_{i}"
        for i, t in enumerate(SEMDEDUP_TAU_GRID)
    )
    rows = (
        v_agg.crossJoin(F.broadcast(p_agg))
        .crossJoin(F.broadcast(e_agg))
        .selectExpr(
            f"stack({len(SEMDEDUP_TAU_GRID)}, {stack_args}) AS (tau, n_pairs, n_pruned)",
            "n_examined",
        )
    )
    return rows.select(
        "tau",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_pruned").cast("long").alias("n_pruned"),
        (F.col("n_examined") - F.col("n_pruned")).cast("long").alias("n_kept_examined"),
        round_half_up(
            F.col("n_pruned").cast("double") / F.col("n_examined").cast("double") * 100.0,
            4,
        ).alias("prune_pct"),
    ).orderBy("tau")


def _sql_tau_sweep() -> str:
    taus = ", ".join(f"{t!r}::DOUBLE" for t in SEMDEDUP_TAU_GRID)
    return f"""
WITH {_sql_semdedup_ctes()},
victims AS (SELECT vb, MAX(cos) AS max_lower_cos FROM pairs GROUP BY vb),
taus AS (SELECT unnest([{taus}]) AS tau),
ex_n AS (SELECT COUNT(*) AS n_examined FROM ex),
grid AS (
  SELECT t.tau,
         CAST(COALESCE(SUM(CASE WHEN p.cos >= t.tau THEN 1 END), 0) AS BIGINT) AS n_pairs
  FROM taus t LEFT JOIN pairs p ON TRUE GROUP BY t.tau),
vgrid AS (
  SELECT t.tau,
         CAST(COALESCE(SUM(CASE WHEN v.max_lower_cos >= t.tau THEN 1 END), 0) AS BIGINT)
           AS n_pruned
  FROM taus t LEFT JOIN victims v ON TRUE GROUP BY t.tau)
SELECT g.tau, g.n_pairs, vg.n_pruned,
       CAST(e.n_examined - vg.n_pruned AS BIGINT) AS n_kept_examined,
       {sql_round_half_up("CAST(vg.n_pruned AS DOUBLE) / CAST(e.n_examined AS DOUBLE) * 100.0", 4)} AS prune_pct
FROM grid g
JOIN vgrid vg ON vg.tau = g.tau
CROSS JOIN ex_n e
ORDER BY g.tau
"""


# --- incremental semantic dedup: O(delta) admission ---------------------------

SEM_DELTA_MOD = 5  # vec_id % 5 == 4 plays the "new batch" (mirrors dedup.DELTA_MOD)


def _sem_delta_cond() -> F.Column:
    return (F.col("vec_id") % F.lit(SEM_DELTA_MOD)) == F.lit(SEM_DELTA_MOD - 1)


def _sem_seed_ids() -> list[int]:
    """First KMEANS_K corpus (non-delta) vec_ids — the deterministic seeds
    of the FROZEN quantizer that existed before the new batch arrived."""
    ids: list[int] = []
    i = 0
    while len(ids) < KMEANS_K:
        if i % SEM_DELTA_MOD != SEM_DELTA_MOD - 1:
            ids.append(i)
        i += 1
    return ids


def incremental_semdedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic-dedup admission: a DELTA batch of new vectors
    (the deterministic vec_id % SEM_DELTA_MOD == SEM_DELTA_MOD−1 slice)
    probed against the semantic index of the already-ingested corpus — the
    vector twin of `minhash_delta_probe`, completing the incremental
    triad (`minhash_delta_probe` lexical / `incremental_ivf_update` ANN
    maintenance / this one semantic dedup). The index is FROZEN at what
    existed before the batch: Lloyd runs on the corpus slice only (seeded
    from its first K vectors), delta vectors are assigned to those frozen
    centroids map-side, and each delta vector is compared ONLY to the
    SEMDEDUP_CAP smallest-id corpus members of its own cell — never corpus
    × corpus, never delta × delta. Per delta vector: its cell, the cell's
    examined corpus members (cap visibility), corpus duplicates at
    SEMDEDUP_TAU, the max corpus cosine, the first (min-id) duplicate, and
    the keep/drop `is_novel` verdict a daily embedding ingest needs.

    Scale (100 TB): the corpus assignment + capped members persist as the
    index, bucketed by cell; a new batch broadcasts the (tiny) frozen
    centroid table, assigns itself in one map pass, and equi-joins the
    index on cell id — cost O(|delta| · cap), no corpus rescan. Same
    int64 fixed-point grid as the batch SemDeDup family, so estimates are
    bit-identical to what a full rebuild would score.
    """
    emb = _emb_table(spark, sf_dir)
    vecs = emb.select("vec_id", _scaled_vec(F.col("embedding")).alias("sx"))
    corpus = vecs.filter(~_sem_delta_cond())
    delta = vecs.filter(_sem_delta_cond())
    cents = corpus.filter(F.col("vec_id").isin(_sem_seed_ids())).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("sx").alias("c")
    )
    for _ in range(2):
        # eager k-row checkpoint per Lloyd round (same fix as
        # `_km_final_assignment`): broadcasting a later round's codebook
        # otherwise replays every previous round's corpus pass
        cents = caching.checkpoint(_km_update(_km_assign(corpus, cents)), "incremental_semdedup_probe.cents")
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    w_m = Window.partitionBy("cid").orderBy("vec_id")
    idx = (
        _km_assign(corpus, cents)
        .select("vec_id", "cid", "sx")
        .withColumn("mrank", F.row_number().over(w_m))
        .filter(F.col("mrank") <= SEMDEDUP_CAP)
        .select(
            F.col("vec_id").alias("cvec"),
            "cid",
            F.col("sx").alias("cx"),
            dot(F.col("sx"), F.col("sx")).alias("cn2"),
        )
    )
    cell_sizes = idx.groupBy("cid").agg(F.count(F.lit(1)).alias("n_cell_corpus"))
    da = _km_assign(delta, cents).select(
        F.col("vec_id").alias("dvec"),
        "cid",
        F.col("sx").alias("dx"),
        dot(F.col("sx"), F.col("sx")).alias("dn2"),
    )
    pairs = da.join(idx, "cid").select(
        "dvec",
        "cvec",
        round_half_up(
            dot(F.col("dx"), F.col("cx")).cast("double")
            / (F.sqrt(F.col("dn2").cast("double")) * F.sqrt(F.col("cn2").cast("double"))),
            4,
        ).alias("cos"),
    )
    per = pairs.groupBy("dvec").agg(
        F.sum((F.col("cos") >= F.lit(SEMDEDUP_TAU)).cast("long")).alias("n_corpus_dups"),
        F.max("cos").alias("max_corpus_cosine"),
        F.min(F.when(F.col("cos") >= F.lit(SEMDEDUP_TAU), F.col("cvec"))).alias(
            "first_dup_vec"
        ),
    )
    return (
        da.select("dvec", "cid")
        .join(F.broadcast(cell_sizes), "cid", "left")
        .join(per, "dvec", "left")
        .select(
            F.col("dvec").alias("vec_id"),
            F.col("cid").cast("long").alias("cell"),
            F.coalesce(F.col("n_cell_corpus"), F.lit(0)).cast("long").alias(
                "n_cell_corpus"
            ),
            F.coalesce(F.col("n_corpus_dups"), F.lit(0)).cast("long").alias(
                "n_corpus_dups"
            ),
            F.coalesce(F.col("max_corpus_cosine"), F.lit(0.0)).alias(
                "max_corpus_cosine"
            ),
            "first_dup_vec",
            (F.coalesce(F.col("n_corpus_dups"), F.lit(0)) == 0)
            .cast("int")
            .alias("is_novel"),
        )
        .orderBy("vec_id")
    )


def _sql_incr_semdedup() -> str:
    sx = (
        "list_transform(CAST(embedding AS DOUBLE[]), "
        f"x -> CAST(FLOOR(x * {_KM_SCALE} + 0.5) AS BIGINT))"
    )
    dist = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(list_zip(v.sx, c.c), x -> (x[1] - x[2]) * (x[1] - x[2]))), "
        "(acc, x) -> acc + x)"
    )

    def assign(vecs: str, cents: str) -> str:
        return f"""
  SELECT vec_id, sx, cid FROM (
    SELECT v.vec_id, v.sx, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist}, c.cid) AS rn
    FROM {vecs} v CROSS JOIN {cents} c) t
  WHERE rn = 1"""

    update = f"""
  SELECT cid, list(cv ORDER BY pos) AS c FROM (
    SELECT cid, i AS pos,
           CAST(FLOOR(CAST(SUM(sx[i]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS cv
    FROM {{src}}, generate_series(1, {DIM}) AS g(i)
    GROUP BY cid, i) cells
  GROUP BY cid"""

    dotf = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(list_zip({a}, {b}), x -> x[1] * x[2])), (acc, x) -> acc + x)"
    )
    seeds = ", ".join(str(i) for i in _sem_seed_ids())
    return f"""
WITH vecs AS (SELECT vec_id, {sx} AS sx FROM embeddings),
corp AS (SELECT * FROM vecs WHERE vec_id % {SEM_DELTA_MOD} <> {SEM_DELTA_MOD - 1}),
delt AS (SELECT * FROM vecs WHERE vec_id % {SEM_DELTA_MOD} = {SEM_DELTA_MOD - 1}),
c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, sx AS c FROM corp WHERE vec_id IN ({seeds})),
a1 AS ({assign('corp', 'c0')}),
c1 AS ({update.format(src='a1')}),
a2 AS ({assign('corp', 'c1')}),
c2 AS ({update.format(src='a2')}),
a3 AS ({assign('corp', 'c2')}),
idx AS (
  SELECT vec_id AS cvec, cid, sx AS cx, {dotf.format(a='sx', b='sx')} AS cn2
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id) AS mrank
        FROM a3) m
  WHERE mrank <= {SEMDEDUP_CAP}),
csize AS (SELECT cid, COUNT(*) AS n_cell_corpus FROM idx GROUP BY cid),
da AS (
  SELECT vec_id AS dvec, cid, sx AS dx, {dotf.format(a='sx', b='sx')} AS dn2
  FROM ({assign('delt', 'c2')}) d),
pairs AS (
  SELECT da.dvec, i.cvec,
         CAST(FLOOR((CAST({dotf.format(a='da.dx', b='i.cx')} AS DOUBLE)
               / (sqrt(CAST(da.dn2 AS DOUBLE)) * sqrt(CAST(i.cn2 AS DOUBLE)))) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS cos
  FROM da JOIN idx i USING (cid)),
per AS (
  SELECT dvec,
         CAST(SUM(CASE WHEN cos >= {SEMDEDUP_TAU} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_corpus_dups,
         MAX(cos) AS max_corpus_cosine,
         MIN(CASE WHEN cos >= {SEMDEDUP_TAU} THEN cvec END) AS first_dup_vec
  FROM pairs GROUP BY dvec)
SELECT da.dvec AS vec_id,
       CAST(da.cid AS BIGINT) AS cell,
       CAST(COALESCE(cs.n_cell_corpus, 0) AS BIGINT) AS n_cell_corpus,
       CAST(COALESCE(p.n_corpus_dups, 0) AS BIGINT) AS n_corpus_dups,
       COALESCE(p.max_corpus_cosine, 0.0) AS max_corpus_cosine,
       p.first_dup_vec,
       CAST(CASE WHEN COALESCE(p.n_corpus_dups, 0) = 0 THEN 1 ELSE 0 END AS INT)
         AS is_novel
FROM da
LEFT JOIN csize cs ON cs.cid = da.cid
LEFT JOIN per p ON p.dvec = da.dvec
ORDER BY vec_id
"""


# --- embedding norm QA --------------------------------------------------------

# healthy band for unit-normalized embeddings: ‖x‖ ∈ [0.9, 1.1]
_NORM2_LO = int(0.81 * 1e12)
_NORM2_HI = int(1.21 * 1e12)


def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row vector-store QA gate: counts of zero vectors and vectors
    whose L2 norm falls outside the unit band [0.9, 1.1] — the two classes
    of broken embeddings (failed encoder call → zeros; missed
    normalization → off-unit norms) that silently poison cosine ANN. Run
    before building any index.

    Exactness: norms are computed in the 1e6 fixed-point grid
    (`_scaled_vec`), so norm² is an exact int64 in 1e12 units and every
    band compare is integer — no sqrt, no float anywhere.

    Scale: pure per-row map + one global 4-counter aggregation; nothing
    shuffles but four partial sums.
    """
    emb = _emb_table(spark, sf_dir)
    n2 = F.aggregate(
        F.transform(_scaled_vec(F.col("embedding")), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    flags = emb.select(
        (n2 == 0).cast("long").alias("is_zero"),
        ((n2 > 0) & (n2 < F.lit(_NORM2_LO))).cast("long").alias("is_low"),
        (n2 > F.lit(_NORM2_HI)).cast("long").alias("is_high"),
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("is_zero").alias("n_zero"),
        F.sum("is_low").alias("n_low_norm"),
        F.sum("is_high").alias("n_high_norm"),
        (
            F.count(F.lit(1)) - F.sum("is_zero") - F.sum("is_low") - F.sum("is_high")
        ).alias("n_ok"),
    )


_NORM_AUDIT_SQL = f"""
WITH n2t AS (
  SELECT list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)
                    * CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT))),
           (acc, x) -> acc + x) AS n2
  FROM embeddings)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       CAST(SUM(CASE WHEN n2 > 0 AND n2 < {_NORM2_LO} THEN 1 ELSE 0 END) AS BIGINT) AS n_low_norm,
       CAST(SUM(CASE WHEN n2 > {_NORM2_HI} THEN 1 ELSE 0 END) AS BIGINT) AS n_high_norm,
       CAST(SUM(CASE WHEN n2 > 0 AND n2 >= {_NORM2_LO} AND n2 <= {_NORM2_HI} THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
FROM n2t
"""


# --- per-source centroid similarity ----------------------------------------


def source_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-source mean embeddings — the
    domain-closeness matrix a data-mixing decision reads (two sources with
    cosine ≈ 1 are redundant; a distant one adds diversity). Embeddings
    attach to documents by the shared id space (vec_id = doc_id).

    Exactness: vectors go to 1e6 fixed point; per-(source, dim) means use
    the same integer round-half-up as k-means' centroid update; dot and
    norm accumulate in int64. The only floats are the final sqrt/divide,
    identical IEEE ops on identical integers in both engines, then
    round-half-up display.

    Scale (100 TB): corpus collapses to |sources|·dim cells in one
    partial-aggregated shuffle; the pairwise stage is |sources|² · dim on
    cells — a broadcast-scale relation, never the corpus. Same
    cells-not-corpus re-aggregation story as `lang_source_chi2`.
    """
    emb = _emb_table(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    vecs = emb.join(docs, "vec_id").select(
        "source", _scaled_vec(F.col("embedding")).alias("sx")
    )
    cells = caching.materialize(
        vecs.select("source", F.posexplode("sx").alias("pos", "v"))
        .groupBy("source", "pos")
        .agg(
            F.floor(
                F.sum("v").cast("double") / F.count(F.lit(1)).cast("double") + F.lit(0.5)
            )
            .cast("long")
            .alias("m")
        ),
        "source_centroid_similarity.cells",
    )
    norms = cells.groupBy("source").agg(F.sum(F.col("m") * F.col("m")).alias("n2"))
    a = cells.select(F.col("source").alias("source_a"), "pos", F.col("m").alias("ma"))
    b = cells.select(F.col("source").alias("source_b"), "pos", F.col("m").alias("mb"))
    dots = (
        a.join(b, "pos")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("ma") * F.col("mb")).alias("dot"))
    )
    return (
        dots.join(
            F.broadcast(norms.withColumnRenamed("source", "source_a").withColumnRenamed("n2", "n2_a")),
            "source_a",
        )
        .join(
            F.broadcast(norms.withColumnRenamed("source", "source_b").withColumnRenamed("n2", "n2_b")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            round_half_up(
                F.col("dot").cast("double")
                / (F.sqrt(F.col("n2_a").cast("double")) * F.sqrt(F.col("n2_b").cast("double"))),
                6,
            ).alias("cosine"),
        )
        .orderBy("source_a", "source_b")
    )


_CENTROID_SIM_SQL = f"""
WITH vecs AS (
  SELECT d.source,
         list_transform(CAST(e.embedding AS DOUBLE[]),
                        x -> CAST(FLOOR(x * {_KM_SCALE} + 0.5) AS BIGINT)) AS sx
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
cells AS (
  SELECT source, pos,
         CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS m
  FROM (SELECT source, unnest(sx) AS v,
               unnest(range(1, len(sx) + 1)) AS pos
        FROM vecs) t
  GROUP BY source, pos),
norms AS (SELECT source, SUM(m * m) AS n2 FROM cells GROUP BY source),
dots AS (
  SELECT a.source AS source_a, b.source AS source_b, SUM(a.m * b.m) AS dot
  FROM cells a JOIN cells b ON a.pos = b.pos AND a.source < b.source
  GROUP BY 1, 2)
SELECT source_a, source_b,
       {sql_round_half_up("CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))", 6)}
         AS cosine
FROM dots
JOIN norms na ON na.source = source_a
JOIN norms nb ON nb.source = source_b
ORDER BY source_a, source_b
"""


# --- contrastive-training mining -------------------------------------------
#
# Embedding-model training (contrastive / metric learning) needs mined
# pairs: for each anchor, the most-similar vectors of a DIFFERENT class
# ("hard negatives" — the examples the model currently confuses) and the
# least-similar vector of the SAME class (the "hardest positive"). Both are
# one broadcast-anchors scan over the corpus — the exact shape of
# ann_bruteforce_topk — with a label predicate; at 100 TB the scorer swaps
# in the IVF candidate path (broadcast centroids + NPROBE cells, see
# ann_ivf_topk) unchanged, because the label filter composes with any
# candidate generator.

ANCHOR_MOD = 25
ANCHOR_CAP = 500  # anchors = vec_id % 25 == 0 AND vec_id < 500 → exactly 20


def _anchor_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, query_label, vec_id, label, cosine) for every
    (anchor, corpus) pair, self excluded. Anchors are a FIXED-SIZE
    deterministic panel (modulo sample capped by id), so |anchors| is a
    constant and the pair stage is O(n·A) — linear in the corpus. The
    first cut used an uncapped modulo sample: anchors grew WITH the
    corpus and the scale gate flagged 119×/52× wall for 10× data — the
    quadratic-by-construction class the pair-report rework eliminated."""
    emb = _emb_table(spark, sf_dir).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    anchors = emb.filter(
        (F.col("vec_id") % ANCHOR_MOD == 0) & (F.col("vec_id") < ANCHOR_CAP)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("emb").alias("qemb"),
    )
    return (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "query_label",
            "vec_id",
            "label",
            round_half_up(_cosine(F.col("qemb"), F.col("emb")), 4).alias("cosine"),
        )
    )


def hard_negative_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-anchor top-k most-similar OTHER-class vectors — the hard
    negatives a contrastive batch builder samples. Output is O(|anchors|·k)
    by construction; the per-anchor window groups on ≤ |anchors| keys
    (WindowGroupLimit prunes per partition before the shuffle)."""
    scored = _anchor_scored(spark, sf_dir).filter(
        F.col("label") != F.col("query_label")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "query_label",
            "vec_id",
            F.col("label").alias("neg_label"),
            "cosine",
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def triplet_margin_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-anchor (hardest positive, hardest negative, margin) — the
    triplet-mining table: margin = cos(anchor, hardest same-class) −
    cos(anchor, closest other-class); margin < 0 flags an active triplet
    (the anchor's nearest neighbor is currently the wrong class). One
    aggregation pass over the scored pairs — min/max of (cosine, vec_id)
    structs, deterministic under ties — so the result is one row per
    anchor regardless of corpus size. Anchors missing either peer kind
    (no same-class or no other-class vector in the corpus) are dropped:
    a triplet needs both ends, and the explicit filter keeps the Spark
    output aligned with the oracle's pos⋈neg join even on degenerate
    label distributions (r4 ADVICE)."""
    scored = _anchor_scored(spark, sf_dir)
    same = F.col("label") == F.col("query_label")
    agg = scored.groupBy("query_id", "query_label").agg(
        F.min(
            F.when(same, F.struct(F.col("cosine"), F.col("vec_id")))
        ).alias("pos"),
        F.min(
            F.when(~same, F.struct((-F.col("cosine")).alias("nc"), F.col("vec_id")))
        ).alias("neg"),
    )
    return (
        agg.where(F.col("pos").isNotNull() & F.col("neg").isNotNull())
        .select(
            "query_id",
            "query_label",
            F.col("pos.vec_id").alias("pos_vec_id"),
            F.col("pos.cosine").alias("pos_cosine"),
            F.col("neg.vec_id").alias("neg_vec_id"),
            (-F.col("neg.nc")).alias("neg_cosine"),
            round_half_up(F.col("pos.cosine") + F.col("neg.nc"), 4).alias("margin"),
        )
        .orderBy("query_id")
    )


_HARD_NEG_SQL = f"""
WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
scored AS (
  SELECT b.vec_id AS query_id, b.label AS query_label,
         a.vec_id AS vec_id, a.label AS neg_label,
         CAST(FLOOR(({_SQL_DOT_AB} / ({_sql_norm('a')} * {_sql_norm('b')})) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS cosine
  FROM emb a
  JOIN emb b ON b.vec_id % {ANCHOR_MOD} = 0 AND b.vec_id < {ANCHOR_CAP}
            AND a.vec_id <> b.vec_id AND a.label <> b.label)
SELECT query_id, query_label, vec_id, neg_label, cosine, rank FROM (
  SELECT query_id, query_label, vec_id, neg_label, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored) t
WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""

_TRIPLET_SQL = f"""
WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
scored AS (
  SELECT b.vec_id AS query_id, b.label AS query_label,
         a.vec_id AS vec_id, a.label AS label,
         CAST(FLOOR(({_SQL_DOT_AB} / ({_sql_norm('a')} * {_sql_norm('b')})) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS cosine
  FROM emb a
  JOIN emb b ON b.vec_id % {ANCHOR_MOD} = 0 AND b.vec_id < {ANCHOR_CAP} AND a.vec_id <> b.vec_id),
pos AS (
  SELECT query_id, query_label, vec_id AS pos_vec_id, cosine AS pos_cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine ASC, vec_id ASC) AS rn
  FROM scored WHERE label = query_label),
neg AS (
  SELECT query_id, vec_id AS neg_vec_id, cosine AS neg_cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM scored WHERE label <> query_label)
SELECT p.query_id, p.query_label, p.pos_vec_id, p.pos_cosine,
       n.neg_vec_id, n.neg_cosine,
       CAST(FLOOR((p.pos_cosine - n.neg_cosine) * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS margin
FROM pos p JOIN neg n ON n.query_id = p.query_id AND n.rn = 1
WHERE p.rn = 1
ORDER BY p.query_id
"""


# --- active learning: uncertainty (margin) sampling --------------------------

UNCERTAIN_K = 20


def uncertainty_sampling_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based uncertainty sampling over the k-means geometry: per
    vector, the gap between its nearest and second-nearest centroid
    distance — the smallest margins are the most cluster-ambiguous points,
    the ones an active-learning loop sends for labeling first. Returns the
    UNCERTAIN_K most ambiguous vectors.

    Same fixed-point integer Lloyd's as kmeans_cluster_stats (two rounds,
    first-K seed), so the margin is an exact int64 difference. Selection
    orders on the raw integer margin (ties → vec_id), so the pick is
    deterministic even where the e6-rounded display value ties.

    Scale: assignment is the broadcast-codebook argmin — taking the top-2
    instead of the min is the same one-row array expression — and the
    selection is TakeOrderedAndProject. One corpus scan per Lloyd round +
    one for the margin; nothing shuffles but k·dim cells.
    """
    emb = _emb_table(spark, sf_dir)
    vecs = emb.select("vec_id", _scaled_vec(F.col("embedding")).alias("sx"))
    cents = vecs.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("sx").alias("c")
    )
    for _ in range(2):
        # eager k-row checkpoint per Lloyd round (same fix as
        # `_km_final_assignment`)
        cents = caching.checkpoint(_km_update(_km_assign(vecs, cents)), "uncertainty_sampling_topk.cents")
    cb = cents.agg(F.array_sort(F.collect_list(F.struct("cid", "c"))).alias("_cb"))
    ranked = F.array_sort(
        F.transform(
            F.col("_cb"),
            lambda e: F.struct(
                _sq_dist(F.col("sx"), e["c"]).alias("sqdist"), e["cid"].alias("cid")
            ),
        )
    )
    two = vecs.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        ranked[0]["cid"].alias("best_cid"),
        ranked[0]["sqdist"].alias("_d1"),
        ranked[1]["cid"].alias("second_cid"),
        ranked[1]["sqdist"].alias("_d2"),
    )
    return (
        two.select(
            "vec_id",
            "best_cid",
            "second_cid",
            (F.col("_d2") - F.col("_d1")).alias("_margin_raw"),
            round_half_up(
                (F.col("_d2") - F.col("_d1")).cast("double")
                / F.lit(_KM_SCALE * _KM_SCALE),
                6,
            ).alias("margin"),
        )
        .orderBy(F.asc("_margin_raw"), F.asc("vec_id"))
        .limit(UNCERTAIN_K)
        .drop("_margin_raw")
    )


def _sql_uncertainty() -> str:
    dist = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(list_zip(v.sx, c.c), x -> (x[1] - x[2]) * (x[1] - x[2]))), "
        "(acc, x) -> acc + x)"
    )
    return f"""
WITH {_sql_km_chain()},
two AS (
  SELECT vec_id, cid, sqdist,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sqdist, cid) AS rn
  FROM (SELECT v.vec_id, c.cid, {dist} AS sqdist
        FROM vecs v CROSS JOIN c2 c) t
  QUALIFY rn <= 2),
wide AS (
  SELECT vec_id,
         MAX(CASE WHEN rn = 1 THEN cid END) AS best_cid,
         MAX(CASE WHEN rn = 2 THEN cid END) AS second_cid,
         MAX(CASE WHEN rn = 2 THEN sqdist END)
           - MAX(CASE WHEN rn = 1 THEN sqdist END) AS margin_raw
  FROM two GROUP BY vec_id)
SELECT vec_id, best_cid, second_cid,
       {sql_round_half_up(f"CAST(margin_raw AS DOUBLE) / {_KM_SCALE * _KM_SCALE}", 6)}
         AS margin
FROM wide
ORDER BY margin_raw ASC, vec_id ASC
LIMIT {UNCERTAIN_K}
"""


# --- MMR diversified retrieval ------------------------------------------------

MMR_CANDIDATES = 20
MMR_K = 5  # λ = 0.5: rank on sim(q,d) − max sim(d, selected), ×2 implied


def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    from each query's top-MMR_CANDIDATES cosine candidates, greedily pick
    MMR_K results maximizing λ·sim(query, d) − (1−λ)·max sim(d, already
    picked) with λ = 0.5 — the standard redundancy-pruning re-rank that
    keeps a near-duplicate of an already-returned hit from wasting a
    result slot.

    Exactness: similarities are e4 fixed-point int64, and at λ = 0.5 the
    MMR objective is order-equivalent to the integer sq_e4 − max_sel_e4,
    so every greedy pick is exact integer argmax (ties → lower vec_id).
    A query with fewer than MMR_K candidates gets one row per candidate.

    Scale: candidate generation is the ANN shape (broadcast queries, one
    corpus scan, per-query top-C), and Spark scores the C² candidate pairs
    (double-fold cosines, as the oracle folds them). The greedy picks then
    run in one grouped pandas task per query (`applyInPandas`) over its C
    relevances and C·(C−1) integer pair scores — independent of corpus
    size, with no job or checkpoint per pick.
    """
    import numpy as np
    import pandas as pd

    k_max = MMR_K  # a plain value: the worker cannot import this package

    def _greedy(pdf):
        ids = np.unique(pdf["vec_id"].to_numpy())  # ascending: ties → lower vec_id
        a = np.searchsorted(ids, pdf["vec_id"].to_numpy())
        b = np.searchsorted(ids, pdf["vb"].to_numpy())
        sq = np.zeros(len(ids), dtype=np.int64)
        sq[a] = pdf["sq_e4"].to_numpy()
        off = a != b  # the diagonal carries no pair score
        s = np.zeros((len(ids), len(ids)), dtype=np.int64)
        s[a[off], b[off]] = pdf["s_e4"].to_numpy()[off]
        free = np.ones(len(ids), dtype=bool)
        msel = np.zeros(len(ids), dtype=np.int64)
        picks = []
        for rank in range(1, min(k_max, len(ids)) + 1):
            left = np.flatnonzero(free)
            p = left[np.argmin(msel[left] - sq[left])]
            picks.append((rank, ids[p], sq[p], msel[p]))
            free[p] = False
            msel = s[:, p] if rank == 1 else np.maximum(msel, s[:, p])
        out = pd.DataFrame(picks, columns=["rank", "vec_id", "sq_e4", "msel_e4"])
        out.insert(0, "query_id", pdf["query_id"].iloc[0])
        return out

    emb = _emb_table(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    sq_e4 = (
        F.floor(_cosine(F.col("qemb"), F.col("emb")) * F.lit(10000.0) + F.lit(0.5))
        .cast("long")
        .alias("sq_e4")
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sq_e4, "emb")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sq_e4"), F.asc("vec_id"))
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MMR_CANDIDATES)
        .drop("rn")
    )
    a = cand.select("query_id", "vec_id", "sq_e4", F.col("emb").alias("ea"))
    b = cand.select("query_id", F.col("vec_id").alias("vb"), F.col("emb").alias("eb"))
    # every candidate pairs with itself too, so each reaches its query's
    # group even when it is the only one; the diagonal gets no score
    s_e4 = F.when(
        F.col("vec_id") != F.col("vb"),
        F.floor(_cosine(F.col("ea"), F.col("eb")) * F.lit(10000.0) + F.lit(0.5)).cast("long"),
    ).alias("s_e4")
    sel = (
        a.join(b, "query_id")
        .select("query_id", "vec_id", "sq_e4", "vb", s_e4)
        .groupBy("query_id")
        .applyInPandas(
            _greedy,
            "query_id long, rank int not null, vec_id long, sq_e4 long, msel_e4 long",
        )
    )
    return sel.select(
        "query_id",
        "rank",
        "vec_id",
        (F.col("sq_e4").cast("double") / F.lit(10000.0)).alias("relevance"),
        (F.col("msel_e4").cast("double") / F.lit(10000.0)).alias("max_sim_selected"),
    ).orderBy("query_id", "rank")


def _sql_mmr() -> str:
    cos_qa = (
        f"CAST(FLOOR(({_SQL_DOT_AB} / ({_sql_norm('a')} * {_sql_norm('b')}))"
        " * 10000.0 + 0.5) AS BIGINT)"
    )
    steps = []
    prev = "s1"
    for k in range(2, MMR_K + 1):
        steps.append(f"""
s{k} AS (
  SELECT query_id, vec_id, sq_e4, msel_e4, {k} AS rank FROM (
    SELECT c.query_id, c.vec_id, c.sq_e4, m.msel_e4,
           ROW_NUMBER() OVER (PARTITION BY c.query_id
                              ORDER BY m.msel_e4 - c.sq_e4 ASC, c.vec_id ASC) AS rn
    FROM cand c
    JOIN (SELECT p.query_id, p.va, MAX(p.s_e4) AS msel_e4
          FROM pair p JOIN {prev} s ON s.query_id = p.query_id AND s.vec_id = p.vb
          GROUP BY 1, 2) m
      ON m.query_id = c.query_id AND m.va = c.vec_id
    WHERE NOT EXISTS (SELECT 1 FROM {prev} s
                      WHERE s.query_id = c.query_id AND s.vec_id = c.vec_id)) t
  WHERE rn = 1),
sel{k} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM s{k})""")
        prev = f"sel{k}"
    return f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
cand AS MATERIALIZED (
  SELECT query_id, vec_id, sq_e4, emb FROM (
    SELECT b.vec_id AS query_id, a.vec_id AS vec_id, {cos_qa} AS sq_e4,
           a.emb AS emb,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
                              ORDER BY {cos_qa} DESC, a.vec_id ASC) AS rn
    FROM emb a JOIN emb b ON b.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id) t
  WHERE rn <= {MMR_CANDIDATES}),
pair AS MATERIALIZED (
  SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
         CAST(FLOOR(({_sql_fold_sum("list_transform(list_zip(a.emb, b.emb), x -> x[1] * x[2])")}
              / ({_sql_norm('a')} * {_sql_norm('b')})) * 10000.0 + 0.5) AS BIGINT) AS s_e4
  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
s1 AS (
  SELECT query_id, vec_id, sq_e4, CAST(0 AS BIGINT) AS msel_e4, 1 AS rank FROM (
    SELECT query_id, vec_id, sq_e4,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sq_e4 DESC, vec_id ASC) AS rn
    FROM cand) t
  WHERE rn = 1),{",".join(steps)}
SELECT query_id, rank, vec_id,
       CAST(sq_e4 AS DOUBLE) / 10000.0 AS relevance,
       CAST(msel_e4 AS DOUBLE) / 10000.0 AS max_sim_selected
FROM sel{MMR_K}
ORDER BY query_id, rank
"""


# --- distributed PCA: anisotropy audit by power iteration ----------------------

PCA_ITERS = 8


def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy audit: fixed-iteration power iteration
    on the uncentered d×d Gram matrix, reporting the current iterate's
    loadings, its Rayleigh quotient (a lower bound on the top eigenvalue
    that the iteration improves monotonically), the EXACT mean eigenvalue
    (trace/d — a pure diagonal sum, no iteration), and their ratio. An
    anisotropy ratio ≫ 1 means the cloud has collapsed toward a dominant
    direction — the known failure mode that degrades cosine retrieval;
    ≈ 1 (as on the driver's isotropic synthetic vectors, λ2/λ1 ≈ 0.93)
    means no direction dominates. On such near-degenerate spectra the
    VECTOR converges arbitrarily slowly by construction — the audit's
    decision number is the ratio, which is already meaningful after a few
    rounds; the iterate is reported as the current search direction, not
    claimed as the converged eigenvector. Returns 64 rows
    (dim, loading, eigenvalue, mean_eigenvalue, anisotropy_ratio).

    Spark-first linear algebra: the corpus collapses to the d×d Gram in
    ONE pass (double posexplode → map-side-combined (i, j) cells — the
    only stage that touches data). The d² Gram cells then go to ONE
    grouped pandas task (`applyInPandas` over a keyless group) that runs
    the PCA_ITERS power steps, the final product and the Rayleigh and
    trace sums; Spark rounds and projects its d rows. Everything is exact
    int64: Gram cells are e6-vector products, rescaled to e3 by a mirrored
    double-floor; normalization divides by max|w| (integer division
    truncating toward zero, as Spark's DIV — valid for the PSD Gram, no
    sign oscillation), so every iterate is bit-identical across engines
    and cluster sizes. The task computes on Python ints and raises where
    ANSI SQL would: on an all-zero Gram (max|w| = 0) and on any value
    outside int64.

    Scale: the Gram pass is one scan of the corpus with a d²-row shuffle;
    the power steps touch d² cells whatever the corpus size, so they run
    in one task, with no job or checkpoint per step.
    """
    import pandas as pd

    iters = PCA_ITERS  # a plain value: the worker cannot import this package

    def _power_iteration(pdf):
        lo, hi = -(1 << 63), (1 << 63) - 1
        dim = int(pdf["i"].max()) + 1

        def long(x, what):
            if not lo <= x <= hi:
                raise OverflowError(f"[ARITHMETIC_OVERFLOW] {what} = {x} overflows int64")
            return x

        g = [[0] * dim for _ in range(dim)]
        for i, j, c in zip(pdf["i"].tolist(), pdf["j"].tolist(), pdf["g_e3"].tolist()):
            g[i][j] = c

        def times(v):
            return [
                long(sum(long(gij * vj, "g_e3 * v_e3") for gij, vj in zip(row, v)), "w")
                for row in g
            ]

        v = [1000] * dim
        for _ in range(iters):
            w = times(v)
            m = max(abs(x) for x in w)
            if m == 0:
                raise ZeroDivisionError("[DIVIDE_BY_ZERO] power step on an all-zero Gram")
            # (w * 1000) DIV m: truncate toward zero, not floor
            v = [(abs(long(x * 1000, "w * 1000")) // m) * (1 if x >= 0 else -1) for x in w]
        wf = times(v)
        num = long(sum(long(a * b, "v_e3 * w") for a, b in zip(v, wf)), "num")
        den = long(sum(a * a for a in v), "den")
        tr = long(sum(g[i][i] for i in range(dim)), "tr_e3")
        return pd.DataFrame(
            {"j": range(dim), "v_e3": v, "num": num, "den": den, "tr_e3": tr}
        )

    emb = _emb_table(spark, sf_dir)
    vecs = emb.select(_scaled_vec(F.col("embedding")).alias("sx"))
    e1 = vecs.select(F.posexplode("sx").alias("i", "xi"), F.col("sx"))
    cells = e1.select("i", "xi", F.posexplode("sx").alias("j", "xj"))
    gram = cells.groupBy("i", "j").agg(
        F.sum(F.col("xi") * F.col("xj")).alias("g_e12")
    )
    g = gram.select(
        "i",
        "j",
        F.floor(F.col("g_e12").cast("double") / F.lit(1e9) + F.lit(0.5))
        .cast("long")
        .alias("g_e3"),
    )
    v = g.groupBy().applyInPandas(
        _power_iteration,
        "j long not null, v_e3 long, num long, den long, tr_e3 long",
    )
    eig = F.col("num").cast("double") / F.col("den").cast("double") / F.lit(1000.0)
    mean_eig = F.col("tr_e3").cast("double") / F.lit(1000.0 * DIM)
    return v.select(
        F.col("j").alias("dim"),
        (F.col("v_e3").cast("double") / F.lit(1000.0)).alias("loading"),
        round_half_up(eig, 4).alias("eigenvalue"),
        round_half_up(mean_eig, 4).alias("mean_eigenvalue"),
        round_half_up(eig / mean_eig, 4).alias("anisotropy_ratio"),
    ).orderBy("dim")


def _sql_pca() -> str:
    sx = (
        "list_transform(CAST(embedding AS DOUBLE[]), "
        f"x -> CAST(FLOOR(x * {_KM_SCALE} + 0.5) AS BIGINT))"
    )
    steps = []
    prev = "v0"
    for k in range(1, PCA_ITERS + 1):
        steps.append(f"""
w{k} AS MATERIALIZED (
  SELECT g.i, SUM(g.g_e3 * v.v_e3) AS w
  FROM g JOIN {prev} v USING (j) GROUP BY g.i),
m{k} AS (SELECT MAX(ABS(w)) AS m FROM w{k}),
v{k} AS MATERIALIZED (
  SELECT i AS j, (w * 1000) // m AS v_e3 FROM w{k} CROSS JOIN m{k})""")
        prev = f"v{k}"
    return f"""
WITH vecs AS (SELECT {sx} AS sx FROM embeddings),
cells AS MATERIALIZED (
  SELECT a.i - 1 AS i, b.j - 1 AS j, SUM(sx[a.i] * sx[b.j]) AS g_e12
  FROM vecs, generate_series(1, {DIM}) AS a(i), generate_series(1, {DIM}) AS b(j)
  GROUP BY 1, 2),
g AS MATERIALIZED (
  SELECT i, j,
         CAST(FLOOR(CAST(g_e12 AS DOUBLE) / 1000000000.0 + 0.5) AS BIGINT) AS g_e3
  FROM cells),
v0 AS (SELECT j, CAST(1000 AS BIGINT) AS v_e3
       FROM (SELECT unnest(range({DIM})) AS j)),{",".join(steps)},
wf AS (
  SELECT g.i, SUM(g.g_e3 * v.v_e3) AS w
  FROM g JOIN {prev} v USING (j) GROUP BY g.i),
ray AS (
  SELECT SUM(v.v_e3 * w.w) AS num, SUM(v.v_e3 * v.v_e3) AS den
  FROM wf w JOIN {prev} v ON v.j = w.i),
tr AS (SELECT SUM(g_e3) AS tr_e3 FROM g WHERE i = j)
SELECT CAST(v.j AS BIGINT) AS dim,
       CAST(v.v_e3 AS DOUBLE) / 1000.0 AS loading,
       {sql_round_half_up("CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 1000.0", 4)}
         AS eigenvalue,
       {sql_round_half_up(f"CAST(tr_e3 AS DOUBLE) / {1000.0 * DIM}", 4)}
         AS mean_eigenvalue,
       {sql_round_half_up(
           "(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 1000.0)"
           f" / (CAST(tr_e3 AS DOUBLE) / {1000.0 * DIM})", 4)}
         AS anisotropy_ratio
FROM {prev} v CROSS JOIN ray CROSS JOIN tr
ORDER BY dim
"""


# --- doc <-> embedding id-space integrity ------------------------------------


def embedding_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Id-space integrity audit between the text corpus and its embedding
    table (shared id space: documents.doc_id = embeddings.vec_id — the
    contract `hybrid_search_rrf` and the SemDeDup family silently rely on).
    Per source: documents, documents WITH an embedding, documents missing
    one, and the coverage percentage; a final `(no_document)` row counts
    orphan embeddings whose document is gone (stale index entries — the
    thing a GDPR purge or a re-crawl leaves behind if the index isn't
    rewritten in lockstep).

    Scale (100 TB): one full-outer equi-join on the id — both sides
    co-partition on their key, then a |sources|-cell hash-agg; with the
    corpus and index bucketed by id (how they'd be stored for the serve
    path) the join is shuffle-free. This is the gate a pipeline runs
    BEFORE semantic dedup / retrieval eval, since silent coverage holes
    bias both.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.lit(1).alias("is_doc")
    )
    emb = _emb_table(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.lit(1).alias("has_emb")
    )
    j = docs.join(emb, "doc_id", "full")
    is_doc = F.col("is_doc") == 1
    has_emb = F.col("has_emb") == 1
    out = (
        j.groupBy(F.coalesce(F.col("source"), F.lit("(no_document)")).alias("source"))
        .agg(
            F.sum(F.when(is_doc, 1).otherwise(0)).cast("long").alias("n_docs"),
            F.sum(F.when(is_doc & has_emb, 1).otherwise(0))
            .cast("long")
            .alias("n_with_embedding"),
            F.sum(F.when(is_doc & F.col("has_emb").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_missing_embedding"),
            F.sum(F.when(F.col("is_doc").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphan_embeddings"),
        )
    )
    return out.select(
        "source",
        "n_docs",
        "n_with_embedding",
        "n_missing_embedding",
        "n_orphan_embeddings",
        F.when(
            F.col("n_docs") > 0,
            round_half_up(
                F.col("n_with_embedding").cast("double")
                / F.col("n_docs").cast("double")
                * 100.0,
                4,
            ),
        ).alias("coverage_pct"),
    ).orderBy("source")


_COVERAGE_AUDIT_SQL = f"""
WITH j AS (
  SELECT d.doc_id AS did, d.source, e.vec_id AS eid
  FROM documents d FULL JOIN embeddings e ON e.vec_id = d.doc_id)
SELECT COALESCE(source, '(no_document)') AS source,
       CAST(SUM(CASE WHEN did IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN did IS NOT NULL AND eid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_embedding,
       CAST(SUM(CASE WHEN did IS NOT NULL AND eid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing_embedding,
       CAST(SUM(CASE WHEN did IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_embeddings,
       CASE WHEN SUM(CASE WHEN did IS NOT NULL THEN 1 ELSE 0 END) > 0 THEN
         {sql_round_half_up("CAST(SUM(CASE WHEN did IS NOT NULL AND eid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(SUM(CASE WHEN did IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) * 100.0", 4)}
       END AS coverage_pct
FROM j
GROUP BY COALESCE(source, '(no_document)')
ORDER BY source
"""


DRIFT_ABS_E6 = 50_000  # per-dim mean shift > 0.05 (unit-scale embeddings) drifts


def embedding_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean drift between the at-rest corpus slice and the
    incoming batch (the SEM_DELTA_MOD delta convention shared with
    `incremental_semdedup_probe`): the maintenance gate run before
    trusting `incremental_ivf_update` / `incremental_semdedup_probe`
    after an ingest — a shifted embedding distribution (new encoder
    version, new domain) silently degrades a FROZEN quantizer's cells,
    and recall audits only catch it after the index is already stale.

    Exactness: per-slice sums are int64 over the 1e6 fixed-point grid;
    the drift flag |mean_delta − mean_corpus| > 0.05 is cross-multiplied
    exactly with NO division — in decimal(38,0) on Spark and HUGEINT on
    DuckDB, because the int64 products |sx·n| reach ~1e22 at
    1e8-vector corpus scale (int64 wraps silently at 9.2e18; the flag
    output stays BOOLEAN, so the driver's no-decimal-columns rule is
    untouched). Displayed means/shift are single IEEE divisions rounded
    6dp, NULL when a slice is empty (both engines guard the division —
    DuckDB would otherwise emit IEEE inf/NaN); an empty slice can never
    flag (|0·n − sx·0| > τ·0 is false). The threshold is ABSOLUTE on the
    unit embedding scale, not variance-relative: a variance-scaled test
    squares the products again, and an absolute gate on a normalized
    space is the production norm anyway.

    Scale: one posexplode pass → 2·dim cells; fully map-side combined.
    """
    emb = _emb_table(spark, sf_dir)
    cells = (
        emb.select(
            _sem_delta_cond().alias("is_delta"),
            F.posexplode(_scaled_vec(F.col("embedding"))).alias("pos", "v"),
        )
        .groupBy("pos")
        .agg(
            F.sum(F.when(~F.col("is_delta"), 1).otherwise(0)).alias("n_c"),
            F.sum(F.when(~F.col("is_delta"), F.col("v")).otherwise(0)).alias("sx_c"),
            F.sum(F.when(F.col("is_delta"), 1).otherwise(0)).alias("n_d"),
            F.sum(F.when(F.col("is_delta"), F.col("v")).otherwise(0)).alias("sx_d"),
        )
    )
    mean_c = F.when(
        F.col("n_c") > 0,
        F.col("sx_c").cast("double") / F.col("n_c").cast("double") / F.lit(_KM_SCALE),
    )
    mean_d = F.when(
        F.col("n_d") > 0,
        F.col("sx_d").cast("double") / F.col("n_d").cast("double") / F.lit(_KM_SCALE),
    )
    dec = "decimal(38,0)"
    lhs = F.abs(
        F.col("sx_d").cast(dec) * F.col("n_c") - F.col("sx_c").cast(dec) * F.col("n_d")
    )
    rhs = F.lit(DRIFT_ABS_E6).cast(dec) * F.col("n_d") * F.col("n_c")
    return cells.select(
        F.col("pos").cast("long").alias("dim"),
        F.col("n_c").cast("long").alias("n_corpus"),
        F.col("n_d").cast("long").alias("n_delta"),
        round_half_up(mean_c, 6).alias("mean_corpus"),
        round_half_up(mean_d, 6).alias("mean_delta"),
        round_half_up(mean_d - mean_c, 6).alias("shift"),
        (lhs > rhs).alias("drifted"),
    ).orderBy("dim")


_DRIFT_AUDIT_SQL = f"""
WITH cells AS (
  SELECT pos,
         SUM(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS n_c,
         SUM(CASE WHEN NOT is_delta THEN v ELSE 0 END) AS sx_c,
         SUM(CASE WHEN is_delta THEN 1 ELSE 0 END) AS n_d,
         SUM(CASE WHEN is_delta THEN v ELSE 0 END) AS sx_d
  FROM (
    SELECT vec_id % {SEM_DELTA_MOD} = {SEM_DELTA_MOD - 1} AS is_delta,
           unnest(list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(FLOOR(x * {_KM_SCALE} + 0.5) AS BIGINT))) AS v,
           unnest(range(0, len(embedding))) AS pos
    FROM embeddings) t
  GROUP BY pos)
SELECT CAST(pos AS BIGINT) AS dim,
       CAST(n_c AS BIGINT) AS n_corpus,
       CAST(n_d AS BIGINT) AS n_delta,
       CASE WHEN n_c > 0 THEN {sql_round_half_up(f"CAST(sx_c AS DOUBLE) / CAST(n_c AS DOUBLE) / {_KM_SCALE}", 6)} END AS mean_corpus,
       CASE WHEN n_d > 0 THEN {sql_round_half_up(f"CAST(sx_d AS DOUBLE) / CAST(n_d AS DOUBLE) / {_KM_SCALE}", 6)} END AS mean_delta,
       CASE WHEN n_c > 0 AND n_d > 0 THEN {sql_round_half_up(f"CAST(sx_d AS DOUBLE) / CAST(n_d AS DOUBLE) / {_KM_SCALE} - CAST(sx_c AS DOUBLE) / CAST(n_c AS DOUBLE) / {_KM_SCALE}", 6)} END AS shift,
       ABS(CAST(sx_d AS HUGEINT) * n_c - CAST(sx_c AS HUGEINT) * n_d)
         > CAST({DRIFT_ABS_E6} AS HUGEINT) * n_d * n_c AS drifted
FROM cells
ORDER BY dim
"""



QUERIES = {
    "ann_bruteforce_topk": ann_bruteforce_topk,
    "uncertainty_sampling_topk": uncertainty_sampling_topk,
    "mmr_diversified_topk": mmr_diversified_topk,
    "embedding_pca_top_component": embedding_pca_top_component,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_recall_audit": ann_recall_audit,
    "ann_nprobe_recall_curve": ann_nprobe_recall_curve,
    "lsh_bucket_histogram": lsh_bucket_histogram,
    "embedding_near_dups": embedding_near_dups,
    "embedding_quantize_report": embedding_quantize_report,
    "kmeans_cluster_stats": kmeans_cluster_stats,
    "kmeans_label_purity": kmeans_label_purity,
    "semdedup_prune_report": semdedup_prune_report,
    "semdedup_tau_sweep": semdedup_tau_sweep,
    "incremental_semdedup_probe": incremental_semdedup_probe,
    "embedding_coverage_audit": embedding_coverage_audit,
    "ann_pq_topk": ann_pq_topk,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "hybrid_search_rrf": hybrid_search_rrf,
    "source_centroid_similarity": source_centroid_similarity,
    "embedding_norm_audit": embedding_norm_audit,
    "embedding_dim_stats": embedding_dim_stats,
    "embedding_drift_audit": embedding_drift_audit,
    "hard_negative_topk": hard_negative_topk,
    "triplet_margin_report": triplet_margin_report,
}

ORACLES = {
    "ann_bruteforce_topk": _ANN_BF_SQL,
    "uncertainty_sampling_topk": _sql_uncertainty(),
    "mmr_diversified_topk": _sql_mmr(),
    "embedding_pca_top_component": _sql_pca(),
    "ann_lsh_topk": _ANN_LSH_SQL,
    "ann_ivf_topk": _ANN_IVF_SQL,
    "ann_recall_audit": _sql_ann_recall(),
    "ann_nprobe_recall_curve": _sql_nprobe_curve(),
    "lsh_bucket_histogram": _LSH_HIST_SQL,
    "embedding_near_dups": _NEAR_DUP_SQL,
    "embedding_quantize_report": _QUANT_SQL,
    "kmeans_cluster_stats": _sql_kmeans(),
    "kmeans_label_purity": _sql_km_purity(),
    "semdedup_prune_report": _sql_semdedup(),
    "semdedup_tau_sweep": _sql_tau_sweep(),
    "incremental_semdedup_probe": _sql_incr_semdedup(),
    "embedding_coverage_audit": _COVERAGE_AUDIT_SQL,
    "ann_pq_topk": _sql_pq(),
    "ann_ivfpq_topk": _sql_ivfpq(),
    "hybrid_search_rrf": _sql_hybrid(),
    "source_centroid_similarity": _CENTROID_SIM_SQL,
    "embedding_norm_audit": _NORM_AUDIT_SQL,
    "embedding_dim_stats": _DIM_STATS_SQL,
    "embedding_drift_audit": _DRIFT_AUDIT_SQL,
    "hard_negative_topk": _HARD_NEG_SQL,
    "triplet_margin_report": _TRIPLET_SQL,
}
