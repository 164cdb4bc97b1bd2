"""Embedding-space maintenance audits — fixed-point recounts on driver
data — and the small-state PCA and MMR loops against their oracles on
edge-case fixtures."""

from __future__ import annotations

import pytest


def test_embedding_drift_audit_matches_bruteforce(spark, sf_dir):
    """Per-dim corpus/delta means and the cross-multiplied drift flag
    equal a literal fixed-point recount over the vec_id split."""
    import math

    from data_pipeline_for_autonomous_vehicles_spark.catalog import load_table
    from data_pipeline_for_autonomous_vehicles_spark.operators.similarity import (
        DRIFT_ABS_E6,
        SEM_DELTA_MOD,
        embedding_drift_audit,
    )

    rows = load_table(spark, sf_dir, "embeddings").collect()
    dim = len(rows[0]["embedding"])
    sums = {d: [0, 0, 0, 0] for d in range(dim)}  # n_c, sx_c, n_d, sx_d
    for r in rows:
        is_d = r["vec_id"] % SEM_DELTA_MOD == SEM_DELTA_MOD - 1
        for d, x in enumerate(r["embedding"]):
            v = math.floor(float(x) * 1e6 + 0.5)
            if is_d:
                sums[d][2] += 1
                sums[d][3] += v
            else:
                sums[d][0] += 1
                sums[d][1] += v
    got = {r["dim"]: r for r in embedding_drift_audit(spark, sf_dir).collect()}
    assert set(got) == set(range(dim))
    for d, (n_c, sx_c, n_d, sx_d) in sums.items():
        r = got[d]
        assert (r["n_corpus"], r["n_delta"]) == (n_c, n_d)
        assert r["drifted"] == (abs(sx_d * n_c - sx_c * n_d) > DRIFT_ABS_E6 * n_d * n_c)
        expect_shift = sx_d / n_d / 1e6 - sx_c / n_c / 1e6
        assert abs(r["shift"] - expect_shift) < 1.01e-6
    # same encoder generated both slices: no dim should drift on driver data
    assert not any(r["drifted"] for r in got.values())


def test_embedding_drift_audit_empty_delta_parity(spark, tmp_path):
    """A corpus with no delta slice must degrade cleanly on BOTH engines:
    NULL means/shift (not IEEE inf/NaN), drifted false everywhere —
    pinned by running the Spark operator AND its DuckDB oracle on the
    same parquet (the round-7 review's degenerate-input finding)."""
    import duckdb
    from pyspark.sql import Row

    from data_pipeline_for_autonomous_vehicles_spark.operators.similarity import (
        _DRIFT_AUDIT_SQL,
        embedding_drift_audit,
    )

    rows = [
        Row(vec_id=i, embedding=[0.1 * (i + 1), -0.2], label=0) for i in range(3)
    ]  # vec_id % 5 == 4 never fires -> empty delta slice
    d = str(tmp_path / "emb")
    spark.createDataFrame(rows).coalesce(1).write.parquet(d + "/embeddings.parquet")

    got = embedding_drift_audit(spark, d).collect()
    assert [r["dim"] for r in got] == [0, 1]
    for r in got:
        assert r["n_delta"] == 0 and r["n_corpus"] == 3
        assert r["mean_delta"] is None and r["shift"] is None
        assert r["mean_corpus"] is not None
        assert r["drifted"] is False

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet/*.parquet'"
    )
    oracle = con.execute(_DRIFT_AUDIT_SQL).fetchall()
    assert len(oracle) == 2
    for (dim, n_c, n_d, mc, md, sh, drifted), r in zip(oracle, got):
        assert (dim, n_c, n_d) == (r["dim"], 3, 0)
        assert md is None and sh is None and drifted is False
        assert mc == r["mean_corpus"]


_SMALL_STATE_LOOPS = ("embedding_pca_top_component", "mmr_diversified_topk")


@pytest.mark.parametrize("name", _SMALL_STATE_LOOPS)
def test_small_state_loop_job_gate(spark, sf_dir, name):
    """The PCA power steps and the MMR greedy picks run inside one grouped
    pandas call, so building either frame submits no Spark job and
    collecting it a single-digit number (the per-round join + aggregate +
    checkpoint loop built with 59 and 39 jobs)."""
    from data_pipeline_for_autonomous_vehicles_spark.catalog import load_table
    from data_pipeline_for_autonomous_vehicles_spark.operators import similarity as sim

    load_table(spark, sf_dir, "embeddings")  # the schema inference job
    sc = spark.sparkContext
    try:
        sc.setJobGroup(f"{name}-build", "build the frame")
        df = getattr(sim, name)(spark, sf_dir)
        sc.setJobGroup(f"{name}-collect", "collect the frame")
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup(f"{name}-build") == []
    assert 1 <= len(tracker.getJobIdsForGroup(f"{name}-collect")) <= 9
    assert rows


def _write_embeddings(spark, d, vectors):
    spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vectors)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(f"{d}/embeddings.parquet")
    return str(d)


@pytest.fixture(scope="module")
def loop_fixtures(spark, tmp_path_factory):
    """Small embedding corpora for the PCA and MMR loops:
    - ties: 12 vectors where 5 and 6 duplicate query 0's direction and 8
      duplicates 9, so relevances and pair scores tie and the lower vec_id
      must win;
    - four: 4 vectors, so every query has 3 < MMR_K candidates;
    - zero: an all-zero corpus (a zero Gram, 0/0 cosines);
    - huge: one vector of 2000.0s, whose Rayleigh numerator overflows int64."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.integers(-9, 10, size=(12, 64)) / 10.0
    base[5] = base[6] = 2 * base[0]
    base[8] = base[9]
    root = tmp_path_factory.mktemp("loop_fixtures")
    return {
        "ties": _write_embeddings(spark, root / "ties", base),
        "four": _write_embeddings(spark, root / "four", base[:4]),
        "zero": _write_embeddings(spark, root / "zero", np.zeros((6, 64))),
        "huge": _write_embeddings(spark, root / "huge", np.full((1, 64), 2000.0)),
    }


@pytest.mark.parametrize("corpus", ["ties", "four"])
@pytest.mark.parametrize("name", _SMALL_STATE_LOOPS)
def test_small_state_loop_equals_oracle_on_fixture(spark, loop_fixtures, corpus, name):
    """Both loops equal their DuckDB twins on tied scores and on a corpus
    too small for MMR_K picks per query."""
    import duckdb

    from data_pipeline_for_autonomous_vehicles_spark.operators import all_oracles
    from data_pipeline_for_autonomous_vehicles_spark.operators import similarity as sim
    from tools.check_oracle import _duckdb_typed_rows, _norm_rows

    d = loop_fixtures[corpus]
    sdf = getattr(sim, name)(spark, d)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet/*.parquet'")
    dcols, drows, _ = _duckdb_typed_rows(con, all_oracles()[name])
    assert sdf.columns == dcols
    assert _norm_rows(sdf.columns, srows) == _norm_rows(dcols, drows)
    if name == "embedding_pca_top_component":
        assert len(srows) == sim.DIM
        return
    picks = {}
    for q, rank, vec_id, *_ in srows:
        picks.setdefault(q, []).append(vec_id)
    if corpus == "four":
        # every query picks all 3 other vectors, then stops
        assert {q: sorted(p) for q, p in picks.items()} == {
            q: [v for v in range(4) if v != q] for q in range(4)
        }
    else:
        assert all(len(p) == sim.MMR_K for p in picks.values())
        assert picks[0][0] == 5  # 5 and 6 tie at cosine 1.0 with query 0
        assert 6 not in picks[0][:2]  # its duplicate is penalized at rank 2


def test_small_state_loops_raise_on_degenerate_fixture(spark, loop_fixtures):
    """An all-zero corpus divides by zero in both queries and a Gram whose
    Rayleigh numerator leaves int64 overflows: both raise, as ANSI SQL
    does, instead of returning rows."""
    from data_pipeline_for_autonomous_vehicles_spark.operators import similarity as sim

    for name in _SMALL_STATE_LOOPS:
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            getattr(sim, name)(spark, loop_fixtures["zero"]).collect()
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        sim.embedding_pca_top_component(spark, loop_fixtures["huge"]).collect()
