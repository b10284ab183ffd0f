"""End-to-end Spark tests for the two-stage kNN / range joins vs a numpy
brute-force oracle (FIXTURES.md F4 engine property: per-partition kNN join
results equal brute force; mirrors the reference's knn/rnn golden tests at
/root/reference/tests/test_api.cpp:40-65 lifted to set-oriented joins)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from metric_search_spark.cells import coords_from_phash, ring_guarantee_radius
from metric_search_spark.core.metrics import Euclidean
from metric_search_spark.operators.joins import KnnJoinStats, knn_join, range_join
from metric_search_spark.sources.synth import lite_rows_for_ids

from tests.sparkutil import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def _image_probe_frames(spark, n=400, n_probes=60):
    pdf = lite_rows_for_ids(np.arange(n), seed=42)
    x, y = coords_from_phash(pdf["phash"].to_numpy())
    tbl = pd.DataFrame(
        {
            "id": pdf["image_id"],
            "vec": [[a, b] for a, b in zip(x, y)],
            "x": x,
            "y": y,
        }
    )
    build = spark.createDataFrame(tbl)
    probes = spark.createDataFrame(tbl.iloc[:n_probes])
    return tbl, build, probes


def _brute_knn(P, B, pids, bids, k):
    """Oracle: ties by id, ascending (dist, id)."""
    out = {}
    for i, p in enumerate(P):
        d = np.sqrt(((B - p) ** 2).sum(axis=1))
        order = sorted(range(len(B)), key=lambda j: (round(d[j], 12), bids[j]))[:k]
        out[pids[i]] = [(bids[j], d[j]) for j in order]
    return out


def _brute_ranked(P, B, bids, k):
    """Exact oracle with the kernel's own distance arithmetic: each probe's
    k nearest as [(id, dist)], ordered by (dist, id) — bit-comparable."""
    D = Euclidean().cross(P, B)
    bids = np.asarray(bids)
    return [
        [(bids[j], d[j]) for j in np.lexsort((bids, d))[:k]] for d in D
    ]


def _ring1_unresolved(P, B, k, res, coord_scale=1.0):
    """Driver-side twin of the kernel's ring-1 verdict: a probe stays
    unresolved unless its brute-force kth distance is below the ring-1
    guarantee radius of its clamped coordinates × coord_scale."""
    kth = np.sort(Euclidean().cross(P, B), axis=1)[:, min(k, len(B)) - 1]
    c = np.clip(P, 0.0, 1.0 - 2.0**-31)
    guar = ring_guarantee_radius(c[:, 0], c[:, 1], res, 1) * coord_scale
    return int((kth >= guar).sum())


def _assert_ranked(out, P, B, pids, bids, k):
    """The knn_join output equals brute force bit for bit."""
    want = _brute_ranked(P, B, bids, k)
    got = out.sort_values(["query_id", "rank"]).groupby("query_id")
    assert len(got) == len(pids)
    for qid, w in zip(pids, want):
        grp = got.get_group(qid)
        assert list(grp["rank"]) == list(range(1, len(w) + 1)), qid
        assert list(zip(grp["neighbor_id"], grp["dist"])) == w, qid


def test_knn_join_matches_bruteforce(spark):
    tbl, build, probes = _image_probe_frames(spark)
    stats = KnnJoinStats()
    res = knn_join(
        probes, build, k=5, res=3, target_per_cell=32, stats=stats
    ).toPandas()
    V = np.asarray(list(tbl["vec"]), dtype=np.float64)
    oracle = _brute_knn(V[:60], V, list(tbl["id"][:60]), list(tbl["id"]), 5)
    assert set(res["query_id"]) == set(oracle)
    for qid, grp in res.sort_values(["query_id", "rank"]).groupby("query_id"):
        got = list(zip(grp["neighbor_id"], grp["dist"]))
        want = oracle[qid]
        assert [g[0] for g in got] == [w[0] for w in want], qid
        np.testing.assert_allclose(
            [g[1] for g in got], [w[1] for w in want], atol=1e-9
        )


def test_knn_join_salting_exact(spark):
    """All rows in one hot cell → salting splits it; results stay exact."""
    rng = np.random.default_rng(7)
    n = 300
    x = 0.4 + 0.01 * rng.random(n)  # everything in one res-3 cell
    y = 0.4 + 0.01 * rng.random(n)
    tbl = pd.DataFrame(
        {"id": np.arange(n), "vec": [[a, b] for a, b in zip(x, y)], "x": x, "y": y}
    )
    df = spark.createDataFrame(tbl)
    out = knn_join(df, df, k=3, res=3, salt_threshold=50).toPandas()
    V = np.stack([x, y], axis=1)
    oracle = _brute_knn(V[:20], V, list(range(n)), list(range(n)), 3)
    for qid in range(20):
        grp = out[out["query_id"] == qid].sort_values("rank")
        assert list(grp["neighbor_id"]) == [w[0] for w in oracle[qid]]


def test_knn_join_highdim_projection(spark):
    """64-d L2 metric indexed by a contractive 2-D projection (first two dims
    scaled into [0,1)) stays exact via the coord_scale guarantee."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lo, hi = -4.0, 4.0  # generous fixed bounds for the projection axes
    emb2 = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
        ((F.element_at("embedding", 1) - lo) / (hi - lo)).cast("double").alias("x"),
        ((F.element_at("embedding", 2) - lo) / (hi - lo)).cast("double").alias("y"),
    )
    out = knn_join(
        emb2, emb2, k=5, res=2, coord_scale=(hi - lo), target_per_cell=64
    ).toPandas()
    pdf = emb.toPandas()
    V = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    ids = list(pdf["vec_id"])
    oracle = _brute_knn(V, V, ids, ids, 5)
    assert len(out) == len(ids) * 5
    for qid, grp in out.sort_values(["query_id", "rank"]).groupby("query_id"):
        assert list(grp["neighbor_id"]) == [w[0] for w in oracle[qid]], qid


def test_knn_join_res0_single_cell(spark):
    """Regression: res=0 (single-cell grid) must still produce results —
    the k-ring literal's type must group with long cell ids in the cogroup."""
    import pandas as pd

    rng = np.random.default_rng(13)
    b = pd.DataFrame({"id": np.arange(50), "x": rng.random(50), "y": rng.random(50)})
    p = pd.DataFrame({"id": np.arange(100, 110), "x": rng.random(10), "y": rng.random(10)})
    out = knn_join(
        spark.createDataFrame(p), spark.createDataFrame(b), k=5, vec_col=None, res=0
    ).toPandas()
    assert len(out) == 50
    B = b[["x", "y"]].to_numpy()
    for _, q in p.iterrows():
        d = np.sqrt(((B - [q.x, q.y]) ** 2).sum(axis=1))
        want = sorted(range(50), key=lambda j: (d[j], j))[:5]
        got = list(
            out[out["query_id"] == q.id].sort_values("rank")["neighbor_id"]
        )
        assert got == want


def test_knn_join_escalation_2d_fast_path(spark):
    """Regression (ADVICE r1, high): a probe left unresolved after ring 1 on
    the 2-D fast path (vec_col=None, no _vec column) must survive the
    escalation rounds — including the exhaustive cross-join round — instead
    of dying on a missing-column AnalysisException."""
    import pandas as pd

    # one lone point in the (0,0) corner cell, a 30-point cluster in the
    # opposite corner: at res=2 (4×4 grid) the loner's ring-1 (and ring-2)
    # candidate set is just itself, forcing the exhaustive escalation round
    xs = np.concatenate(([0.05], 0.87 + 0.1 * np.linspace(0, 1, 30)))
    ys = np.concatenate(([0.05], 0.93 - 0.09 * np.linspace(0, 1, 30)))
    df = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(31), "x": xs, "y": ys})
    )
    stats = KnnJoinStats()
    out = knn_join(
        df, df, k=5, vec_col=None, res=2, salt_threshold=8, stats=stats
    ).toPandas()
    assert len(out) == 31 * 5
    assert any(r.get("unresolved", 0) > 0 for r in stats.rounds), stats.rounds
    P = np.column_stack((xs, ys))
    assert stats.rounds[0]["unresolved"] == _ring1_unresolved(P, P, 5, 2)
    for qid in range(31):
        d = np.sqrt(((P - P[qid]) ** 2).sum(axis=1))
        want = sorted(range(31), key=lambda j: (d[j], j))[:5]
        got = list(out[out["query_id"] == qid].sort_values("rank")["neighbor_id"])
        assert got == want, qid


def test_knn_join_res0_grid_plan_multichunk(spark):
    """The res=0 brute-force tier must stay exact when it splits into
    multiple probe × build chunks (bounded-memory block grid + window
    merge), including with a high-dim vec column."""
    import pandas as pd

    rng = np.random.default_rng(7)
    n = 120
    V = rng.normal(size=(n, 8))
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": np.arange(n),
                "vec": [list(v) for v in V],
                "x": rng.random(n),
                "y": rng.random(n),
            }
        )
    )
    stats = KnnJoinStats()
    out = knn_join(df, df, k=4, res=0, grid_chunk_rows=32, stats=stats).toPandas()
    assert stats.rounds[0]["plan"] == "grid"
    assert stats.rounds[0]["bparts"] == 4 and stats.rounds[0]["pparts"] == 4
    assert len(out) == n * 4
    for qid in range(n):
        d = np.sqrt(((V - V[qid]) ** 2).sum(axis=1))
        want = sorted(range(n), key=lambda j: (round(d[j], 12), j))[:4]
        got = list(out[out["query_id"] == qid].sort_values("rank")["neighbor_id"])
        assert got == want, qid


def test_range_join_matches_bruteforce(spark):
    tbl, build, probes = _image_probe_frames(spark, n=300, n_probes=40)
    r = 0.05
    out = range_join(probes, build, r, res=3).toPandas()
    V = np.asarray(list(tbl["vec"]), dtype=np.float64)
    got = {(q, n) for q, n in zip(out["query_id"], out["neighbor_id"])}
    want = set()
    for i in range(40):
        d = np.sqrt(((V - V[i]) ** 2).sum(axis=1))
        for j in np.nonzero(d < r)[0]:  # STRICT <, reference rnn quirk
            want.add((tbl["id"][i], tbl["id"][j]))
    assert got == want


def test_knn_join_ring1_verdict_clustered(spark):
    """Clustered points over a sparse background, with salted hot cells:
    the in-kernel ring-1 verdict counts exactly the probes whose
    brute-force kth distance reaches past the ring-1 guarantee, and the
    escalated answers stay exact."""
    rng = np.random.default_rng(11)
    centers = np.array([[0.3, 0.3], [0.7, 0.6], [0.45, 0.8]])
    P = np.vstack(
        [c + 0.01 * rng.normal(size=(80, 2)) for c in centers]
        + [rng.random((40, 2))]
    )
    ids = np.arange(len(P))
    df = spark.createDataFrame(pd.DataFrame({"id": ids, "x": P[:, 0], "y": P[:, 1]}))
    stats = KnnJoinStats()
    out = knn_join(
        df, df, k=5, vec_col=None, res=3, salt_threshold=32, stats=stats
    ).toPandas()
    n_unres = stats.rounds[0]["unresolved"]
    assert n_unres > 0 and len(stats.rounds) >= 2, stats.rounds
    assert n_unres == _ring1_unresolved(P, P, 5, 3)
    _assert_ranked(out, P, P, ids, ids, 5)


def test_knn_join_probes_with_empty_halo(spark):
    """Probes whose ring-1 halo holds no build rows come back from the
    kernel with empty arrays and a failed verdict, so they escalate and
    still get exact answers."""
    rng = np.random.default_rng(3)
    B = 0.8 + 0.15 * rng.random((60, 2))
    P = 0.02 + 0.18 * rng.random((10, 2))
    build = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(60), "x": B[:, 0], "y": B[:, 1]})
    )
    pids = np.arange(1000, 1010)
    probes = spark.createDataFrame(
        pd.DataFrame({"id": pids, "x": P[:, 0], "y": P[:, 1]})
    )
    stats = KnnJoinStats()
    out = knn_join(probes, build, k=4, vec_col=None, res=3, stats=stats).toPandas()
    assert stats.rounds[0]["unresolved"] == 10
    _assert_ranked(out, P, B, pids, np.arange(60), 4)


@pytest.mark.parametrize(
    "id_type,large_var_types", [("int", False), ("string", False), ("string", True)]
)
def test_join_id_types_round_trip(spark, id_type, large_var_types):
    """32-bit and string ids keep their Spark types through the Arrow
    kernels of both joins, and the answers stay exact — also when Spark
    ships strings to the kernel as large_string."""
    from pyspark.sql.types import IntegerType, StringType

    rng = np.random.default_rng(5)
    n = 150
    P = rng.random((n, 2))
    df = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(n), "x": P[:, 0], "y": P[:, 1]})
    ).withColumn("id", F.col("id").cast(id_type))
    spark_type = IntegerType() if id_type == "int" else StringType()
    ids = np.arange(n) if id_type == "int" else np.array([str(i) for i in range(n)])
    conf = "spark.sql.execution.arrow.useLargeVarTypes"
    spark.conf.set(conf, str(large_var_types).lower())
    try:
        knn = knn_join(df, df, k=3, vec_col=None, res=2)
        rj = range_join(df, df, 0.1, vec_col=None, res=2)
        knn_rows, got = knn.toPandas(), {tuple(r) for r in rj.collect()}
    finally:
        spark.conf.unset(conf)
    for out in (knn, rj):
        assert out.schema["query_id"].dataType == spark_type
        assert out.schema["neighbor_id"].dataType == spark_type
    _assert_ranked(knn_rows, P, P, ids, ids, 3)
    D = Euclidean().cross(P, P)
    qi, bi = np.nonzero(D < 0.1)
    assert got == {(ids[q], ids[b], D[q, b]) for q, b in zip(qi, bi)}


def test_knn_join_packed_vec_bit_identical(spark):
    """The packed vec_col path (nested list<struct<..., list<double>>> cogroup
    input, res > 0) ranks by the vectors, not the index coordinates, and
    matches brute force bit for bit."""
    tbl, _, _ = _image_probe_frames(spark, n=300)
    V = 2.0 * np.asarray(list(tbl["vec"]), dtype=np.float64)
    tbl = tbl.assign(vec=[list(v) for v in V])
    build = spark.createDataFrame(tbl)
    probes = spark.createDataFrame(tbl.iloc[:50])
    out = knn_join(probes, build, k=6, res=3, coord_scale=2.0).toPandas()
    _assert_ranked(out, V[:50], V, list(tbl["id"][:50]), tbl["id"].to_numpy(), 6)
