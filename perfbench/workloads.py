"""The benchmark's four workloads.

Each workload makes its input from the seed, runs one timed operation
through the engine's public functions, and checks that operation's output
outside the timed region. Input sizes are set so that one run, JVM start
included, fits the run budget on a 4-core host; see README.md for why each
workload exists and what it should move.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metric_search_spark import cells
from metric_search_spark.core.metrics import get_metric
from metric_search_spark.functions.spatial import cell_from_xy_col, coord_cols
from metric_search_spark.operators.geo import haversine_knn_join, synth_places
from metric_search_spark.operators.joins import KnnJoinStats, knn_join, range_join
from metric_search_spark.operators.tiling import tile_assign
from metric_search_spark.sources.synth import spark_images

K = 10
GEO_K = 5
# knn_join's defaults: target_per_cell=256, salt_threshold=max(4*256, 64)
SALT_THRESHOLD = 4 * 256
SAMPLE = 256


@dataclass
class OpResult:
    out: DataFrame
    rows: int
    stats: KnnJoinStats | None = None
    extra: dict = field(default_factory=dict)


def release(res: OpResult) -> None:
    """Drop the cache behind a result, so the next timed call recomputes
    instead of reading a cached plan."""
    getattr(res.out, "_msk_backing", res.out).unpersist()


def uniform_table(spark: SparkSession, n: int, seed: int) -> DataFrame:
    """bench.py's flagship input: image rows reduced to (id, x, y)."""
    imgs = spark_images(spark, n, seed=seed)
    xc, yc = coord_cols(F.col("phash"))
    return imgs.select(
        F.substring("image_id", 4, 12).cast("long").alias("id"),
        xc.alias("x"),
        yc.alias("y"),
    )


def exact_knn(ids: np.ndarray, xy: np.ndarray, probes: np.ndarray, k: int):
    """Brute force on the driver: for each probe row index, the k nearest
    build ids and their distances, ordered by (distance, id)."""
    metric = get_metric("euclidean")
    out = {}
    for s in range(0, len(probes), 32):
        rows = probes[s : s + 32]
        D = metric.cross(xy[rows], xy)
        for r, d in zip(rows, D):
            kth = np.partition(d, k - 1)[k - 1]
            cand = np.nonzero(d <= kth)[0]
            o = cand[np.lexsort((ids[cand], d[cand]))[:k]]
            out[int(ids[r])] = (ids[o].tolist(), d[o].tolist())
    return out


def exact_range(ids: np.ndarray, xy: np.ndarray, probes: np.ndarray, radius: float):
    """Brute force on the driver: each probe's sorted (neighbor id, distance)
    pairs with distance strictly below the radius."""
    metric = get_metric("euclidean")
    out = {}
    for s in range(0, len(probes), 32):
        rows = probes[s : s + 32]
        D = metric.cross(xy[rows], xy)
        for r, d in zip(rows, D):
            hit = np.nonzero(d < radius)[0]
            out[int(ids[r])] = sorted(zip(ids[hit].tolist(), d[hit].tolist()))
    return out


def collect_xy(tbl: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    pdf = tbl.select("id", "x", "y").toPandas()
    return pdf["id"].to_numpy(np.int64), pdf[["x", "y"]].to_numpy(np.float64)


class Workload:
    name = ""
    n = 0
    # untimed calls before timing starts; the first is checked in full.
    # The JVM is still compiling after one: measured, the first timed call
    # after a single warm-up ran 20-60% slower than the next.
    warmup_calls = 2

    def __init__(self, n: int | None = None):
        if n is not None:
            self.n = n

    def make_input(self, spark: SparkSession, seed: int) -> DataFrame:
        raise NotImplementedError

    def prepare(self, tbl: DataFrame, seed: int) -> None:
        """Driver-side expected answers for the checks (untimed)."""
        self.tbl = tbl

    def run(self, tracer) -> OpResult:
        raise NotImplementedError

    def check(self, res: OpResult) -> list[str]:
        """Cheap per-call checks; an empty list means the output is right."""
        return []

    def check_full(self, res: OpResult) -> list[str]:
        """Checks over the whole output, run on the first warm-up call."""
        return self.check(res)

    def layer_values(self, res: OpResult) -> dict[str, float]:
        """Per-layer counts the engine reports about itself."""
        return {}


class _KnnWorkload(Workload):
    """knn_join (k=10, 2-D fast path) of the table with itself, then the
    res-6 tile of each probe joined on and the rows counted."""

    def prepare(self, tbl: DataFrame, seed: int) -> None:
        super().prepare(tbl, seed)
        ids, xy = collect_xy(tbl)
        order = np.argsort(ids)
        ids, xy = ids[order], xy[order]
        probes = self.sample(ids, np.random.default_rng(seed + 1))
        self.expected = exact_knn(ids, xy, probes, K)

    def sample(self, ids: np.ndarray, rng) -> np.ndarray:
        return rng.choice(len(ids), size=min(SAMPLE, len(ids)), replace=False)

    def run(self, tracer) -> OpResult:
        stats = KnnJoinStats()
        with tracer.span("joins.call"):
            knn = knn_join(self.tbl, self.tbl, k=K, vec_col=None, stats=stats)
        with tracer.span("joins.materialize"):
            tiles = tile_assign(self.tbl, res=6).select(
                F.col("id").alias("query_id"), "tile"
            )
            rows = knn.join(tiles, "query_id").count()
        return OpResult(knn, rows, stats)

    def check(self, res: OpResult) -> list[str]:
        bad = []
        if res.rows != self.n * K:
            bad.append(f"{res.rows} result rows, expected n*k = {self.n * K}")
        got: dict[int, list] = {}
        for r in (
            res.out.where(F.col("query_id").isin(list(self.expected)))
            .select("query_id", "neighbor_id", "dist", "rank")
            .collect()
        ):
            got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.dist))
        for qid, (nids, dists) in self.expected.items():
            rows = sorted(got.get(qid, []))
            if [r[0] for r in rows] != list(range(1, K + 1)):
                bad.append(f"probe {qid}: ranks {[r[0] for r in rows]}")
            elif [r[1] for r in rows] != nids or [r[2] for r in rows] != dists:
                bad.append(f"probe {qid}: neighbors differ from brute force")
        return bad + self.check_shape(res)

    def check_shape(self, res: OpResult) -> list[str]:
        return []

    def check_full(self, res: OpResult) -> list[str]:
        per = res.out.groupBy("query_id").agg(
            F.count("*").alias("c"),
            F.min("rank").alias("lo"),
            F.max("rank").alias("hi"),
            F.countDistinct("rank").alias("nd"),
        )
        wrong = (F.col("c") != K) | (F.col("lo") != 1) | (F.col("hi") != K) | (
            F.col("nd") != K
        )
        row = per.select(
            F.count("*").alias("probes"),
            F.sum(F.when(wrong, 1).otherwise(0)).alias("wrong"),
        ).first()
        bad = self.check(res)
        if row.probes != self.n or row.wrong:
            bad.append(
                f"{row.probes} probes with results ({self.n} expected), "
                f"{row.wrong} without exactly ranks 1..{K}"
            )
        return bad

    def layer_values(self, res: OpResult) -> dict[str, float]:
        rounds = res.stats.rounds
        return {
            "joins.rounds": float(len(rounds)),
            "joins.unresolved_frac": rounds[0].get("unresolved", 0) / self.n,
        }


class FlagshipUniform(_KnnWorkload):
    """The ROADMAP headline: image rows spread uniformly, every probe
    resolved by the first (ring-1 halo) round, so the cogroup top-k kernel
    does most of the work."""

    name = "flagship_uniform"
    n = 50_000

    def make_input(self, spark, seed):
        return uniform_table(spark, self.n, seed)

    def check_shape(self, res):
        r = len(res.stats.rounds)
        return [] if r == 1 else [f"uniform input took {r} rounds, expected 1"]


class KnnClustered(_KnnWorkload):
    """Tight clusters over a sparse background: hot cells exceed the salt
    threshold, and background probes stay unresolved after ring 1, so an
    escalation round runs. This measures job count, driver gaps and round
    shape rather than the kernel."""

    name = "knn_clustered"
    n = 20_000
    points_per_cluster = 2_500
    sigma = 0.01

    def points(self, seed: int) -> tuple[np.ndarray, np.ndarray]:
        """(xy, is_background) for ids 0..n-1.

        The background is a jittered square lattice, not uniform points. Its
        spacing s is set from knn_join's default cell side c (256 rows per
        cell) so that a lattice probe's 10th neighbour, at about 2s = 1.3c,
        lies beyond the ring-1 guarantee (between c and 2c, by position) of
        many probes and within the ring-2 guarantee (at least 2c) of all.
        So every seed takes exactly two rounds. A uniform 0.4% background
        left the ring-4 round to chance, and the call time moved by half
        with the seed.
        """
        rng = np.random.default_rng(seed)
        res = max(0, min(20, round(math.log(self.n / 256, 4))))
        m = math.ceil(2.0**res / 0.725)
        g = (np.arange(m) + 0.5) / m
        lattice = np.stack(np.meshgrid(g, g), -1).reshape(-1, 2)
        lattice += rng.uniform(-0.1 / m, 0.1 / m, lattice.shape)
        n_cl = self.n - len(lattice)
        centers = rng.uniform(0.05, 0.95, size=(max(1, self.n // self.points_per_cluster), 2))
        lab = rng.integers(0, len(centers), n_cl)
        xy = np.vstack([centers[lab] + rng.normal(0.0, self.sigma, (n_cl, 2)), lattice])
        xy = np.minimum(np.mod(xy, 1.0), np.nextafter(1.0, 0.0))
        return xy, np.arange(self.n) >= n_cl

    def make_input(self, spark, seed):
        import pandas as pd

        xy, _ = self.points(seed)
        pdf = pd.DataFrame({"id": np.arange(self.n, dtype=np.int64), "x": xy[:, 0], "y": xy[:, 1]})
        return spark.createDataFrame(pdf)

    def sample(self, ids, rng):
        # a uniform sample would hold ~2 background probes; the escalated
        # probes are the ones this workload exists for, so take up to a
        # quarter of the sample from the background
        _, is_bg = self.points(self.seed)
        bg = np.nonzero(is_bg[ids])[0]
        cl = np.nonzero(~is_bg[ids])[0]
        n_bg = min(len(bg), SAMPLE // 4)
        return np.concatenate(
            [rng.choice(bg, n_bg, replace=False), rng.choice(cl, SAMPLE - n_bg, replace=False)]
        )

    def prepare(self, tbl, seed):
        self.seed = seed
        super().prepare(tbl, seed)

    def check_shape(self, res):
        r = len(res.stats.rounds)
        return [] if r >= 2 else [f"clustered input took {r} round(s); it must escalate"]

    def check_full(self, res):
        bad = super().check_full(res)
        res_ = res.stats.resolution
        hot = (
            self.tbl.groupBy(cell_from_xy_col(F.col("x"), F.col("y"), res_).alias("c"))
            .count()
            .where(F.col("count") > SALT_THRESHOLD)
            .count()
        )
        if hot == 0:
            bad.append(f"no cell at resolution {res_} holds more than {SALT_THRESHOLD} rows")
        return bad


class RangeTile(Workload):
    """range_join over the uniform table with ~31 pairs per probe, then the
    res-8 tile scan. Same cogroup boundary as the kNN join but with
    output-heavy results."""

    name = "range_tile"
    n = 50_000
    tile_res = 8

    @property
    def radius(self) -> float:
        # 0.0069 at 200k probes gives ~31 pairs per probe; scaled to keep
        # that at this n
        return 0.0069 * math.sqrt(200_000 / self.n)

    def make_input(self, spark, seed):
        return uniform_table(spark, self.n, seed)

    def prepare(self, tbl, seed):
        super().prepare(tbl, seed)
        ids, xy = collect_xy(tbl)
        probes = np.random.default_rng(seed + 1).choice(len(ids), SAMPLE, replace=False)
        self.expected = exact_range(ids, xy, probes, self.radius)
        tiles, counts = np.unique(
            cells.cell_encode(xy[:, 0], xy[:, 1], self.tile_res).astype(np.int64),
            return_counts=True,
        )
        self.expected_tiles = dict(zip(tiles.tolist(), counts.tolist()))
        self.pairs = None

    def tiles(self) -> DataFrame:
        return tile_assign(self.tbl, res=self.tile_res).groupBy("tile").count()

    def run(self, tracer):
        with tracer.span("joins.call"):
            rj = range_join(self.tbl, self.tbl, radius=self.radius, vec_col=None)
        with tracer.span("joins.materialize"):
            pairs = rj.count()
        with tracer.span("tiling.scan"):
            n_tiles = self.tiles().count()
        return OpResult(rj, pairs, extra={"tiles": n_tiles})

    def check(self, res):
        bad = []
        if self.pairs is not None and res.rows != self.pairs:
            bad.append(f"{res.rows} pairs, the checked first call gave {self.pairs}")
        if res.extra["tiles"] != len(self.expected_tiles):
            bad.append(f"{res.extra['tiles']} tiles, expected {len(self.expected_tiles)}")
        return bad

    def check_full(self, res):
        bad = self.check(res)
        got: dict[int, list] = {q: [] for q in self.expected}
        for r in res.out.where(F.col("query_id").isin(list(self.expected))).collect():
            got[r.query_id].append((r.neighbor_id, r.dist))
        for qid, pairs in self.expected.items():
            if sorted(got[qid]) != pairs:
                bad.append(f"probe {qid}: pair set differs from brute force")
        hist = {r.tile: r["count"] for r in self.tiles().collect()}
        if hist != self.expected_tiles:
            bad.append("tile histogram differs from cells.cell_encode")
        if not bad:
            self.pairs = res.rows
        return bad

    def layer_values(self, res):
        # one halo round by construction; no ring verdict
        return {"joins.rounds": 1.0, "joins.unresolved_frac": 0.0}


class GeoKnn5(Workload):
    """Geodesic kNN (k=5) over hotspot places: pure JVM, no Python UDF. The
    no-change workload for kernel-boundary work, and the only one that
    measures operators.geo."""

    name = "geo_knn5"
    n = 25_000

    def make_input(self, spark, seed):
        return synth_places(spark, self.n, seed=seed)

    @property
    def r0_m(self) -> float:
        # bench.py's density-matched first radius: 12 hotspot boxes of
        # (13.34 km)^2, expected 5-NN radius sqrt(6 / (pi * density)), x1.4
        return 1.4 * math.sqrt(6.0 * 2.136e9 / (math.pi * self.n))

    def run(self, tracer):
        with tracer.span("geo.call"):
            gk = haversine_knn_join(self.tbl, GEO_K, r0_m=self.r0_m)
            rows = gk.count()
        return OpResult(gk, rows)

    def check(self, res):
        if res.rows != self.n * GEO_K:
            return [f"{res.rows} rows, expected n*k = {self.n * GEO_K}"]
        return []

    def check_full(self, res):
        bad = self.check(res)
        w = Window.partitionBy("a_id").orderBy("rnk")
        per = (
            res.out.withColumn("prev_hav", F.lag("hav_e18").over(w))
            .withColumn("prev_mm", F.lag("dist_mm").over(w))
            .groupBy("a_id")
            .agg(
                F.count("*").alias("c"),
                F.min("rnk").alias("lo"),
                F.max("rnk").alias("hi"),
                F.countDistinct("rnk").alias("nd"),
                F.sum(
                    F.when(
                        (F.col("prev_hav") > F.col("hav_e18"))
                        | (F.col("prev_mm") > F.col("dist_mm")),
                        1,
                    ).otherwise(0)
                ).alias("dec"),
            )
        )
        wrong = (
            (F.col("c") != GEO_K)
            | (F.col("lo") != 1)
            | (F.col("hi") != GEO_K)
            | (F.col("nd") != GEO_K)
            | (F.col("dec") > 0)
        )
        row = per.select(
            F.count("*").alias("places"),
            F.sum(F.when(wrong, 1).otherwise(0)).alias("wrong"),
        ).first()
        if row.places != self.n or row.wrong:
            bad.append(
                f"{row.places} places with results ({self.n} expected), {row.wrong} "
                f"without {GEO_K} contiguous ranks and non-decreasing distances"
            )
        return bad


WORKLOADS = {w.name: w for w in (FlagshipUniform, KnnClustered, RangeTile, GeoKnn5)}
