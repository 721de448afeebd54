"""The benchmark's three workloads, driven only through tzengine's
public API: ``TzEngine`` constructors and operators, the ``probe``
kernels, ``tables.write_resumable``/``read_table``, plus the fixture
generators and ``OracleMap`` that make and check the inputs.

Each workload is seeded, generates its input outside every timed
region, and checks its outputs against code paths that do not share
the engine's compiled index: ``OracleMap`` (linear scan in area order)
and the dense ``geom`` helpers.
"""

from __future__ import annotations

import math
import os
import pickle
import time

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from harness import parquet_bytes
from tzengine import geom, probe, tables
from tzengine.engine import (
    DEFAULT_N_SHARDS, DEFAULT_PROBE_RES, TzEngine, cell_of_expr,
)
from tzengine.oracle import OracleMap

FULL_REGION = (-90.0, -180.0, 90.0, 180.0)
# rows of the set-up's warm-up job, spread over every partition
WARMUP_ROWS = 1024
# big_world and huge_world both cover lat, lon in [-63, 63]
COVERED = (-63.0, 63.0)


class Context:
    """What a workload needs from the run: the session, its core count,
    the seed and the staged-input cache."""

    def __init__(self, spark, cores, seed, cache):
        self.spark = spark
        self.cores = cores
        self.seed = seed
        self.cache = cache
        self.max_batch_rows = int(
            spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        )


class Workload:
    """Interface of one workload. ``plan`` holds the operator calls,
    ``action`` the Spark action; the timed job is both."""

    name = ""
    rows = 0
    # single-core kernels the timed job runs, for the layer ablations:
    # "first" (Q1 probe), "all" (rank-list probe), "distance", "knn"
    kernels: tuple[str, ...] = ()
    mode = "pipeline"
    # engine constructions per untraced run; setup_s is their median
    setup_reps = 3
    # seconds of untimed full-size jobs before the timed ones: on
    # assign_world and tag_images_commit job times fall by up to 40%
    # over a session's first jobs while the JVM compiles its hot paths
    burn_in_s = 5.0

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark

    # -- inputs and engine --------------------------------------------------
    def stage(self) -> None:
        raise NotImplementedError

    def build(self) -> TzEngine:
        raise NotImplementedError

    def parse_zones_s(self) -> float:
        """Time of an action that only parses the zone source (0 when
        the workload has no parse stage of its own)."""
        return 0.0

    # -- the job ------------------------------------------------------------
    def input_df(self):
        """The job's input DataFrame (cached unless the scan is part of
        the job)."""
        return self.df

    def warmup_df(self):
        """One small Arrow batch on every partition (WARMUP_ROWS rows in
        all), so that each Python worker pays its lazy costs: worker
        start, broadcast fetch and unpickle."""
        step = max(1, self.rows // WARMUP_ROWS)
        return self.input_df().filter(F.pmod(F.col("id"), F.lit(step)) == 0)

    def plan(self, eng: TzEngine, df):
        raise NotImplementedError

    def action(self, planned, out_dir: str):
        raise NotImplementedError

    def check(self, result, out_dir: str) -> list[str]:
        """Problems with one timed job's output (empty when correct)."""
        raise NotImplementedError

    def sample_check(self, eng: TzEngine) -> list[str]:
        """Problems found by the oracle check of a seeded sample."""
        raise NotImplementedError

    # -- layer ablations (traced run only) -----------------------------------
    def jvm_only(self, eng: TzEngine, out_dir: str) -> None:
        raise NotImplementedError

    def zero_udf(self, eng: TzEngine, out_dir: str) -> None:
        raise NotImplementedError

    def kernel_points(self) -> tuple[np.ndarray, np.ndarray]:
        raise NotImplementedError

    def hot_points(self) -> tuple[np.ndarray, np.ndarray, str] | None:
        """Hot-zone points of one Arrow batch and their zone, if any."""
        return None

    def batch_rows(self) -> int:
        """Rows of one Arrow batch as a Python worker receives it."""
        per_part = math.ceil(self.rows / self.df.rdd.getNumPartitions())
        return min(self.ctx.max_batch_rows, per_part)

    def write_stats(self, out_dir: str) -> dict:
        return {}


def _cache(df):
    df = df.cache()
    df.count()
    return df


def _uniform(seed: int, salt: int):
    """Uniform double in [0, 1) that is a pure function of (id, seed,
    salt), so the input does not depend on partitioning or core count."""
    h = F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt))
    return F.shiftrightunsigned(h, 11).cast("double") * (2.0 ** -53)


def _zero_first_udf(rank_np):
    rank_t = T.ShortType() if rank_np == np.int16 else T.IntegerType()

    @F.arrow_udf(rank_t)
    def zero_first(lat: pa.Array, lon: pa.Array) -> pa.Array:
        return pa.array(np.zeros(len(lat), rank_np))

    return zero_first, rank_t


def _zero_all_udf(rank_np, rank_t):
    # one element per row: the transport shape of a single-match list
    @F.arrow_udf(T.ArrayType(rank_t))
    def zero_all(lat: pa.Array, lon: pa.Array) -> pa.Array:
        n = len(lat)
        return pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1, dtype=np.int32)),
            pa.array(np.zeros(n, rank_np)),
        )

    return zero_all


# ---------------------------------------------------------------------------
# assign_world
# ---------------------------------------------------------------------------


class AssignWorld(Workload):
    """big454 world compiled in-process; cached narrow uniform points; the
    job groups by tzid and sums size(tzids), so both probe UDFs and the
    JVM name mapping run."""

    name = "assign_world"
    rows = 2_000_000
    kernels = ("first", "all")
    mode = "strict"
    SAMPLE = 48

    def stage(self):
        from tzengine.bigworld import big_world

        seed = self.ctx.seed
        self.pieces = big_world()
        self.df = _cache(
            self.spark.range(self.rows, numPartitions=self.ctx.cores).select(
                "id",
                (_uniform(seed, 1) * 126.0 - 63.0).alias("lat"),
                (_uniform(seed, 2) * 126.0 - 63.0).alias("lon"),
            )
        )
        self.reference = None

    def build(self):
        return TzEngine.for_everywhere(
            self.spark, self.pieces, world_version="big454"
        )

    def plan(self, eng, df):
        out = eng.assign_timezones(df, mode=self.mode)
        return out.groupBy("tzid").agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.size("tzids")).alias("m")
        )

    def action(self, planned, out_dir):
        return sorted(tuple(r) for r in planned.collect())

    def check(self, result, out_dir):
        problems = []
        n = sum(r[1] for r in result)
        if n != self.rows:
            problems.append(f"aggregate counts {n} rows, input has {self.rows}")
        if any(r[0] is None for r in result):
            problems.append("a covered point got no tzid")
        if self.reference is None:
            self.reference = result
        elif result != self.reference:
            problems.append("aggregate differs from the first timed job")
        return problems

    def sample_check(self, eng):
        rng = np.random.default_rng([self.ctx.seed, 2])
        ids = sorted(int(i) for i in rng.choice(self.rows, self.SAMPLE, replace=False))
        rows = eng.assign_timezones(
            self.df.filter(F.col("id").isin(ids)), mode=self.mode
        ).select("id", "lat", "lon", "tzid", "tzids").collect()
        oracle = OracleMap(self.pieces, *FULL_REGION)
        problems = [] if len(rows) == len(ids) else [
            f"{len(rows)} of {len(ids)} sampled ids came back"]
        for r in rows:
            want = oracle.get_overlapping_time_zones(r.lat, r.lon)
            have = (r.tzid, list(r.tzids))
            if have != ((want[0] if want else None), want):
                problems.append(f"id {r.id}: engine {have}, oracle {want}")
        return problems

    def jvm_only(self, eng, out_dir):
        self.df.groupBy(
            F.pmod(F.xxhash64("lat", "lon"), F.lit(eng.idx.n_pieces)).alias("k")
        ).agg(F.count(F.lit(1)), F.sum(F.lit(1))).collect()

    def zero_udf(self, eng, out_dir):
        rank_np = probe.rank_dtype(eng.idx)
        zf, rank_t = _zero_first_udf(rank_np)
        za = _zero_all_udf(rank_np, rank_t)
        self.df.select(
            zf("lat", "lon").alias("z"), za("lat", "lon").alias("zs")
        ).groupBy("z").agg(
            F.count(F.lit(1)), F.sum(F.size("zs"))
        ).collect()

    def kernel_points(self):
        pdf = self.df.filter(F.col("id") < self.batch_rows()).orderBy("id").toPandas()
        return pdf["lat"].to_numpy(), pdf["lon"].to_numpy()


# ---------------------------------------------------------------------------
# tag_images_commit
# ---------------------------------------------------------------------------


def _image_rows(batches):
    """mapInPandas body: fixture rows for the ids of each batch."""
    from tzengine import fixtures

    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash",
            "lat", "lon"]
    for pdf in batches:
        yield pd.DataFrame(
            [fixtures.row_record(int(i)) for i in pdf["id"]], columns=cols
        )


class TagImagesCommit(Workload):
    """Wide image rows read from staged Parquet, tagged by an engine
    loaded from a reference-format tar archive, then committed with
    write_resumable by zone_shard."""

    name = "tag_images_commit"
    rows = 20_000
    # the seed picks one of BLOCKS fixed blocks of fixture rows, so a
    # checkout stages at most BLOCKS inputs (about 10 s and 75 MB each)
    BLOCKS = 4
    kernels = ("first", "all")
    SAMPLE = 32

    def stage(self):
        from tzengine import fixtures
        from tzengine.tararchive import write_tar_archive
        from tzengine.zones import synthetic_world

        self.pieces = synthetic_world()

        def build_tar(d):
            write_tar_archive(self.pieces, os.path.join(d, "world.tar"),
                              "1:synth1")

        tar_dir = self.ctx.cache.get("synthtar-v1", build_tar)
        self.tar_path = os.path.join(tar_dir, "world.tar")
        block = self.ctx.seed % self.BLOCKS
        first = block * self.rows

        def build_images(d):
            out = os.path.join(d, "images")
            self.spark.range(
                first, first + self.rows, numPartitions=self.ctx.cores
            ).mapInPandas(_image_rows, fixtures.GEO_IMAGES_SCHEMA).write.parquet(out)

        img_dir = self.ctx.cache.get(
            f"images-b{block}-n{self.rows}", build_images
        )
        self.input_path = os.path.join(img_dir, "images")
        self.stage_bytes = parquet_bytes(self.input_path)
        self.df = self.spark.read.parquet(self.input_path)
        self.ids = [f"img{first + i:012d}" for i in range(self.rows)]

    def build(self):
        return TzEngine.from_tar_archive(self.spark, self.tar_path)

    def input_df(self):
        # a fresh read: listing and scanning the Parquet is part of the job
        return self.spark.read.parquet(self.input_path)

    def warmup_df(self):
        step = max(1, self.rows // WARMUP_ROWS)
        return self.input_df().filter(
            F.pmod(F.xxhash64("image_id"), F.lit(step)) == 0)

    def plan(self, eng, df):
        return eng.assign_timezones(df, mode=self.mode)

    def action(self, planned, out_dir):
        return tables.write_resumable(planned, out_dir, partition_col="zone_shard")

    def check(self, result, out_dir):
        problems = []
        if not result.get("complete"):
            problems.append(f"snapshot incomplete: {result}")
        if result.get("total_rows") != self.rows:
            problems.append(
                f"snapshot has {result.get('total_rows')} rows, input {self.rows}"
            )
        units = tables.committed_units(out_dir)
        if units != self.units:
            problems.append(
                f"{len(units)} committed units, {len(self.units)} distinct zone_shard values"
            )
        problems += self._readback_check(out_dir)
        return problems

    def _readback_check(self, out_dir):
        rows = {
            r.image_id: r
            for r in tables.read_table(self.spark, out_dir)
            .filter(F.col("image_id").isin(self.sample_ids))
            .select("image_id", "bytes", "caption", "tzid").collect()
        }
        problems = []
        for iid, (data, caption, tzid) in self.sample_expect.items():
            r = rows.get(iid)
            if r is None:
                problems.append(f"{iid} missing from the committed table")
            elif (bytes(r.bytes), r.caption, r.tzid) != (data, caption, tzid):
                problems.append(f"{iid}: read-back row differs from input")
        return problems

    def sample_check(self, eng):
        import pyarrow.parquet as pq

        # the units a complete commit must hold
        self.units = {
            tables.HIVE_NULL if r[0] is None else str(r[0])
            for r in eng.assign_timezones(self.df, mode=self.mode)
            .select("zone_shard").distinct().collect()
        }
        rng = np.random.default_rng([self.ctx.seed, 2])
        self.sample_ids = sorted(
            self.ids[i] for i in rng.choice(self.rows, self.SAMPLE, replace=False)
        )
        staged = pq.read_table(
            self.input_path,
            columns=["image_id", "bytes", "caption", "lat", "lon"],
            filters=[("image_id", "in", self.sample_ids)],
        ).to_pylist()
        oracle = OracleMap(self.pieces, *FULL_REGION)
        self.sample_expect = {
            r["image_id"]: (
                r["bytes"], r["caption"],
                oracle.get_overlapping_time_zone(r["lat"], r["lon"]),
            )
            for r in staged
        }
        if len(self.sample_expect) != self.SAMPLE:
            return [f"staged input holds {len(self.sample_expect)} of the sampled rows"]
        return []

    def _jvm_shard_write(self, df, out_dir):
        # the engine's own JVM shard expression: the same units and files
        # as the job, without the probe
        cell = cell_of_expr("lat", "lon", DEFAULT_PROBE_RES)
        df.withColumn(
            "zone_shard", F.pmod(F.xxhash64(cell), F.lit(DEFAULT_N_SHARDS)).cast("int")
        ).write.partitionBy("zone_shard").parquet(out_dir)

    def jvm_only(self, eng, out_dir):
        self._jvm_shard_write(self.input_df(), out_dir)

    def zero_udf(self, eng, out_dir):
        rank_np = probe.rank_dtype(eng.idx)
        zf, rank_t = _zero_first_udf(rank_np)
        za = _zero_all_udf(rank_np, rank_t)
        self._jvm_shard_write(
            self.input_df().select("*", zf("lat", "lon").alias("z"), za("lat", "lon").alias("zs")),
            out_dir,
        )

    def kernel_points(self):
        import pyarrow.parquet as pq

        t = pq.read_table(self.input_path, columns=["lat", "lon"])
        b = self.batch_rows()
        return (t.column("lat").to_numpy()[:b], t.column("lon").to_numpy()[:b])

    def write_stats(self, out_dir):
        import json

        commits = []
        cdir = os.path.join(out_dir, "_commits")
        for fn in sorted(os.listdir(cdir)):
            with open(os.path.join(cdir, fn)) as f:
                commits.append(json.load(f))
        # bytes as each commit recorded them; files counted per unit
        nbytes = sum(c["bytes"] for c in commits)
        nfiles = sum(
            fn.endswith(".parquet")
            for c in commits
            for fn in os.listdir(os.path.join(out_dir, f"zone_shard={c['unit']}"))
        )
        unit_rows = [c["rows"] for c in commits]
        return {
            "tables.stage_write_s": commits[0]["write_wall_sec"],
            "tables.bytes_written": float(nbytes),
            "tables.files_written": float(nfiles),
            "tables.units": float(len(commits)),
            "tables.unit_skew": max(unit_rows) / (sum(unit_rows) / len(unit_rows)),
            "write_amplification": nbytes / self.stage_bytes,
        }


# ---------------------------------------------------------------------------
# nearest_coastline
# ---------------------------------------------------------------------------


class NearestCoastline(Workload):
    """1.04M-vertex huge_world from staged GeoJSONL (ingest plus
    distributed compile). Uniform points plus a minority share inside
    one coastline zone; assign (Q1) -> distance_from_boundary ->
    knn_zones(k=3), all geodesic, both outputs aggregated."""

    name = "nearest_coastline"
    rows = 12_000
    # the share of points inside HOT_ZONE: dense points x segments in
    # one zone is the per-batch memory hazard this workload exposes
    HOT_SHARE = 0.1
    HOT_ZONE = "Zone/H10x10"
    kernels = ("first", "distance", "knn")
    # each set-up ingests and compiles the 1.04M-vertex world (about
    # 10 s), so two keep a run within the benchmark's time budget; its
    # job times show no fall over a session to burn in
    setup_reps = 2
    burn_in_s = 0.0
    SAMPLE = 8
    K = 3

    def stage(self):
        from tzengine.bigworld import huge_world
        from tzengine.geojson import world_to_geojson

        def build_world(d):
            pieces = huge_world()
            world_to_geojson(pieces, os.path.join(d, "world.geojsonl"), jsonl=True)
            with open(os.path.join(d, "pieces.pickle"), "wb") as f:
                pickle.dump(pieces, f)

        gj_dir = self.ctx.cache.get("hugeworld-v2", build_world)
        self.geojsonl = os.path.join(gj_dir, "world.geojsonl")
        # the oracle's copy of the world, written by build_world above
        with open(os.path.join(gj_dir, "pieces.pickle"), "rb") as f:
            self.pieces = pickle.load(f)

        rng = np.random.default_rng([self.ctx.seed, 3])
        n_hot = round(self.rows * self.HOT_SHARE)
        lats = rng.uniform(*COVERED, self.rows - n_hot)
        lons = rng.uniform(*COVERED, self.rows - n_hot)
        hot = next(p for p in self.pieces if p.zone_id == self.HOT_ZONE)
        lo_lon, lo_lat, hi_lon, hi_lat = hot.bbox
        got: list[np.ndarray] = []
        while sum(len(g) for g in got) < n_hot:
            cand = np.stack(
                [rng.uniform(lo_lon, hi_lon, 4 * n_hot),
                 rng.uniform(lo_lat, hi_lat, 4 * n_hot)], axis=1,
            )
            got.append(cand[geom.contains_inclusive(cand, hot.rings)])
        hot_pts = np.concatenate(got)[:n_hot]
        order = rng.permutation(self.rows)
        self.lats = np.concatenate([lats, hot_pts[:, 1]])[order]
        self.lons = np.concatenate([lons, hot_pts[:, 0]])[order]
        self.is_hot = (order >= self.rows - n_hot)
        self.df = _cache(self.spark.createDataFrame(pd.DataFrame(
            {"id": np.arange(self.rows, dtype=np.int64),
             "lat": self.lats, "lon": self.lons})))
        self.reference = None

    def _zones_df(self):
        from tzengine.geojson import zones_from_geojsonl

        return zones_from_geojsonl(self.spark, self.geojsonl)

    def parse_zones_s(self):
        t0 = time.perf_counter()
        self._zones_df().count()
        return time.perf_counter() - t0

    def build(self):
        return TzEngine.for_everywhere(
            self.spark, self._zones_df(), world_version="huge1", distributed=True
        )

    def plan(self, eng, df):
        out = eng.assign_timezones(df, mode=self.mode, include_all=False)
        out = eng.distance_from_boundary(out, zone_col="tzid", mode=self.mode)
        out = eng.knn_zones(out, k=self.K)
        return out.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("boundary_dist_m").alias("n_dist"),
            F.sum("boundary_dist_m").alias("dist_sum"),
            F.sum(F.size("nearest_tzids")).alias("n_near"),
            F.bit_xor(F.xxhash64("nearest_tzids")).alias("near_hash"),
        )

    def action(self, planned, out_dir):
        return tuple(planned.collect()[0])

    def check(self, result, out_dir):
        n, n_dist, dist_sum, n_near, near_hash = result
        problems = []
        if n != self.rows or n_dist != self.rows:
            problems.append(f"{n} rows, {n_dist} distances; input has {self.rows}")
        if n_near != self.K * self.rows:
            problems.append(f"{n_near} kNN entries, want {self.K * self.rows}")
        if self.reference is None:
            self.reference = result
        else:
            ref = self.reference
            # the float sum may be combined in another order across tasks
            if (n, n_dist, n_near, near_hash) != (ref[0], ref[1], ref[3], ref[4]) \
                    or not math.isclose(dist_sum, ref[2], rel_tol=1e-9):
                problems.append("aggregate differs from the first timed job")
        return problems

    def sample_check(self, eng):
        rng = np.random.default_rng([self.ctx.seed, 2])
        hot_ids = np.nonzero(self.is_hot)[0]
        ids = sorted(
            {int(i) for i in rng.choice(self.rows, self.SAMPLE // 2, replace=False)}
            | {int(i) for i in rng.choice(hot_ids, self.SAMPLE // 2, replace=False)}
        )
        sub = self.df.filter(F.col("id").isin(ids))
        out = eng.knn_zones(
            eng.distance_from_boundary(
                eng.assign_timezones(sub, mode=self.mode, include_all=False),
                zone_col="tzid",
                mode=self.mode,
            ),
            k=self.K,
        )
        got = {r.id: r for r in out.select(
            "id", "tzid", "boundary_dist_m", "nearest_tzids").collect()}

        oracle = OracleMap(self.pieces, *FULL_REGION)
        pts = np.stack([self.lons[ids], self.lats[ids]], axis=1)
        inside = np.stack(
            [geom.contains_inclusive(pts, rings) for _, rings in oracle.entries], axis=1
        )
        dist = np.stack(
            [geom.distance_from_boundary(pts, rings) for _, rings in oracle.entries],
            axis=1,
        )
        ranks = np.arange(len(oracle.entries))
        problems = []
        for j, i in enumerate(ids):
            r = got.get(i)
            if r is None:
                problems.append(f"id {i} missing from the output")
                continue
            hits = np.nonzero(inside[j])[0]
            if not len(hits):  # the Ocean filler covers every point
                problems.append(f"id {i}: no piece contains the point")
                continue
            tzid = oracle.entries[hits[0]][0]
            if r.tzid != tzid:
                problems.append(f"id {i}: tzid {r.tzid}, oracle {tzid}")
                continue
            want_d = dist[j, hits[0]]
            if not math.isclose(r.boundary_dist_m, want_d, rel_tol=1e-9, abs_tol=1e-6):
                problems.append(f"id {i}: distance {r.boundary_dist_m}, dense {want_d}")
            d = np.where(inside[j], 0.0, dist[j])
            names: list[str] = []
            for rank in np.lexsort((ranks, d)):
                zid = oracle.entries[rank][0]
                if zid not in names:
                    names.append(zid)
                if len(names) == self.K:
                    break
            if list(r.nearest_tzids) != names:
                problems.append(f"id {i}: kNN {list(r.nearest_tzids)}, dense {names}")
        return problems

    def jvm_only(self, eng, out_dir):
        self.df.agg(
            F.count(F.lit(1)), F.count("lat"), F.sum("lat"), F.sum(F.lit(3)),
            F.bit_xor(F.xxhash64("lat", "lon")),
        ).collect()

    def zero_udf(self, eng, out_dir):
        zf, _ = _zero_first_udf(probe.rank_dtype(eng.idx))
        k = self.K

        @F.arrow_udf(T.DoubleType())
        def zero_dist(zone: pa.Array, lat: pa.Array, lon: pa.Array) -> pa.Array:
            return pa.array(np.zeros(len(lat)))

        @F.arrow_udf(T.ArrayType(T.StringType()))
        def zero_knn(lat: pa.Array, lon: pa.Array) -> pa.Array:
            n = len(lat)
            return pa.ListArray.from_arrays(
                pa.array(np.arange(0, k * n + 1, k, dtype=np.int32)),
                pa.array(["Zone/H00x00"] * (k * n)),
            )

        zone = F.concat(F.lit("Zone/H"), zf("lat", "lon").cast("string"))
        self.df.select(
            zero_dist(zone, "lat", "lon").alias("d"),
            zero_knn("lat", "lon").alias("nn"),
        ).agg(
            F.count(F.lit(1)), F.count("d"), F.sum("d"), F.sum(F.size("nn")),
            F.bit_xor(F.xxhash64("nn")),
        ).collect()

    def kernel_points(self):
        b = self.batch_rows()
        return self.lats[:b], self.lons[:b]

    def hot_points(self):
        b = self.batch_rows()
        sel = np.nonzero(self.is_hot[:b])[0]
        return self.lats[sel], self.lons[sel], self.HOT_ZONE


WORKLOADS = {w.name: w for w in (AssignWorld, TagImagesCommit, NearestCoastline)}
