"""The closed-loop workloads.

Each drives the engine only through its public functions and writes
every result to the ``noop`` sink. An op's output is checked against an
answer computed without the operator under test (``oracles.py``), outside
the op's timed span.

A workload provides ``setup()``, then per op ``prepare(k)`` (untimed),
``op(k)`` (timed), ``check(k, result)`` and ``after(k, result)``
(untimed), and for the traced run ``layer_metrics(ops)``.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import oracles as O
from harness import median, noop_write
from pythongis_spark import fixtures as FX
from pythongis_spark.images.ops import verify_images
from pythongis_spark.index.udfs import point_cell_expr
from pythongis_spark.lineage import read_checkpointed, run_checkpointed
from pythongis_spark.operators.knn import knn_join
from pythongis_spark.operators.spatial_join import point_in_polygon_join
from pythongis_spark.raster.model import RasterDef
from pythongis_spark.raster.zonal import rasterize, zonal_statistics

TILE_Z = 8
# the oracle rectangle zones are a fixed dimension table: callers pass
# the level and size hints, as bench.py does, so the join plans with no
# pre-jobs (the un-hinted cold path is what spatial_sessions measures)
ORACLE_PIP_Z = 6

# name -> unit of every per-layer metric a traced run reports; a layer a
# workload does not run reads 0 there
PER_LAYER = {
    "images.verify_s": "s", "fixtures.generate_s": "s",
    "python.boot_s": "s", "python.init_s": "s", "python.run_s": "s",
    "arrow.bytes_to_python": "B", "arrow.bytes_from_python": "B",
    "spatial_join.plan_s.warm": "s", "spatial_join.plan_s.cold": "s",
    "spatial_join.exec_s": "s", "knn.plan_s": "s", "knn.exec_s": "s",
    "zonal.plan_s": "s", "zonal.exec_s": "s",
    "rasterize.plan_s": "s", "rasterize.exec_s": "s",
    "index.tile_s": "s",
    "lineage.write_s": "s", "lineage.resume_s": "s",
    "lineage.jobs_per_write": "count", "lineage.jobs_per_resume": "count",
    "spark.jobs_per_op": "count", "spark.jobs_per_op.warm": "count",
    "spark.jobs_per_op.cold": "count", "spark.tasks_per_op": "count",
    "shuffle.bytes_written": "B", "sql.executions_per_op": "count",
}
PY_KEYS = ("python.boot_s", "python.init_s", "python.run_s",
           "arrow.bytes_to_python", "arrow.bytes_from_python")


def seed_base(seed: int) -> int:
    """First generated id for a seed: disjoint id ranges per seed, small
    enough that checksum products stay far from long overflow."""
    return 1_000_000 * (1 + abs(seed) % 997)


def image_rows(batches):
    """``mapInPandas`` body: one ``fixtures.make_image_row`` per id."""
    for pdf in batches:
        rows = [FX.make_image_row(i) for i in pdf["id"].tolist()]
        if rows:
            yield pd.DataFrame({k: [r[k] for r in rows] for k in rows[0]})


def image_batch(spark, start: int, n: int, parts: int):
    """Image+caption rows for ids [start, start + n), png/jpeg/bmp mix,
    in ``parts`` equal partitions."""
    return spark.range(start, start + n, numPartitions=parts).mapInPandas(
        image_rows, schema=FX.IMAGES_SCHEMA
    )


def observed_write(df, exprs) -> dict:
    """Noop-write ``df`` and return aggregates of it computed in the same
    job (``observe``), so checking the output costs no second pass."""
    obs = Observation()
    noop_write(df.observe(obs, *exprs))
    return obs.get


def sum_counts(records) -> dict:
    out: dict = {}
    for rec in records:
        for key, v in rec.items():
            out[key] = out.get(key, 0) + v
    return out


class Workload:
    cycle = 1
    items_per_op = 1
    # fewest warm-up ops; more run while op time is still falling
    warm_min = 3
    # fewest measured ops, so op_p50_s always has the same sample size
    min_ops = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.span = ctx.tracer.span
        self.counters = ctx.counters  # None unless traced
        self.parts = ctx.cores
        self.base = seed_base(ctx.seed)
        # traced run: Spark counts and layer probes per op
        self.op_counts: dict[int, dict] = {}
        self.probes: dict[int, dict] = {}

    def setup(self) -> None:
        pass

    def prepare(self, k: int, warm_up: bool) -> None:
        pass

    def after(self, k: int, result) -> None:
        """Untimed clean-up and traced-run probes; ``result`` is None when
        the op raised."""

    # -- traced run helpers ------------------------------------------
    def _begin(self, label: str):
        return self.counters.begin(label) if self.counters else None

    def _end(self, tok) -> None:
        if tok is not None:
            self.counters.end(tok)

    def _probe(self, k: int, name: str, fn):
        """Time one layer call on its own (a layer's output written alone
        to the noop sink, or a public call that writes), with its counts."""
        with self.counters.group(name) as counts, self.span(name):
            t0 = time.perf_counter()
            res = fn()
            self.probes.setdefault(k, {})[name] = time.perf_counter() - t0
        self.probes[k][name + ".counts"] = counts
        return res

    def _probe_median(self, ops, name: str) -> float:
        return median(self.probes[k][name] for k in ops
                      if name in self.probes.get(k, ()))

    def _probe_counts_median(self, ops, name: str, key: str = "jobs") -> float:
        return median(
            self.probes[k][name + ".counts"][key] for k in ops
            if name in self.probes.get(k, ())
        )

    def _counts_median(self, ops, key: str) -> float:
        return median(self.op_counts[k].get(key, 0) for k in ops if k in self.op_counts)

    def _span_median(self, name: str, ops) -> float:
        return median(self.ctx.tracer.durations(name, set(ops)))

    def layer_metrics(self, ops) -> dict:
        out = {name: 0.0 for name in PER_LAYER}
        for key in PY_KEYS:
            out[key] = self._counts_median(ops, key)
        out["spark.jobs_per_op"] = self._counts_median(ops, "jobs")
        out["spark.tasks_per_op"] = self._counts_median(ops, "tasks")
        out["shuffle.bytes_written"] = self._counts_median(ops, "shuffle_bytes")
        out["sql.executions_per_op"] = self._counts_median(ops, "sql_executions")
        return out


# ------------------------------------------------------------------
# image_tagging: the north-rule read path
# ------------------------------------------------------------------

class ImageTagging(Workload):
    """Read a batch, verify every image, tag with the zone containing it,
    assign a z8 tile, count per (zone, tile).

    The traced run also drives the write path after each op, as probes:
    encode a fresh batch, commit it with ``run_checkpointed``, and call
    it again, which must skip."""

    BATCH = 4096
    INGEST_BATCH = 1024
    items_per_op = BATCH
    # op time keeps falling for ~10 ops (JIT): after 6 warm-up ops the
    # first measured ops still ran up to 25% slower than the later ones
    warm_min = 10
    min_ops = 10

    def setup(self):
        self.zones = FX.oracle_zones(self.spark)
        self.path = os.path.join(self.ctx.work, "images")
        image_batch(self.spark, self.base, self.BATCH, self.parts).write.parquet(
            self.path
        )
        # ground truth by the pure-SQL route over the same files
        self.expected = O.duck_query(
            O.tagged_tile_counts_sql(os.path.join(self.path, "*.parquet"), TILE_Z)
        )

    def prepare(self, k, warm_up):
        self.warming = warm_up

    def _tag(self, df):
        with self.span("spatial_join.plan"):
            tagged = point_in_polygon_join(
                df, self.zones, point_id="image_id", z=ORACLE_PIP_Z, build_rows=0
            )
        with self.span("index.plan"):
            tile = point_cell_expr(F.col("lon"), F.col("lat"), TILE_Z)
        return tagged.withColumn("tile", tile)

    def op(self, k):
        tok = self._begin("op")
        df = self.spark.read.parquet(self.path)
        with self.span("images.plan"):
            ok = verify_images(df).filter(
                "ok_shape AND psnr_ok AND phash_ok AND caption_ok"
            ).select("image_id")
        pts = df.select("image_id", "lon", "lat").join(ok, "image_id", "left_semi")
        counts = self._tag(pts).groupBy("zone_id", "tile").agg(
            F.count(F.lit(1)).alias("n")
        )
        with self.span("op.write"):
            got = observed_write(
                counts,
                O.spark_checksum(["zone_id", "tile", "n"])
                + [F.sum("n").alias("total")],
            )
        self._end(tok)
        return got, tok

    def check(self, k, result) -> bool:
        got, _ = result
        # total == BATCH: every image passed verify_images and was tagged
        return (
            (got["rows"], got["checksum"], got["total"]) == tuple(self.expected)
            and got["total"] == self.BATCH
        )

    def after(self, k, result):
        if self.counters is None or result is None:
            return
        self.op_counts[k] = self.counters.collect(result[1])
        # the first warm-up op warms the probes; the other warm-up ops run
        # alone, as in the untraced run
        if self.warming and k > 0:
            return
        df = self.spark.read.parquet(self.path)
        self._probe(k, "images.verify", lambda: noop_write(verify_images(df)))
        self._probe(k, "spatial_join.exec", lambda: noop_write(
            self._tag(df.select("image_id", "lon", "lat"))
        ))
        self._probe(k, "index.tile", lambda: noop_write(df.select(
            "image_id", point_cell_expr(F.col("lon"), F.col("lat"), TILE_Z).alias("tile")
        )))
        # the write path costs ~5 s: every other op, so a traced run stays
        # well inside its time limit
        if k % 2 == 0:
            self._write_path(k)

    def _write_path(self, k: int) -> None:
        """Encode a fresh batch, tag and tile it, commit it, resume it;
        raises when the commit or the resume is wrong."""
        n = self.INGEST_BATCH
        start = self.base + self.BATCH + k * n
        fresh = image_batch(self.spark, start, n, self.parts)
        self._probe(k, "fixtures.generate", lambda: noop_write(fresh))
        tagged = self._tag(fresh)
        out = os.path.join(self.ctx.work, f"ingest-{k}")
        try:
            first = self._probe(k, "lineage.write",
                                lambda: run_checkpointed(tagged, out, "zone_id"))
            again = self._probe(k, "lineage.resume",
                                lambda: run_checkpointed(tagged, out, "zone_id"))
            rows = read_checkpointed(self.spark, out).count()
        finally:
            shutil.rmtree(out, ignore_errors=True)
        if (first["skipped"] or first["metrics"]["total_rows"] != n
                or rows != n or not again["skipped"]):
            raise RuntimeError(
                f"op {k}: write path committed {first.get('metrics')}, read "
                f"back {rows} rows, resume skipped={again['skipped']}"
            )

    def layer_metrics(self, ops):
        out = super().layer_metrics(ops)
        for name in ("images.verify", "spatial_join.exec", "index.tile",
                     "fixtures.generate", "lineage.write", "lineage.resume"):
            out[name + "_s"] = self._probe_median(ops, name)
        out["lineage.jobs_per_write"] = self._probe_counts_median(ops, "lineage.write")
        out["lineage.jobs_per_resume"] = self._probe_counts_median(ops, "lineage.resume")
        out["spatial_join.plan_s.warm"] = self._span_median("spatial_join.plan", ops)
        out["spark.jobs_per_op.warm"] = out["spark.jobs_per_op"]
        return out


# ------------------------------------------------------------------
# spatial_sessions: an analyst dashboard over one zone layer
# ------------------------------------------------------------------

class SpatialSessions(Workload):
    """One op is a session of five queries against one zone layer (holes
    and multipolygons). Two of every three sessions reuse a pool layer;
    the third uses a layer the run has never seen."""

    N_EVENTS = 100_000
    N_ZONES = 200
    # 2 pool layers + 1 fresh per cycle fit both the program's 8-slot
    # build cache and its 4-slot zonal cache, so pool sessions stay warm
    # (a pool of 4 would make every fresh layer evict a pool layer's
    # zone cells); a cold share of 1/3 keeps op_p50_s on the warm path
    POOL = 2
    K = 3
    BANDS = 3
    cycle = POOL + 1
    warm_min = 2 * POOL
    min_ops = 2 * cycle
    QUERIES = ("spatial_join", "knn", "zonal", "rasterize", "index")
    items_per_op = len(QUERIES)

    def setup(self):
        path = os.path.join(self.ctx.work, "events")
        lon, lat = FX.derived_lonlat_cols("id")
        self.spark.range(
            self.base, self.base + self.N_EVENTS, numPartitions=self.parts
        ).select(F.col("id").alias("event_id"), lon, lat).write.parquet(path)
        self.events = self.spark.read.parquet(path)
        t = pq.read_table(path)
        self.ev = tuple(
            t.column(c).to_numpy() for c in ("event_id", "lon", "lat")
        )
        self.tile_expected = O.duck_query(
            O.tile_counts_sql(os.path.join(path, "*.parquet"), TILE_Z)
        )
        self.rd = RasterDef(FX.RASTER_W, FX.RASTER_H, tuple(FX.RASTER_AFFINE))
        # exact sums: the registered zonal query casts values the same way
        self.raster = FX.raster_cells(
            self.spark, FX.RASTER_W, FX.RASTER_H, self.BANDS
        ).withColumn("val", F.col("val").cast("decimal(38,9)"))
        self.pool = [self._layer(self.base + j) for j in range(self.POOL)]
        self.cold_ops: set[int] = set()

    def _layer(self, layer_seed: int) -> dict:
        pdf = FX.golden_zones_pdf(self.N_ZONES, layer_seed)
        centers = pd.DataFrame({
            "zone_id": pdf["zone_id"],
            "cx": (pdf["bbox_xmin"] + pdf["bbox_xmax"]) / 2,
            "cy": (pdf["bbox_ymin"] + pdf["bbox_ymax"]) / 2,
        })
        return {
            "zones": self.spark.createDataFrame(pdf),
            "centers": self.spark.createDataFrame(centers),
            "exp": O.layer_expectations(
                pdf, centers, *self.ev, self.rd, self.BANDS, self.K
            ),
        }

    def prepare(self, k, warm_up):
        # warm-up fills the program's caches for the pool layers only
        if warm_up:
            self.layer = self.pool[k % self.POOL]
        elif k % self.cycle == self.POOL:
            self.layer = self._layer(self.base + 500_000 + k)
            self.cold_ops.add(k)
        else:
            self.layer = self.pool[k % self.cycle]

    def _query(self, q: str, layer: dict):
        """(frame, observed aggregates) of one dashboard query."""
        if q == "spatial_join":
            df = point_in_polygon_join(self.events, layer["zones"], point_id="event_id")
            return df, O.spark_checksum(["event_id", "zone_id"])
        if q == "knn":
            df = knn_join(
                self.events, layer["centers"], self.K, point_id="event_id",
                target_id="zone_id", t_lon="cx", t_lat="cy",
                point_cols=["event_id"],
            )
            return df, O.spark_checksum(["event_id", "zone_id", "knn_rank"]) + [
                F.sum("dist").alias("dist")
            ]
        if q == "zonal":
            df = zonal_statistics(
                layer["zones"], self.raster, self.rd,
                stats=["count", "sum", "min", "max"],
            )

            def tenths(c):
                return F.coalesce((F.col(c) * 10).cast("long"), F.lit(0))

            df = df.select("zone_id", "band", "count", tenths("sum").alias("s10"),
                           tenths("min").alias("min10"), tenths("max").alias("max10"))
            return df, O.spark_checksum(["zone_id", "band", "count", "s10"]) + [
                F.sum("min10").alias("min10"), F.sum("max10").alias("max10")
            ]
        if q == "rasterize":
            df = rasterize(layer["zones"], self.rd, valuekey="zone_id", stat="sum")
            df = df.select("x", "y", F.col("val").cast("long").alias("val"))
            return df, O.spark_checksum(["x", "y", "val"])

        df = self.events.select(
            point_cell_expr(F.col("lon"), F.col("lat"), TILE_Z).alias("tile")
        ).groupBy("tile").agg(F.count(F.lit(1)).alias("n"))
        return df, O.spark_checksum(["tile", "n"])

    def op(self, k):
        got, toks = {}, {}
        for q in self.QUERIES:
            tok = self._begin(q)
            with self.span(f"{q}.plan"):
                df, exprs = self._query(q, self.layer)
            with self.span(f"{q}.exec"):
                got[q] = observed_write(df, exprs)
            self._end(tok)
            toks[q] = tok
        return got, toks

    def check(self, k, result) -> bool:
        got, _ = result
        exp = self.layer["exp"]

        def sums(g):
            return (g["rows"], g["checksum"])

        return (
            sums(got["spatial_join"]) == exp["pip"]
            and sums(got["knn"]) == exp["knn"]
            and math.isclose(got["knn"]["dist"], exp["knn_dist"], rel_tol=1e-9)
            and sums(got["zonal"]) == exp["zonal"]
            and (got["zonal"]["min10"], got["zonal"]["max10"]) == exp["zonal_minmax"]
            and sums(got["rasterize"]) == exp["rasterize"]
            and sums(got["index"]) == tuple(self.tile_expected)
        )

    def after(self, k, result):
        if self.counters is None or result is None:
            return
        per_query = {q: self.counters.collect(t) for q, t in result[1].items()}
        self.op_counts[k] = sum_counts(per_query.values())

    def layer_metrics(self, ops):
        out = super().layer_metrics(ops)
        warm = [k for k in ops if k not in self.cold_ops]
        cold = [k for k in ops if k in self.cold_ops]
        out["spatial_join.plan_s.warm"] = self._span_median("spatial_join.plan", warm)
        out["spatial_join.plan_s.cold"] = self._span_median("spatial_join.plan", cold)
        out["spark.jobs_per_op.warm"] = self._counts_median(warm, "jobs")
        out["spark.jobs_per_op.cold"] = self._counts_median(cold, "jobs")
        for q in ("knn", "zonal", "rasterize"):
            out[f"{q}.plan_s"] = self._span_median(f"{q}.plan", warm)
        for q in ("spatial_join", "knn", "zonal", "rasterize"):
            out[f"{q}.exec_s"] = self._span_median(f"{q}.exec", warm)
        out["index.tile_s"] = self._span_median("index.exec", ops)
        return out


WORKLOADS = {
    "image_tagging": ImageTagging,
    "spatial_sessions": SpatialSessions,
}
