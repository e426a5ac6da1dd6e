"""The closed-loop workloads (one client each) and the ingest block the
traced run uses as its write-side probe.

A workload has `setup()` (input generation, ingest and untimed warm-up
calls, all timed together as set-up), `oracle_setup()` (the oracles'
own preparation, not timed) and `ops(i)`, the operation calls of unit i
in order. Each operation call runs the package inside a span named after
the operation and returns (input rows read, check), where check() runs
the oracle and raises CheckFailed. Checks are deferred so that the
warm-up calls can be checked after the set-up timer stops. Inputs for
unit i are a pure function of (seed, i) and are generated outside the
span.
"""

from __future__ import annotations

import functools
import shutil
from pathlib import Path

import numpy as np
import pandas as pd

import inputs
import oracles
from tracing import Tracer

# pip_scan
PIP_ROWS = 1_200_000
PIP_SIDE = 4
# Warm-up: the first calls in a JVM pay JIT compilation and Python worker
# start-up whatever the row count, so they run on a small table; the full
# table's warm-up calls then only cover the slower tail of the JIT curve.
PIP_WARM_ROWS = 120_000
PIP_WARM_SMALL = 2
PIP_WARM_FULL = 2
# interactive_ops
OPS_ROWS = 50_000
OPS_SIDE = 16
OPS_TILE_ROWS = 5_000
OPS_KNN_K = 10
OPS_RES = 9
TILE_PX = 8
TILE_RES = 15
POLYFILL_RES = 7
# ingest block
INGEST_ROWS = 20_000
INGEST_SIDE = 16
DEDUP_DOCS = 500
DEDUP_EXACT = 20
DEDUP_NEAR = 20
DEDUP_THRESHOLD = 0.7

# Warm-up calls use inputs no timed call uses.
WARM_INDEX = 900_000


class CheckFailed(Exception):
    """An output differs from its oracle."""


def _check(op: str, i: int, seed: int, problem: str | None) -> None:
    if problem is not None:
        raise CheckFailed(f"{op} call {i} (seed {seed}): {problem}")


class Workload:
    name = ""
    OPS: tuple = ()
    WARM_UNITS = 0
    # operations warmed once more after the warm-up units: the ones whose
    # call time is still falling steeply after WARM_UNITS calls
    WARM_EXTRA: tuple = ()

    def __init__(self, spark, seed: int, run_dir: Path, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.dir = run_dir / self.name
        self.dir.mkdir(parents=True, exist_ok=True)
        self.tracer = tracer
        self.files = max(2, 2 * spark.sparkContext.defaultParallelism)

    def setup(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """The untimed warm-up units, then one call of each WARM_EXTRA
        operation; their checks wait in warm_checks."""
        calls = [call for j in range(self.WARM_UNITS) for call in self.ops(WARM_INDEX + j)]
        extra = WARM_INDEX + self.WARM_UNITS
        calls += [call for call in self.ops(extra) if call[0] in self.WARM_EXTRA]
        self.warm_checks = [
            (f"{op} call {fn.args[0]}", fn()[1]) for op, fn in calls
        ]

    def oracle_setup(self) -> None:
        """Oracle work that is not the system's set-up (not timed)."""

    def ops(self, i: int) -> list:
        """[(operation name, zero-argument call)] of unit i."""
        return [(op, functools.partial(getattr(self, f"_{op}"), i)) for op in self.OPS]


class PipScan(Workload):
    """pip_count over a raw images table; calls alternate between two
    seeded polygon sets."""

    name = "pip_scan"
    OPS = ("pip",)
    WARM_UNITS = PIP_WARM_SMALL + PIP_WARM_FULL

    def setup(self) -> None:
        # table 0 is the measured one, table 1 the small warm-up table
        self.tables = []
        for block, rows in enumerate((PIP_ROWS, PIP_WARM_ROWS)):
            table = inputs.image_table(self.seed, block, rows, PIP_SIDE)
            path = str(self.dir / f"raw{block}")
            inputs.write_table(table, path, self.files)
            self.tables.append((path, rows, table.column("caption")))
        self.sets = [inputs.city_polygons(self.seed, j) for j in (0, 1)]
        self.warm_up()

    def oracle_setup(self) -> None:
        self.expected = []
        for _, _, captions in self.tables:
            lat, lng = oracles.parse_captions(captions)
            self.expected.append([oracles.pip_expected(lat, lng, s) for s in self.sets])

    def _pip(self, i: int):
        from h3_rs_spark.operators.pip_join import pip_count
        from h3_rs_spark.sources import io

        t = int(WARM_INDEX <= i < WARM_INDEX + PIP_WARM_SMALL)
        path, n_rows, _ = self.tables[t]
        with self.tracer.span("pip", f"c{i}"):
            images = io.with_geo(self.spark.read.parquet(path), OPS_RES)
            rows = pip_count(self.spark, images, self.sets[i % 2]).collect()
        got = {r["polygon_id"]: int(r["n_images"]) for r in rows}
        return n_rows, lambda: _check(
            "pip", i, self.seed, oracles.check_pip_counts(got, self.expected[t][i % 2])
        )


class InteractiveOps(Workload):
    """Five short operator calls, round-robin, on a small pre-ingested
    table partitioned by bc0; a unit is one five-operation cycle."""

    name = "interactive_ops"
    OPS = ("knn", "pip", "tile", "polyfill", "compact")
    WARM_UNITS = 1
    WARM_EXTRA = ("knn",)

    def setup(self) -> None:
        from h3_rs_spark.sources import io

        self.source = inputs.image_table(self.seed, 0, OPS_ROWS, OPS_SIDE)
        raw = str(self.dir / "raw")
        inputs.write_table(self.source, raw, self.files)
        self.table = str(self.dir / "images")
        io.write_images(self.spark.read.parquet(raw), self.table, OPS_RES)
        self.images = io.read_images(self.spark, self.table)
        # tile slice s is the id range [first, last] of rows
        # s * OPS_TILE_ROWS .. (s + 1) * OPS_TILE_ROWS - 1
        ids = self.source.column("image_id")
        self.slices = [
            (ids[lo].as_py(), ids[lo + OPS_TILE_ROWS - 1].as_py())
            for lo in range(0, OPS_ROWS, OPS_TILE_ROWS)
        ]
        self.warm_up()

    def oracle_setup(self) -> None:
        self.ids = np.asarray(self.source.column("image_id").to_pylist(), dtype=object)
        self.lat, self.lng = oracles.parse_captions(self.source.column("caption"))
        self.pixels = inputs.image_pixels(self.seed, 0, OPS_ROWS, OPS_SIDE)

    def _knn(self, i: int):
        from h3_rs_spark.operators.knn import knn_join

        spark, seed, cid = self.spark, self.seed, f"c{i}"
        queries = inputs.knn_queries(seed, i)
        with self.tracer.span("knn", cid):
            got = knn_join(
                spark, self.images, spark.createDataFrame(queries), OPS_KNN_K, OPS_RES
            ).toPandas()

        def check():
            expected = oracles.knn_expected(self.lat, self.lng, self.ids, queries, OPS_KNN_K)
            _check("knn", i, seed, oracles.check_knn(got, expected, OPS_KNN_K))

        return OPS_ROWS, check

    def _pip(self, i: int):
        from h3_rs_spark.operators.pip_join import pip_count

        spark, seed, cid = self.spark, self.seed, f"c{i}"
        polys = inputs.city_polygons(seed, 1000 + i)
        with self.tracer.span("pip", cid):
            got = pip_count(spark, self.images, polys).collect()
        return OPS_ROWS, lambda: _check(
            "pip", i, seed,
            oracles.check_pip_counts(
                {r["polygon_id"]: int(r["n_images"]) for r in got},
                oracles.pip_expected(self.lat, self.lng, polys),
            ),
        )

    def _tile(self, i: int):
        from h3_rs_spark.operators.tiling import tile_assign
        from pyspark.sql import functions as F

        seed, cid = self.seed, f"c{i}"
        s = i % len(self.slices)
        first, last = self.slices[s]
        with self.tracer.span("tile", cid):
            sl = self.images.where(
                (F.col("image_id") >= first) & (F.col("image_id") <= last)
            )
            got = tile_assign(sl, tile_px=TILE_PX, res=TILE_RES).toPandas()

        def check():
            lo, hi = s * OPS_TILE_ROWS, (s + 1) * OPS_TILE_ROWS
            expected = oracles.tile_expected(self.ids[lo:hi], self.pixels[lo:hi], TILE_PX)
            _check("tile", i, seed, oracles.check_tiles(got, expected, TILE_RES))

        return OPS_TILE_ROWS, check

    def _polyfill(self, i: int):
        from h3_rs_spark.h3core import regions
        from h3_rs_spark.operators.polyfill_dist import polyfill_distributed

        spark, seed, cid = self.spark, self.seed, f"c{i}"
        ring = inputs.continent_ring(seed, i)
        with self.tracer.span("polyfill", cid):
            got = polyfill_distributed(spark, ring, [], POLYFILL_RES).toPandas()
        return len(got), lambda: _check(
            "polyfill", i, seed,
            oracles.check_cell_set(
                "polyfill", got["cell"], regions.polyfill(ring, [], POLYFILL_RES)
            ),
        )

    def _compact(self, i: int):
        from h3_rs_spark.h3core import hierarchy, regions
        from h3_rs_spark.operators.hierarchy_ops import compact_cells_df

        spark, seed, cid = self.spark, self.seed, f"c{i}"
        cells = regions.polyfill(inputs.compact_polygon(seed, i), [], OPS_RES)
        cells_pdf = pd.DataFrame({"cell": cells.astype(np.int64)})
        with self.tracer.span("compact", cid):
            got = compact_cells_df(spark.createDataFrame(cells_pdf)).toPandas()
        return len(cells), lambda: _check(
            "compact", i, seed,
            oracles.check_cell_set("compact", got["cell"], hierarchy.compact(cells)),
        )


class Ingest(Workload):
    """A fresh image block through two StageRunner stages (write_images,
    then minhash dedup to a keep list), then both stages re-issued; every
    output checked. Run once per traced run, as the write-side probe."""

    name = "ingest"

    def setup(self) -> None:
        self.stats: dict = {}

    def _stages(self, runner, i, raw, docs_df, images_path, captured, label=""):
        from h3_rs_spark.operators import dedup
        from h3_rs_spark.sources import io
        from pyspark.sql import functions as F

        spark, fp = self.spark, f"seed={self.seed}/block={i}"

        def write_stage():
            with self.tracer.span("write_images", f"c{i}"):
                io.write_images(spark.read.parquet(raw), images_path, OPS_RES)
            return (
                spark.read.parquet(images_path)
                .groupBy("bc0")
                .agg(F.count("*").alias("rows"), F.min("image_id").alias("first_id"),
                     F.max("image_id").alias("last_id"))
            )

        def dedup_stage():
            with self.tracer.span("dedup", f"c{i}"):
                pairs = dedup.minhash_lsh_dedup(
                    docs_df, jaccard_threshold=DEDUP_THRESHOLD
                ).localCheckpoint(eager=True)
                keep = dedup.near_dup_keep_list(docs_df, pairs)
            captured["pairs_df"] = pairs
            return keep.select("doc_id", "component", "keep")

        with self.tracer.span(f"{label}stage_images", f"c{i}"):
            manifest = runner.stage("images", fp, write_stage)
        with self.tracer.span(f"{label}stage_dedup", f"c{i}"):
            keep = runner.stage("dedup", fp, dedup_stage)
        # the oracle's collect and the telemetry jobs run outside the
        # dedup and stage spans, before the dedup caches are released
        if "pairs_df" in captured:
            captured["pairs"] = captured.pop("pairs_df").toPandas()
            captured["bucket"] = dedup.last_bucket_stats()
            captured["cc"] = dedup.last_cc_stats()
        dedup.release_cached()
        return manifest, keep

    def _ingest(self, i: int) -> int:
        """One unit call on block i, then its resume; returns rows read."""
        from h3_rs_spark.plans.stages import StageRunner

        block_dir = self.dir / f"b{i}"
        raw = str(block_dir / "raw")
        table = inputs.image_table(self.seed, i, INGEST_ROWS, INGEST_SIDE)
        inputs.write_table(table, raw, self.files)
        docs, exact, _near = inputs.dedup_corpus(
            self.seed, i, DEDUP_DOCS, DEDUP_EXACT, DEDUP_NEAR
        )
        docs_df = self.spark.createDataFrame(docs, "doc_id long, text string")
        images_path = str(block_dir / "images")
        root = str(block_dir / "stages")
        captured: dict = {}

        with self.tracer.span("ingest", f"c{i}"):
            runner = StageRunner(self.spark, root, run_id=f"b{i}")
            manifest, keep = self._stages(runner, i, raw, docs_df, images_path, captured)
        first = (manifest.toPandas(), keep.toPandas())

        with self.tracer.span("resume", f"c{i}"):
            again = StageRunner(self.spark, root, run_id=f"b{i}r")
            m2, k2 = self._stages(again, i, raw, docs_df, images_path, {}, "re_")
            second = (m2.toPandas(), k2.toPandas())

        self._verify(i, table, docs, exact, images_path, first, second, captured,
                     runner.history(), again.history())
        shutil.rmtree(block_dir, ignore_errors=True)
        self.stats[i] = {k: captured[k] for k in ("bucket", "cc") if k in captured}
        return INGEST_ROWS + DEDUP_DOCS

    def _verify(self, i, table, docs, exact, images_path, first, second, captured,
                hist1, hist2) -> None:
        seed = self.seed
        if [s for _, s in hist1] != ["ran", "ran"]:
            _check("stages", i, seed, f"first issue reported {hist1}")
        if [s for _, s in hist2] != ["resumed", "resumed"]:
            _check("resume", i, seed, f"re-issue reported {hist2}, not resumed twice")
        _check("resume", i, seed, oracles.check_same_rows("images manifest", first[0], second[0]))
        _check("resume", i, seed, oracles.check_same_rows("keep list", first[1], second[1]))
        written = self.spark.read.parquet(images_path).select("image_id", "caption", "lat", "lng").toPandas()
        want = table.select(["image_id", "caption"]).to_pandas()
        lat, lng = oracles.parse_captions(want["caption"])
        want = want.assign(lat=lat, lng=lng)
        _check("write_images", i, seed, oracles.check_same_rows("written images", want, written))
        manifest = first[0]
        if int(manifest["rows"].sum()) != len(want):
            _check("write_images", i, seed, f"manifest counts {int(manifest['rows'].sum())} rows, wrote {len(want)}")
        _check(
            "dedup", i, seed,
            oracles.check_dedup(
                docs["doc_id"].to_numpy(), captured["pairs"], first[1], exact,
                DEDUP_THRESHOLD,
            ),
        )


WORKLOADS = {w.name: w for w in (PipScan, InteractiveOps)}
