"""Per-layer probes for the traced run.

Each probe times calls into one layer's public functions from outside,
on seeded inputs, and reports a rate or a time (median of REPEATS).
Kernel probes run on one pinned core with one BLAS thread.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

import pandas as pd

import inputs

REPEATS = 3
POINTS = 200_000
UDF_ROWS = 200_000
SOURCE_ROWS = 100_000
PROBE_INDEX = 800_000  # input index no workload call uses


def _median_s(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def kernel_probes(seed: int) -> dict:
    from h3_rs_spark import h3core
    from h3_rs_spark.h3core import regions

    lat, lng = inputs.image_points(seed, PROBE_INDEX, POINTS)
    polys = inputs.city_polygons(seed, PROBE_INDEX)
    ext = next(iter(polys.values()))[0]
    seed_cells = h3core.geo_to_h3(lat[:2000], lng[:2000], 9)
    fill = regions.polyfill(inputs.compact_polygon(seed, PROBE_INDEX), [], 9)
    ring_cells = len(h3core.k_ring(seed_cells, 5)[1])
    covers = [inputs.city_polygons(seed, PROBE_INDEX + j, count=1) for j in range(REPEATS)]

    cover_times = []
    for p in covers:
        e = next(iter(p.values()))[0]
        t0 = time.perf_counter()
        regions.polygon_cover(e, [], 9)
        cover_times.append(time.perf_counter() - t0)
    return {
        "h3core.geo_to_h3_r9.rows_per_s": POINTS / _median_s(lambda: h3core.geo_to_h3(lat, lng, 9)),
        "h3core.geo_to_h3_r15.rows_per_s": POINTS / _median_s(lambda: h3core.geo_to_h3(lat, lng, 15)),
        "h3core.points_in_polygon.rows_per_s": POINTS / _median_s(
            lambda: h3core.points_in_polygon(lng, lat, ext, [])
        ),
        "h3core.polygon_cover_s": statistics.median(cover_times),
        "h3core.k_ring.cells_per_s": ring_cells / _median_s(lambda: h3core.k_ring(seed_cells, 5)),
        "h3core.compact.cells_per_s": len(fill) / _median_s(lambda: h3core.compact(fill)),
    }


def ingest_probe(spark, wl, tracer, seed: int, log):
    """One traced ingest block (write_images and dedup through two
    StageRunner stages, then resumed), every output checked. Returns the
    Ingest object holding its spans' call, or None if it failed."""
    from workloads import Ingest

    ingest = Ingest(spark, seed, wl.dir.parent, tracer)
    ingest.setup()
    tracer.enabled = True
    try:
        ingest._ingest(PROBE_INDEX)
    except Exception:  # reported as a failed call, like any timed call
        log(f"INGEST PROBE FAILED (seed {seed})\n{traceback.format_exc()}")
        return None
    finally:
        tracer.enabled = False
    return ingest


def run_probes(spark, wl, tracer, seed: int, log):
    """Every probe; kernel probes pinned to one core. Returns (metrics,
    the ingest probe or None if its output check failed)."""
    from h3_rs_spark.functions import geo_to_h3_udf, h3_to_parent_col
    from h3_rs_spark.operators.pip_join import build_polygon_cells
    from h3_rs_spark.sources import datagen, io

    cpus = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {min(cpus)})
    try:
        out = kernel_probes(seed)
    finally:
        os.sched_setaffinity(0, cpus)

    lat, lng = inputs.image_points(seed, PROBE_INDEX + 1, UDF_ROWS)
    pts = spark.createDataFrame(pd.DataFrame({"lat": lat, "lng": lng})).cache()
    pts.count()
    udf_s = _median_s(lambda: _noop(pts.select(geo_to_h3_udf(9)("lat", "lng").alias("cell"))))
    cells = pts.select(geo_to_h3_udf(9)("lat", "lng").alias("cell")).cache()
    cells.count()
    parent_s = _median_s(lambda: _noop(cells.select(h3_to_parent_col("cell", 5).alias("p"))))
    pts.unpersist()
    cells.unpersist()
    nproc = spark.sparkContext.defaultParallelism
    out["functions.geo_to_h3_udf.rows_per_s"] = UDF_ROWS / udf_s
    out["functions.udf_over_kernel"] = (
        out["functions.geo_to_h3_udf.rows_per_s"] / nproc
    ) / out["h3core.geo_to_h3_r9.rows_per_s"]
    out["functions.h3_to_parent_col.rows_per_s"] = UDF_ROWS / parent_s

    raw = str(wl.dir / "probe_raw")
    inputs.write_table(
        inputs.image_table(seed, PROBE_INDEX, SOURCE_ROWS, 4), raw, wl.files
    )
    scan_s = _median_s(
        lambda: _noop(io.with_geo(spark.read.parquet(raw)).select("lat", "lng"))
    )
    gen_s = _median_s(
        lambda: _noop(datagen.generate_images(spark, SOURCE_ROWS, 4, 4, fast_bytes=True))
    )
    out["sources.scan_parse.rows_per_s"] = SOURCE_ROWS / scan_s
    out["sources.generate_s"] = gen_s

    build = build_polygon_cells(inputs.city_polygons(seed, PROBE_INDEX))
    out["operators.pip.boundary_cell_share"] = float(build["is_boundary"].mean())
    return out, ingest_probe(spark, wl, tracer, seed, log)
