#!/usr/bin/env python
"""Dump .explain('formatted') for named registry queries to files.

Usage: python BENCH/dump_plans.py OUT_DIR SUFFIX name1 name2 ...
Writes OUT_DIR/<name>_<SUFFIX>.txt. Runs from whatever repo root is on
sys.path[0] — invoke with cwd set to the tree whose plans you want.

Besides registry queries, three names build their plans from a run:
- `geo_run_extract` runs the pipeline's pages and extract stages into a
  temporary directory and dumps the final (post-AQE) plan of the extract
  snapshot's write;
- `raster_tile` builds the raster_tiles benchmark's tile table (seed 11,
  perfbench/raster_tiles.py) and dumps the plan of one single-tile
  request for its expression `abs(img - img.select(["B3"])) * 2`;
- `raster_cog` runs that benchmark's COG export of the expression and
  dumps the final plan of every SQL execution the export ran, in order.
"""

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.getcwd())

OUT_DIR, SUFFIX = sys.argv[1], sys.argv[2]
NAMES = sys.argv[3:]
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def geo_run_extract_write_plan(spark) -> str:
    from geoproc_spark.plans import geo_run
    from geoproc_spark.plans.pipeline import Pipeline

    with tempfile.TemporaryDirectory() as d:
        Pipeline("plans", d).run(spark, geo_run.geo_stages(SF)[:2])
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    writes = [execs.apply(i) for i in range(execs.size())]
    writes = [e for e in writes if e.description().startswith("parquet at")]
    return writes[-1].physicalPlanDescription() + "\n"


def raster_plan(spark, name: str) -> str:
    sys.path.insert(0, os.path.join(os.getcwd(), "perfbench"))
    import raster_tiles as R

    with tempfile.TemporaryDirectory() as d:
        bench = R.RasterTiles(11, d)
        bench.build_inputs(spark)
        expr = bench._expression(spark)
        if name == "raster_tile":
            buf = io.StringIO()
            with redirect_stdout(buf):
                expr.tile(R.ZOOM, R.X0 + 1, R.Y0 + 1).explain("formatted")
            return buf.getvalue()
        store = spark._jsparkSession.sharedState().statusStore()
        first = store.executionsList().size()
        expr.export_geotiff_cog(
            os.path.join(d, "export.tif"), R.COG_SCALE, crs=R.COG_CRS,
            bounds=R.COG_BOUNDS, window_size=R.COG_WINDOW,
        )
        execs = store.executionsList()
        return "".join(
            f"== execution {i - first}: {execs.apply(i).description().split(' at ')[0]} ==\n"
            f"{execs.apply(i).physicalPlanDescription()}\n"
            for i in range(first, execs.size())
        )


def main():
    from pyspark.sql import functions as F

    from geoproc_spark import queries as Q
    from geoproc_spark.session import get_spark

    spark = get_spark(app_name="plans", master="local[8]", shuffle_partitions=8)
    spark.range(10).select(F.sum("id")).collect()
    os.makedirs(OUT_DIR, exist_ok=True)
    reg = {**Q.SPARK_QUERIES, **Q.EXTRA_SPARK_QUERIES}
    for name in NAMES:
        try:
            if name == "geo_run_extract":
                txt = geo_run_extract_write_plan(spark)
            elif name in ("raster_tile", "raster_cog"):
                txt = raster_plan(spark, name)
            else:
                df = reg[name](spark, SF)
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                txt = buf.getvalue()
        except Exception as exc:  # noqa: BLE001
            txt = f"ERROR building {name}: {exc!r}\n"
        path = os.path.join(OUT_DIR, f"{name}_{SUFFIX}.txt")
        with open(path, "w") as f:
            f.write(txt)
        n_ex = txt.count("Exchange")
        print(f"{name:30s} -> {path}  (Exchange x{n_ex})")
    spark.stop()


if __name__ == "__main__":
    main()
