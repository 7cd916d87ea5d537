"""Distributed spatial joins (planar, on x/y columns).

The reference's domain is spatial ETL (PostGIS/Oracle-SDE tables —
`/root/reference/datum/postgis/table.py`), but it delegates every spatial
predicate to the database.  A Spark engine has to supply the join
strategy itself: the naive ``ST_DWithin`` translation is a cross join
with a distance filter — quadratic, dead at any scale.

``radius_join`` is the standard uniform-grid decomposition: snap both
sides to square cells of side ``radius``; then any pair within
``radius`` must land in the same cell OR an adjacent one, so expanding
ONE side to its 3×3 cell neighborhood and equi-joining on the cell key
finds every candidate exactly once (the un-expanded side keeps its
single home cell, so no pair dedup is ever needed).  The exact
squared-distance filter then removes false positives.  One hash
shuffle on the cell key; candidate count is bounded by local density,
not table size.  Hot cells (downtown effects) are ordinary join skew —
AQE skew-split or ``skew.salted_join`` applies unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geometry_sql import register_geometry_sql_functions


def _cell(x, y, radius: float):
    return (F.floor(x / radius).cast("long"),
            F.floor(y / radius).cast("long"))


def radius_join(left: DataFrame, right: DataFrame,
                lx: str, ly: str, rx: str, ry: str,
                radius: float,
                dist_col: str = "dist") -> DataFrame:
    """All pairs (left row, right row) with planar distance ≤ ``radius``
    (closed boundary, ``ST_DWithin`` semantics).  Output = left columns +
    right columns + ``dist_col``; column names must not collide (alias
    beforehand).  See module docstring for the grid strategy."""
    cx, cy = _cell(F.col(lx), F.col(ly), radius)
    lt = left.withColumn("__cx", cx).withColumn("__cy", cy)
    # right side visits its 3×3 neighborhood — each candidate pair meets
    # in exactly one cell: the LEFT point's home cell
    rcx, rcy = _cell(F.col(rx), F.col(ry), radius)
    off = F.explode(F.array(*[F.struct(F.lit(dx).alias("dx"),
                                       F.lit(dy).alias("dy"))
                              for dx in (-1, 0, 1) for dy in (-1, 0, 1)]))
    rt = (right.withColumn("__o", off)
               .withColumn("__cx", rcx + F.col("__o.dx"))
               .withColumn("__cy", rcy + F.col("__o.dy"))
               .drop("__o"))
    # plain multiplications, not pow(): x*x is the same IEEE op in every
    # engine, so a boundary pair (dist² == radius²) lands on the same side
    # of the filter wherever the query is re-derived
    dx, dy = F.col(lx) - F.col(rx), F.col(ly) - F.col(ry)
    d2 = dx * dx + dy * dy
    return (lt.join(rt, ["__cx", "__cy"])
              .filter(d2 <= F.lit(float(radius) * float(radius)))
              .withColumn(dist_col, F.sqrt(d2))
              .drop("__cx", "__cy"))


def nearest_neighbor_join(left: DataFrame, right: DataFrame,
                          lx: str, ly: str, rx: str, ry: str,
                          left_id: str, max_radius: float,
                          dist_col: str = "dist") -> DataFrame:
    """Each left row's single nearest right row within ``max_radius``
    (ties broken by the right side's column order via min_by struct) —
    the geocode-snap / nearest-facility operator.  Built on
    :func:`radius_join`; left rows with no neighbor inside the radius
    are absent from the output (semi-join semantics, like a bounded KNN
    with k=1)."""
    paired = radius_join(left, right, lx, ly, rx, ry, max_radius,
                         dist_col=dist_col)
    rcols = [c for c in right.columns]
    pick = F.expr(f"min_by(struct({', '.join(rcols + [dist_col])}), "
                  f"struct({dist_col}, {rcols[0]}))")
    lcols = [c for c in left.columns]
    out = (paired.groupBy(*lcols).agg(pick.alias("__nn")))
    for c in rcols + [dist_col]:
        out = out.withColumn(c, F.col(f"__nn.{c}"))
    return out.drop("__nn")


def point_in_polygon_join(points: DataFrame, polys: DataFrame,
                          px: str, py: str, wkt_col: str,
                          cell_size: float) -> DataFrame:
    """All (point row, polygon row) pairs where the point lies inside
    the polygon (``ST_Contains(poly, point)`` — even-odd ray cast over
    every ring, so POLYGON holes and MULTIPOLYGON parts are honored;
    the exact predicate is ``st__pip``, `functions/geometry_sql.py`).

    Scale shape — the naive translation is a cross join with a per-pair
    ray cast, quadratic and dead at 100 TB.  Here each polygon is
    expanded once to the grid cells covering its ENVELOPE (side
    ``cell_size``), each point maps to its single home cell, and an
    equi-join on the cell key yields the candidates: one hash shuffle,
    candidate count bounded by local density.  A point's home cell
    appears at most once per polygon, so no pair dedup is needed.  The
    exact ray cast then runs only on candidates, JVM-side (Catalyst
    array lambdas, no Python).  Pick ``cell_size`` near the typical
    polygon diameter: bigger → fewer replicas per polygon, more false
    candidates; smaller → the reverse.  Giant polygons (continent vs
    city parcels) explode to many cells — ordinary replication skew;
    split them upstream or raise ``cell_size``.

    Output = point columns + polygon columns; names must not collide
    (alias beforehand).  The reference delegates this predicate to
    PostGIS (`/root/reference/datum/postgis/table.py:157-158`); this is
    the engine-native spelling.
    """
    register_geometry_sql_functions(points.sparkSession)
    cs = float(cell_size)
    env = F.expr(f"flatten(st__ringcoords({wkt_col}))")
    pt = (polys
          .withColumn("__env", env)
          .withColumn("__cx", F.explode(F.sequence(
              F.floor(F.expr("array_min(transform(__env, v -> v.x))") / cs),
              F.floor(F.expr("array_max(transform(__env, v -> v.x))") / cs))))
          .withColumn("__cy", F.explode(F.sequence(
              F.floor(F.expr("array_min(transform(__env, v -> v.y))") / cs),
              F.floor(F.expr("array_max(transform(__env, v -> v.y))") / cs))))
          .drop("__env"))
    pts = (points
           .withColumn("__cx", F.floor(F.col(px) / cs).cast("long"))
           .withColumn("__cy", F.floor(F.col(py) / cs).cast("long")))
    return (pts.join(pt, ["__cx", "__cy"])
               .filter(F.expr(f"st__pip({px}, {py}, {wkt_col})"))
               .drop("__cx", "__cy"))


def _with_env_cells(df: DataFrame, wkt_col: str, cs: float,
                    prefix: str) -> DataFrame:
    """Envelope bounds as columns + one row per covering grid cell."""
    env = F.expr(f"flatten(st__ringcoords({wkt_col}))")
    return (df
            .withColumn("__env", env)
            .withColumn(f"{prefix}minx",
                        F.expr("array_min(transform(__env, v -> v.x))"))
            .withColumn(f"{prefix}maxx",
                        F.expr("array_max(transform(__env, v -> v.x))"))
            .withColumn(f"{prefix}miny",
                        F.expr("array_min(transform(__env, v -> v.y))"))
            .withColumn(f"{prefix}maxy",
                        F.expr("array_max(transform(__env, v -> v.y))"))
            .withColumn("__cx", F.explode(F.sequence(
                F.floor(F.col(f"{prefix}minx") / cs),
                F.floor(F.col(f"{prefix}maxx") / cs))))
            .withColumn("__cy", F.explode(F.sequence(
                F.floor(F.col(f"{prefix}miny") / cs),
                F.floor(F.col(f"{prefix}maxy") / cs))))
            .drop("__env"))


def polygon_overlay_join(left: DataFrame, right: DataFrame,
                         lwkt: str, rwkt: str,
                         cell_size: float,
                         area_col: str = "inter_area",
                         wkt_out: str | None = "inter_wkt") -> DataFrame:
    """Distributed overlay analysis (parcels × zoning districts): every
    (left, right) polygon pair with a non-empty intersection, plus the
    clipped geometry and its area — the composition PostGIS users write
    as ``ST_Intersection`` inside a spatial join.

    Scale shape: both sides expand once to the grid cells covering
    their ENVELOPES; a pair meets in every shared cell, so it is kept
    only in its CANONICAL cell — the lower-left cell of the two
    envelopes' overlap (the interval-join bucket-dedup discipline:
    no distinct, no second shuffle).  An envelope-overlap test then
    drops disjoint-bbox candidates before the expensive part, and the
    Martinez–Rueda clipper (Arrow-batched UDF) runs ONLY on surviving
    candidates.  One hash shuffle on the cell key; clipper invocations
    are bounded by true spatial locality, never |L|×|R|.

    Output = left columns + right columns + ``area_col`` (+ ``wkt_out``
    unless None); pairs with zero intersection area are dropped.
    Column names must not collide (alias beforehand).
    """
    register_geometry_sql_functions(left.sparkSession)
    cs = float(cell_size)
    lt = _with_env_cells(left, lwkt, cs, "__l")
    rt = _with_env_cells(right, rwkt, cs, "__r")
    canonical = (
        (F.col("__cx") == F.floor(F.greatest("__lminx", "__rminx") / cs))
        & (F.col("__cy") == F.floor(F.greatest("__lminy", "__rminy") / cs)))
    env_overlap = ((F.col("__lminx") <= F.col("__rmaxx"))
                   & (F.col("__rminx") <= F.col("__lmaxx"))
                   & (F.col("__lminy") <= F.col("__rmaxy"))
                   & (F.col("__rminy") <= F.col("__lmaxy")))
    inter = F.expr(f"st_intersection({lwkt}, {rwkt})")
    out = (lt.join(rt, ["__cx", "__cy"])
             .filter(env_overlap & canonical)
             .withColumn("__iw", inter)
             .withColumn(area_col, F.expr("st_area(__iw)"))
             .filter(F.col(area_col) > 0))
    if wkt_out is not None:
        out = out.withColumn(wkt_out, F.col("__iw"))
    return out.drop("__iw", "__cx", "__cy",
                    "__lminx", "__lmaxx", "__lminy", "__lmaxy",
                    "__rminx", "__rmaxx", "__rminy", "__rmaxy")


def dissolve(df: DataFrame, group_cols: list[str], wkt_col: str,
             geom_out: str = "geom", pre_fold: int = 1) -> DataFrame:
    """ST_Union as a GROUP aggregate — dissolve boundaries: one merged
    (MULTI)POLYGON per group (``SELECT region, ST_Union(geom) ... GROUP
    BY region``, the classic PostGIS dissolve).

    Union is associative and commutative, so the fold distributes like
    any combinable aggregate: with ``pre_fold > 1`` a first
    ``applyInPandas`` stage unions within ``(group, hash(wkt) %
    pre_fold)`` sub-buckets and a second stage merges the ≤ ``pre_fold``
    partials per group — a giant group (country-sized dissolve of 10⁶
    parcels) becomes ``pre_fold`` parallel tasks plus one small merge,
    instead of one straggler task.  Each stage is a Martinez tree-fold
    over Arrow batches; geometries move at most twice.

    Output = ``group_cols`` + ``geom_out`` (WKT).
    """
    import pandas as pd

    from ..functions.clipping import (_union_fold, parse_wkt, to_wkt)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pieces = []
        for w in pdf[wkt_col]:
            if w is None:
                continue
            kind, data = parse_wkt(w)
            if kind == "polygon" and data:
                pieces.append(data)
        merged = to_wkt(_union_fold(pieces))
        out = {c: [pdf[c].iloc[0]] for c in group_cols}
        out[wkt_col] = [merged]
        return pd.DataFrame(out)

    gtypes = ", ".join(f"{c} {df.schema[c].dataType.simpleString()}"
                       for c in group_cols)
    schema = f"{gtypes}, {wkt_col} string"
    cur = df.select(*group_cols, wkt_col)
    if pre_fold > 1:
        def fold_salted(pdf: pd.DataFrame) -> pd.DataFrame:
            out = fold(pdf)
            out["__s"] = [pdf["__s"].iloc[0]]
            return out

        salt = (F.abs(F.xxhash64(F.col(wkt_col))) % pre_fold)
        cur = (cur.withColumn("__s", salt)
                  .groupBy(*group_cols, "__s")
                  .applyInPandas(fold_salted,
                                 f"{gtypes}, {wkt_col} string, __s long")
                  .drop("__s"))
    out = cur.groupBy(*group_cols).applyInPandas(fold, schema)
    return out.withColumnRenamed(wkt_col, geom_out)


def dbscan(points: DataFrame, id_col: str, x_col: str, y_col: str,
           eps: float, min_pts: int,
           cluster_col: str = "cluster",
           core_col: str = "is_core") -> DataFrame:
    """Density-based clustering (PostGIS ``ST_ClusterDBSCAN`` window
    semantics, deterministic variant): every point gets a nullable
    ``cluster_col`` label (= the MINIMUM member id of its cluster) and
    a ``core_col`` flag; noise points keep NULL.

    Definitions are the standard DBSCAN ones — a CORE point has at
    least ``min_pts`` neighbors within ``eps`` (closed boundary,
    counting itself); clusters are the connected components of the
    core-core neighbor graph; a BORDER point (non-core within ``eps``
    of a core) joins a neighboring core's cluster.  Textbook DBSCAN
    leaves the border assignment order-dependent when two clusters both
    reach it; here it deterministically takes the SMALLEST candidate
    cluster label, so output is a pure function of the input (and the
    x181 oracle can replay it).

    Scale shape: the ε-neighborhood graph comes from ``radius_join``
    (uniform-grid equi-join — one hash shuffle, candidates bounded by
    local density, never a cross join); degrees and border assignment
    are map-side-combined aggregations of that pair list; components
    run alternating large/small-star rounds (log-diameter
    convergence).  Nothing is ever all-pairs, and no task's input
    grows with the table.
    """
    pts = points.select(F.col(id_col).alias("__id"),
                        F.col(x_col).cast("double").alias("__x"),
                        F.col(y_col).cast("double").alias("__y"))
    a = pts.select(F.col("__id").alias("__ia"),
                   F.col("__x").alias("__xa"), F.col("__y").alias("__ya"))
    b = pts.select(F.col("__id").alias("__ib"),
                   F.col("__x").alias("__xb"), F.col("__y").alias("__yb"))
    from ..util import retain_cache
    nbr = retain_cache(
        radius_join(a, b, "__xa", "__ya", "__xb", "__yb", eps,
                    dist_col="__d").select("__ia", "__ib"))
    # cached: the core id set is read FOUR times (both sides of the
    # core-core edge join, the label join, the border anti-join) — one
    # degree aggregation instead of four re-runs over the pair list
    core = retain_cache(
        nbr.groupBy("__ia").agg(F.count(F.lit(1)).alias("__n"))
           .filter(F.col("__n") >= min_pts)
           .select(F.col("__ia").alias("__cid")))
    # core-core edges -> components; isolated cores label themselves
    ce = (nbr.join(core.withColumnRenamed("__cid", "__ia"), "__ia")
             .join(core.withColumnRenamed("__cid", "__ib"), "__ib")
             .filter(F.col("__ia") < F.col("__ib"))
             .select("__ia", "__ib"))
    from .components import connected_components
    comp = connected_components(ce)
    # cached: read by the border assignment (twice) and the final label
    # union — core-count-bounded, rides the same cache ring
    core_lab = retain_cache(
        core.join(comp.withColumnRenamed("node", "__cid"),
                  "__cid", "left")
            .select(F.col("__cid").alias("__id"),
                    F.coalesce("component", "__cid")
                     .alias("__lab")))
    # border: non-core neighbors of cores take the smallest core label
    border = (nbr.join(core_lab.withColumnRenamed("__id", "__ib")
                               .withColumnRenamed("__lab", "__blab"),
                       "__ib")
                 .join(core_lab.select(F.col("__id").alias("__ia")),
                       "__ia", "left_anti")
                 .groupBy("__ia")
                 .agg(F.min("__blab").alias("__lab"))
                 .withColumnRenamed("__ia", "__id"))
    labels = core_lab.withColumn("__core", F.lit(True)).unionByName(
        border.withColumn("__core", F.lit(False)))
    out = (pts.join(labels, "__id", "left")
              .select(F.col("__id").alias(id_col),
                      F.col("__x").alias(x_col), F.col("__y").alias(y_col),
                      F.col("__lab").alias(cluster_col),
                      F.coalesce("__core", F.lit(False)).alias(core_col)))
    return out


def cluster_within(points: DataFrame, id_col: str, x_col: str,
                   y_col: str, distance: float,
                   cluster_col: str = "cluster") -> DataFrame:
    """PostGIS ``ST_ClusterWithin`` semantics: single-linkage clusters —
    connected components of the "within ``distance``" graph.  Every
    point gets a non-null ``cluster_col`` (= minimum member id;
    isolated points label themselves).  Same grid-join + alternating-
    star machinery as :func:`dbscan` without the density gate."""
    pts = points.select(F.col(id_col).alias("__id"),
                        F.col(x_col).cast("double").alias("__x"),
                        F.col(y_col).cast("double").alias("__y"))
    a = pts.select(F.col("__id").alias("__ia"),
                   F.col("__x").alias("__xa"), F.col("__y").alias("__ya"))
    b = pts.select(F.col("__id").alias("__ib"),
                   F.col("__x").alias("__xb"), F.col("__y").alias("__yb"))
    edges = (radius_join(a, b, "__xa", "__ya", "__xb", "__yb", distance,
                         dist_col="__d")
             .filter(F.col("__ia") < F.col("__ib"))
             .select("__ia", "__ib"))
    from .components import connected_components
    comp = connected_components(edges)
    return (pts.join(comp.withColumnRenamed("node", "__id"),
                     "__id", "left")
               .select(F.col("__id").alias(id_col),
                       F.col("__x").alias(x_col),
                       F.col("__y").alias(y_col),
                       F.coalesce("component", "__id")
                        .alias(cluster_col)))
