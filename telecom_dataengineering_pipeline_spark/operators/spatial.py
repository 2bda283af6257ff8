"""Spatial proximity join: the geospatial member of the blocking family.

All-pairs haversine is O(n²) — the same wall every dedup/similarity
operator in this engine avoids with candidate blocking (LSH bands, k-means
cells, pigeonhole slices). Here the block key is a latitude band: any two
points within ``radius_km`` differ in latitude by at most
``radius_km / 111.19`` degrees, so with cell height ``radius_km / 111``
(strictly larger — conservative) matching pairs sit in the same or an
adjacent band. One side joins from its home band, the other explodes to
its three-band neighborhood, candidates dedupe, and the exact haversine
verifies — candidates only, never all pairs. At planetary scale add a
longitude grid per band (width widened by 1/cos(lat)) for a full 2-D
tiling; the join shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import haversine_km
from ..lineage import lineage_cut

_KM_PER_DEG_LAT = 111.0  # < true 111.19: cells strictly taller than needed


def proximity_join_km(
    points: DataFrame,
    radius_km: float,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Pairs of distinct points within ``radius_km`` (great-circle):
    ``(id1, id2, distance_km)`` with id1 < id2, distance rounded to 3 dp.
    Sound and complete: banding never drops a true pair (cell height
    bounds the maximum latitude difference) and every candidate is
    exact-verified."""
    cell_deg = radius_km / _KM_PER_DEG_LAT
    p = points.select(
        F.col(id_col).alias("pid"),
        F.col(lat_col).cast("double").alias("plat"),
        F.col(lon_col).cast("double").alias("plon"),
        F.floor(F.col(lat_col) / F.lit(cell_deg)).cast("long").alias("band"),
    )
    neighbors = p.select(
        F.col("pid").alias("qid"),
        F.col("plat").alias("qlat"),
        F.col("plon").alias("qlon"),
        F.explode(
            F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
        ).alias("band"),
    )
    cands = (
        p.join(neighbors, "band")
        .filter(F.col("pid") < F.col("qid"))
        .select("pid", "qid", "plat", "plon", "qlat", "qlon")
        .distinct()  # a pair can meet in up to two band orientations
    )
    dist = haversine_km(
        F.col("plat"), F.col("plon"), F.col("qlat"), F.col("qlon")
    )
    return (
        cands.withColumn("distance_km", F.round(dist, 3))
        .filter(F.col("distance_km") <= radius_km)
        .select(
            F.col("pid").alias("id1"), F.col("qid").alias("id2"), "distance_km"
        )
    )


def grid_cluster_cells(
    df: DataFrame,
    lat_col: str,
    lon_col: str,
    cell_deg: float = 1.0,
    min_pts: int = 2,
) -> DataFrame:
    """Grid-based spatial clustering (DBSCAN-lite): dense grid cells
    (≥ ``min_pts`` points) merge into clusters when 8-adjacent — the
    coverage-blob detector over :func:`~..functions.geo.grid_density`'s
    heat map (which towers form one contiguous high-traffic region, not
    just which cells are hot). The grid plays DBSCAN's ε-neighborhood
    and the cell count plays minPts; exact density clustering at cell
    resolution without any pairwise distance step.

    Scale shape: one cell-keyed count (map-side combined) collapses the
    point grain; adjacency is a 4-direction FORWARD neighbor equi-join
    of the dense-cell relation against itself (each undirected adjacency
    generated once — E/NE/N/NW, the canonical-election trick), never a
    distance join; components form via the O(log n) large-star/small-star
    rounds of ``llmprep.dedup.connected_dup_groups`` over the
    metadata-sized cell graph.

    Determinism: counts exact; the cluster id is the component's MINIMUM
    encoded cell id (structural, partition-order-free); cluster_cells /
    cluster_points fold over the labeled cell relation. Returns one row
    per dense cell: (cell_lat, cell_lon, n, cluster_id, cluster_cells,
    cluster_points). Sparse cells (< min_pts) are noise — absent."""
    if min_pts < 1:
        raise ValueError("grid_cluster_cells needs min_pts >= 1")
    from ..functions.geo import grid_cell
    from ..llmprep.dedup import connected_dup_groups

    cell = grid_cell(F.col(lat_col), F.col(lon_col), cell_deg)
    dense = (
        df.groupBy(cell.alias("_c"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") >= int(min_pts))
        .select(
            F.col("_c.cell_lat").alias("cell_lat"),
            F.col("_c.cell_lon").alias("cell_lon"),
            "n",
        )
        .transform(lineage_cut)
    )
    # Encoded cell id: bijective over the ±90/±180-degree grid at any
    # cell_deg ≥ 1e-4 (offsets keep both axes positive; the row stride
    # exceeds the lon range).
    off, stride = 4_000_000, 10_000_000
    cid = ((F.col("cell_lat") + off) * stride + (F.col("cell_lon") + off)).cast(
        "long"
    )
    cells = dense.withColumn("_cid", cid)
    # Forward half of the 8-neighborhood: E, NE, N, NW — each undirected
    # adjacency is generated exactly once.
    nbr = F.explode(
        F.array(
            F.struct(F.lit(0).alias("di"), F.lit(1).alias("dj")),
            F.struct(F.lit(1).alias("di"), F.lit(1).alias("dj")),
            F.struct(F.lit(1).alias("di"), F.lit(0).alias("dj")),
            F.struct(F.lit(1).alias("di"), F.lit(-1).alias("dj")),
        )
    )
    probes = cells.select(
        "cell_lat", "cell_lon", "_cid", nbr.alias("_n")
    ).select(
        F.col("_cid").alias("doc1"),
        (
            (F.col("cell_lat") + F.col("_n.di") + off) * stride
            + (F.col("cell_lon") + F.col("_n.dj") + off)
        )
        .cast("long")
        .alias("doc2"),
    )
    edges = probes.join(
        cells.select(F.col("_cid").alias("doc2")), "doc2"
    ).select("doc1", "doc2")
    labels = connected_dup_groups(edges)
    labeled = cells.join(
        labels.withColumnRenamed("doc_id", "_cid"), "_cid", "left"
    ).withColumn(
        "cluster_id", F.coalesce(F.col("group_id"), F.col("_cid")).cast("long")
    )
    w = Window.partitionBy("cluster_id")
    return labeled.select(
        "cell_lat",
        "cell_lon",
        "n",
        "cluster_id",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_cells"),
        F.sum("n").over(w).cast("long").alias("cluster_points"),
    )


def nearest_assignment(
    points: DataFrame,
    sites: DataFrame,
    point_id_col: str = "id",
    site_id_col: str = "site_id",
    lat_cols: "tuple[str, str]" = ("lat", "lat"),
    lon_cols: "tuple[str, str]" = ("lon", "lon"),
) -> DataFrame:
    """Nearest-site assignment — every point adopts its closest site by
    great-circle distance: the serving-tower map under every coverage /
    load rollup (:func:`proximity_join_km` finds point-point pairs
    within a radius; this is the point→DIMENSION argmin, the spatial
    sibling of a broadcast star join).

    Scale shape: the site relation is dimension-sized and BROADCASTS;
    the cross product evaluates map-side and collapses to one row per
    point inside the same map-side-combined min-struct aggregate — the
    point relation is never shuffled at the fan-out grain, only at the
    per-point reduction (and Spark's partial aggregation does the
    argmin before the exchange).

    Determinism: distance is the repo's fixed haversine shape rounded
    to 6 dp; the argmin breaks rounded-distance ties on ``site_id``
    (struct min compares (distance, site_id) lexicographically — the
    same election a SQL row_number mirror runs). NULL coordinates are
    excluded on both sides. Returns one row per point: (point_id,
    site_id, distance_km)."""
    from ..functions.geo import haversine_km

    plat, slat = lat_cols
    plon, slon = lon_cols
    p = points.filter(
        F.col(plat).isNotNull() & F.col(plon).isNotNull()
    ).select(
        F.col(point_id_col).alias("point_id"),
        F.col(plat).cast("double").alias("_plat"),
        F.col(plon).cast("double").alias("_plon"),
    )
    s = sites.filter(
        F.col(slat).isNotNull() & F.col(slon).isNotNull()
    ).select(
        F.col(site_id_col).alias("_sid"),
        F.col(slat).cast("double").alias("_slat"),
        F.col(slon).cast("double").alias("_slon"),
    )
    d = F.round(
        haversine_km(F.col("_plat"), F.col("_plon"), F.col("_slat"), F.col("_slon")),
        6,
    )
    paired = p.crossJoin(F.broadcast(s)).select(
        "point_id", F.struct(d.alias("d"), F.col("_sid").alias("sid")).alias("_c")
    )
    best = paired.groupBy("point_id").agg(F.min("_c").alias("_b"))
    return best.select(
        "point_id",
        F.col("_b.sid").alias("site_id"),
        F.col("_b.d").alias("distance_km"),
    )
