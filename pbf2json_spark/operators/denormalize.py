"""Way/relation denormalization — the reference's core computation,
re-expressed as one declarative Spark job graph (SURVEY.md §3.4).

Reference semantics reproduced (citations into /root/reference):

- J1  way->nodes order-preserving equi join; a way with ANY missing node
      is dropped (pbf2json.go:274-279, cache.go:49-66).
- A1  bounds = min/max over all node coords (pbf2json.go:709,732).
- A2-A4 centroid: entrance-priority / closed polygon / open linestring
      (pbf2json.go:689-733, poly_centroid.go, line_centroid.go).
- J2  relation member-way expansion in member order with the
      truncate-on-first-miss quirk (pbf2json.go:387-406: a failed way
      lookup `break`s, truncating all later members; empty result drops
      the relation, :316-319).
- A5  relation centroid/bounds = those of the member way with the
      LARGEST bbox area max(GeoWidth,1e-6)*max(GeoHeight,1e-6); first
      max in member order wins (pbf2json.go:321-347).
- J3  admin_centre override for boundary=administrative relations: the
      first *resolvable* node member with role 'admin_centre' replaces
      the centroid, type 'admin_centre' (pbf2json.go:355-368).
- P9  relations with zero way-members are dropped at index time
      (pbf2json.go:146-154).
- F1/F2 node coords pass through the reference's 6-byte LevelDB codec,
      i.e. low-16-bit truncation, before any way/relation math
      (pbf2json.go:525-549); node-type output keeps raw float64.

There is no KV store and no multi-pass scan: the LevelDB lookup IS a
hash join (broadcast or shuffle, AQE decides and splits skew), the
bitmask semi-joins ARE the inner-join structure + runtime bloom filters,
and the order-preservation is sort_array over (pos, ...) structs.

Scale notes (the 100 TB shape): the node store projects exactly 4
columns (id, lat, lon, flags) — column pruning keeps the shuffle at
~28 bytes/row like the reference's 12-byte records.  The shuffles are
the refs->store regroup (per way), the relation member->way join and
one rel_id regroup that applies J2, A5 and J3 as aggregates; all
AQE-coalesced.  The admin_centre lookup joins only the admin members,
a small side AQE can broadcast against the store.  The centroid UDAF
is one Arrow batch pass over already-grouped arrays, and it also
returns the A5 bbox area, so that rule lives only in geokernels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geokernels as gk
from ..functions.tagpredicate import (compile_tag_predicate, has_tags,
                                      trimmed_tags)
from ..plans.session import fresh_pandas_udf

# ---------------------------------------------------------------------------
# the centroid/bounds UDAF (A1-A4 over grouped point arrays)
# ---------------------------------------------------------------------------

_CB_SCHEMA = T.StructType([
    T.StructField("clat", T.DoubleType()),
    T.StructField("clon", T.DoubleType()),
    T.StructField("ctype", T.StringType()),
    T.StructField("n", T.DoubleType()),
    T.StructField("s", T.DoubleType()),
    T.StructField("e", T.DoubleType()),
    T.StructField("w", T.DoubleType()),
    T.StructField("area", T.DoubleType()),
])


def make_centroid_bounds_udf(strict_parity: bool = True):
    """Scalar Arrow-batched UDF: (lats, lons, ents, whls) arrays ->
    centroid + bbox struct, plus the bbox area A5 ranks relation
    members by (gk.ref_bbox_area).  strict_parity applies the
    reference's 6-byte coordinate truncation first."""

    @F.pandas_udf(_CB_SCHEMA)
    def centroid_bounds(lats: pd.Series, lons: pd.Series,
                        ents: pd.Series, whls: pd.Series) -> pd.DataFrame:
        out = np.empty((len(lats), 7), dtype=object)
        for i in range(len(lats)):
            la = np.asarray(lats.iloc[i], dtype=np.float64)
            lo = np.asarray(lons.iloc[i], dtype=np.float64)
            if strict_parity:
                # 6-byte truncation THEN the %.7f string round-trip —
                # the reference's centroid math reads coords back from
                # the cache as 7-decimal strings (cache.go:46,
                # pbf2json.go:702-703), not as raw truncated doubles
                la = gk.roundtrip7(gk.truncate_coords(la))
                lo = gk.roundtrip7(gk.truncate_coords(lo))
            ent = np.asarray(ents.iloc[i], dtype=np.int64)
            whl = np.asarray(whls.iloc[i], dtype=np.int64)
            out[i, :] = gk.centroid_and_bounds(la, lo, ent, whl)
        n, s, e, w = (out[:, j].astype(np.float64) for j in range(3, 7))
        return pd.DataFrame({
            "clat": out[:, 0].astype(np.float64),
            "clon": out[:, 1].astype(np.float64),
            "ctype": out[:, 2],
            "n": n, "s": s, "e": e, "w": w,
            "area": gk.ref_bbox_area(n, s, e, w),
        })

    return centroid_bounds


# ---------------------------------------------------------------------------
# node store projection (the LevelDB-record equivalent)
# ---------------------------------------------------------------------------

def node_store(nodes: DataFrame) -> DataFrame:
    """Project nodes to the reference's cache record: (ref, lat, lon,
    ent, whl).  ent/whl mirror the flag byte: ent is the entrance class
    when > 0, else -1 meaning 'no flag byte stored'
    (pbf2json.go:536-548); whl is only stored alongside an entrance."""
    ent_raw = (
        F.when(F.lower(F.element_at("tags", F.lit("entrance"))) == "main", 2)
         .when(F.lower(F.element_at("tags", F.lit("entrance")))
                .isin("yes", "home", "staircase"), 1)
         .otherwise(0)
    )
    whl_raw = (
        F.when(F.lower(F.element_at("tags", F.lit("wheelchair"))) == "yes", 2)
         .when(F.lower(F.element_at("tags", F.lit("wheelchair"))) == "no", 0)
         .when(F.element_at("tags", F.lit("wheelchair")).isNotNull(), 1)
         .otherwise(0)
    )
    return nodes.select(
        F.col("id").alias("ref"),
        "lat", "lon",
        F.when(ent_raw > 0, ent_raw).otherwise(F.lit(-1)).alias("ent"),
        F.when(ent_raw > 0, whl_raw).otherwise(F.lit(-1)).alias("whl"),
    )


# ---------------------------------------------------------------------------
# way point arrays: explode refs -> join node store -> regroup in order
# ---------------------------------------------------------------------------

def way_point_arrays(ways: DataFrame, store: DataFrame,
                     salt_hot_refs: int = 0) -> DataFrame:
    """(id, tags, nrefs, npts, lats, lons, ents, whls) — one row per way
    that resolved AT LEAST one node; npts < nrefs marks an incomplete
    way (J1 dropped downstream; J2 treats it as a failed member).

    salt_hot_refs > 0 switches the refs->node-store lookup join to the
    explicit salted form (plans/salting.py) with that many salts — for
    corpora where single node ids are referenced by millions of ways
    (the zipfian city-center case the north rule names) and the store
    is too large to broadcast.  Default off: AQE's skew split covers
    the partition-level case and the salting pass adds a hot-key
    detection job."""
    refs = ways.select(
        "id", "tags",
        F.size("refs").alias("nrefs"),
        F.posexplode("refs").alias("pos", "ref"),
    )
    if salt_hot_refs:
        from ..plans.salting import salted_equijoin
        joined = salted_equijoin(refs, store, "ref", n_salts=salt_hot_refs,
                                 sample_fraction=0.01)
    else:
        joined = refs.join(store, "ref")  # inner: missing nodes vanish
    return (
        joined.groupBy("id")
        .agg(
            F.first("tags").alias("tags"),
            F.first("nrefs").alias("nrefs"),
            F.sort_array(F.collect_list(
                F.struct("pos", "lat", "lon", "ent", "whl"))).alias("pts"),
        )
        .select(
            "id", "tags", "nrefs",
            F.size("pts").alias("npts"),
            F.col("pts.lat").alias("lats"),
            F.col("pts.lon").alias("lons"),
            F.col("pts.ent").alias("ents"),
            F.col("pts.whl").alias("whls"),
        )
    )


def _attach_centroid_bounds(arr: DataFrame, strict_parity: bool) -> DataFrame:
    udf = make_centroid_bounds_udf(strict_parity)
    return arr.withColumn("cb", udf("lats", "lons", "ents", "whls"))


def _fmt7(col):
    return F.format_string("%.7f", col)


def _centroid_map(cb):
    """{lat, lon[, type]} as map<string,string> (omits type when '')."""
    return F.map_filter(
        F.map_from_arrays(
            F.array(F.lit("lat"), F.lit("lon"), F.lit("type")),
            F.array(_fmt7(cb.clat), _fmt7(cb.clon),
                    F.when(cb.ctype != "", cb.ctype)),
        ),
        lambda _k, v: v.isNotNull(),
    )


def _bounds_map(cb):
    return F.map_from_arrays(
        F.array(F.lit("n"), F.lit("s"), F.lit("e"), F.lit("w")),
        F.array(_fmt7(cb.n), _fmt7(cb.s), _fmt7(cb.e), _fmt7(cb.w)),
    )


# ---------------------------------------------------------------------------
# public operators
# ---------------------------------------------------------------------------

def matched_nodes(nodes: DataFrame, tag_spec: str) -> DataFrame:
    """Node output rows (pbf2json.go:235-240): raw float64 coords,
    trimmed tags."""
    return (
        nodes.filter(has_tags() & compile_tag_predicate(tag_spec))
        .select(
            "id", F.lit("node").alias("type"), "lat", "lon",
            trimmed_tags().alias("tags"),
        )
    )


def denormalize_ways(nodes: DataFrame, ways: DataFrame, tag_spec: str,
                     waynodes: bool = False,
                     strict_parity: bool = True,
                     salt_hot_refs: int = 0) -> DataFrame:
    """Way output rows (pbf2json.go:271-292): id, type, tags, centroid,
    bounds[, nodes].  Ways failing to fully denormalize are dropped.
    salt_hot_refs > 0 salts the node-lookup join (plans/salting.py)."""
    matched = ways.filter(has_tags() & compile_tag_predicate(tag_spec))
    arr = way_point_arrays(matched, node_store(nodes), salt_hot_refs)
    complete = arr.filter(F.col("npts") == F.col("nrefs"))
    cb = _attach_centroid_bounds(complete, strict_parity)
    if waynodes and strict_parity:
        cb = (cb.withColumn("t_lats", _truncate_array_udf("lats"))
                .withColumn("t_lons", _truncate_array_udf("lons")))
    out = cb.select(
        "id", F.lit("way").alias("type"),
        trimmed_tags().alias("tags"),
        _centroid_map(F.col("cb")).alias("centroid"),
        _bounds_map(F.col("cb")).alias("bounds"),
        *(_waynodes_col(strict_parity) if waynodes else []),
    )
    return out


def _waynodes_col(strict_parity: bool):
    """The --waynodes array: [{lat,lon[,entrance,wheelchair]}] strings,
    from the cache codec (so truncated + %.7f, pbf2json.go:498-522)."""
    if strict_parity:
        lat_arr, lon_arr = F.col("t_lats"), F.col("t_lons")
    else:
        lat_arr, lon_arr = F.col("lats"), F.col("lons")
    nodes_arr = F.zip_with(
        F.zip_with(lat_arr, lon_arr, lambda a, b: F.struct(
            a.alias("lat"), b.alias("lon"))),
        F.zip_with(F.col("ents"), F.col("whls"), lambda e, w: F.struct(
            e.alias("ent"), w.alias("whl"))),
        lambda p, f: F.map_filter(
            F.map_from_arrays(
                F.array(F.lit("lat"), F.lit("lon"),
                        F.lit("entrance"), F.lit("wheelchair")),
                F.array(_fmt7(p.lat), _fmt7(p.lon),
                        F.when(f.ent >= 0, f.ent.cast("string")),
                        F.when(f.ent >= 0, f.whl.cast("string"))),
            ),
            lambda _k, v: v.isNotNull(),
        ),
    ).alias("nodes")
    return [nodes_arr]


_TRUNC_SCHEMA = T.ArrayType(T.DoubleType())


@fresh_pandas_udf(_TRUNC_SCHEMA)
def _truncate_array_udf(vals: pd.Series) -> pd.Series:
    return vals.map(lambda a: gk.truncate_coords(np.asarray(a, dtype=np.float64)))


def denormalize_relations(nodes: DataFrame, ways: DataFrame,
                          relations: DataFrame, tag_spec: str,
                          strict_parity: bool = True,
                          salt_hot_refs: int = 0) -> DataFrame:
    """Relation output rows (pbf2json.go:310-374): one member explode,
    a way lookup and an admin_centre node lookup, then one rel_id
    aggregate applies J2, A5 and J3."""
    store = node_store(nodes)

    # P9 + tag match (index pass, pbf2json.go:142-154)
    rels = relations.filter(
        has_tags() & compile_tag_predicate(tag_spec)
        & F.exists("members", lambda m: m["type"] == 1)
    )
    memb = rels.select(
        F.col("id").alias("rel_id"), "tags",
        F.posexplode("members").alias("mpos", "m"),
    )
    way_members = memb.filter(F.col("m.type") == 1).select(
        "rel_id", "tags", "mpos", F.col("m.ref").alias("way_id"))
    admin_members = memb.filter(
        (F.element_at("tags", F.lit("boundary")) == "administrative")
        & (F.col("m.type") == 0) & (F.col("m.role") == "admin_centre")
    ).select("rel_id", "mpos", F.col("m.ref").alias("ref"))

    # the RelWays 'bitmask': only ways actually referenced get resolved;
    # centroid/bounds are computed once per way, not per member instance
    rel_ways = ways.join(
        way_members.select(F.col("way_id").alias("id")), "id", "leftsemi")
    arr = way_point_arrays(rel_ways, store, salt_hot_refs) \
        .withColumnRenamed("id", "way_id")
    arr = _attach_centroid_bounds(arr, strict_parity) \
        .select("way_id", "nrefs", "npts", "cb")

    failed = F.col("npts").isNull() | (F.col("npts") != F.col("nrefs"))
    way_rows = way_members.join(arr, "way_id", "left").select(
        "rel_id", "tags",
        F.when(failed, F.col("mpos")).alias("miss"),
        # A5 candidate; ties on area fall to the larger -mpos, i.e. Go's
        # first max (pbf2json.go:342)
        F.when(~failed, F.struct(F.col("cb.area").alias("area"),
                                 (-F.col("mpos")).alias("neg_mpos"), "cb"))
        .alias("cand"))
    # J3: the first *resolvable* admin_centre node (pbf2json.go:355-368)
    admin_rows = admin_members.join(store, "ref").select(
        "rel_id", F.struct("mpos", "lat", "lon", "ent", "whl").alias("adm"))

    out = way_rows.unionByName(admin_rows, allowMissingColumns=True) \
        .groupBy("rel_id").agg(
            F.first("tags", ignorenulls=True).alias("tags"),
            F.min("miss").alias("first_miss"),
            F.collect_list("cand").alias("cands"),
            F.min("adm").alias("adm"))
    cands = F.col("cands")
    if strict_parity:
        # J2: truncate at the first failed way member (pbf2json.go:397-399)
        cands = F.filter(cands, lambda c: F.col("first_miss").isNull()
                         | (-c["neg_mpos"] < F.col("first_miss")))
    out = out.withColumn("cb", F.array_max(cands)["cb"]) \
        .filter(F.col("cb").isNotNull())

    a_lat, a_lon = F.col("adm.lat"), F.col("adm.lon")
    if strict_parity:
        a_lat, a_lon = _trunc_scalar(a_lat), _trunc_scalar(a_lon)
    a_ent, a_whl = F.col("adm.ent"), F.col("adm.whl")
    admin_centroid = F.map_filter(
        F.map_from_arrays(
            F.array(F.lit("lat"), F.lit("lon"), F.lit("type"),
                    F.lit("entrance"), F.lit("wheelchair")),
            F.array(_fmt7(a_lat), _fmt7(a_lon), F.lit("admin_centre"),
                    F.when(a_ent >= 0, a_ent.cast("string")),
                    F.when(a_ent >= 0, a_whl.cast("string"))),
        ),
        lambda _k, v: v.isNotNull(),
    )

    return out.select(
        F.col("rel_id").alias("id"),
        F.lit("relation").alias("type"),
        trimmed_tags().alias("tags"),
        F.when(F.col("adm").isNotNull(), admin_centroid)
         .otherwise(_centroid_map(F.col("cb"))).alias("centroid"),
        _bounds_map(F.col("cb")).alias("bounds"),
    )


@fresh_pandas_udf(T.DoubleType())
def _trunc_scalar(v: pd.Series) -> pd.Series:
    return pd.Series(gk.truncate_coords(v.to_numpy(dtype=np.float64)))


def run_pipeline(nodes: DataFrame, ways: DataFrame, relations: DataFrame,
                 tag_spec: str, waynodes: bool = False,
                 strict_parity: bool = True,
                 salt_hot_refs: int = 0) -> DataFrame:
    """The full reference job: matched nodes + denormalized ways +
    denormalized relations, keyed by gid (test/end-to-end.js:28)."""
    n = matched_nodes(nodes, tag_spec).select(
        F.concat(F.col("type"), F.lit(":"), F.col("id")).alias("gid"),
        F.to_json(F.struct("id", "type", "lat", "lon", "tags")).alias("json"))
    w = denormalize_ways(nodes, ways, tag_spec, waynodes, strict_parity,
                         salt_hot_refs)
    w = w.select(
        F.concat(F.col("type"), F.lit(":"), F.col("id")).alias("gid"),
        F.to_json(F.struct(*[F.col(c) for c in w.columns])).alias("json"))
    r = denormalize_relations(nodes, ways, relations, tag_spec, strict_parity,
                              salt_hot_refs)
    r = r.select(
        F.concat(F.col("type"), F.lit(":"), F.col("id")).alias("gid"),
        F.to_json(F.struct("id", "type", "tags", "centroid", "bounds")).alias("json"))
    return n.unionByName(w).unionByName(r)
