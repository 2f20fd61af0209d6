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

Scale notes (the 100 TB shape): each way is resolved once, as in the
reference's one cache pass (pbf2json.go:242-375).  The tag-matched ways
and the ways relation members name (gathered by one regroup of the
members by way id: the RelWays bitmask) are one set, which goes through
one refs explode, one node-store join, one regroup per way and one
centroid UDF pass.  Each resolved way then emits its output roles: its
own row if it matched, and an A5 candidate per relation member slot it
fills.  One regroup keyed by output gid merges them with a header row
per relation (its tags and way-member slots, for J2) and its
admin_centre nodes (J3).  The node store projects 5 columns (ref, lat,
lon, ent, whl), near the reference's 12-byte records; the admin_centre
lookup joins only the admin members, a small side AQE can broadcast.
The centroid UDF also returns the A5 bbox area, so that rule lives only
in geokernels.  The fixed expressions are SQL text: building the plan
takes few driver calls.
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


@fresh_pandas_udf(T.ArrayType(T.DoubleType()))
def _truncate_array_udf(vals: pd.Series) -> pd.Series:
    return vals.map(lambda a: gk.truncate_coords(np.asarray(a, dtype=np.float64)))


# ---------------------------------------------------------------------------
# the output expressions, as SQL text (one parse each, no Column building)
# ---------------------------------------------------------------------------

def _fmt7(col: str) -> str:
    return f"format_string('%.7f', {col})"


def _map_of(keys: str, vals: str) -> str:
    """map<string,string> of the non-null values."""
    return (f"map_filter(map_from_arrays(array({keys}), array({vals})), "
            f"(k, v) -> v IS NOT NULL)")


def _flag(col: str, ent: str) -> str:
    """ent/whl as the reference prints them: only with a stored flag byte."""
    return f"CASE WHEN {ent} >= 0 THEN CAST({col} AS STRING) END"


# {lat, lon[, type]} (omits type when '')
_CENTROID = _map_of("'lat', 'lon', 'type'",
                    f"{_fmt7('cb.clat')}, {_fmt7('cb.clon')}, "
                    "CASE WHEN cb.ctype != '' THEN cb.ctype END")
# J3: the admin_centre node replaces the centroid (pbf2json.go:355-368)
_ADMIN_CENTROID = _map_of(
    "'lat', 'lon', 'type', 'entrance', 'wheelchair'",
    f"{_fmt7('adm.ll[0]')}, {_fmt7('adm.ll[1]')}, 'admin_centre', "
    f"{_flag('adm.ent', 'adm.ent')}, {_flag('adm.whl', 'adm.ent')}")
_BOUNDS = ("map_from_arrays(array('n', 's', 'e', 'w'), "
           f"transform(array(cb.n, cb.s, cb.e, cb.w), x -> {_fmt7('x')}))")
# the --waynodes array: [{lat,lon[,entrance,wheelchair]}] strings, from
# the cache codec (so truncated + %.7f, pbf2json.go:498-522)
_WAYNODES = ("transform(pts.lats, (la, i) -> " + _map_of(
    "'lat', 'lon', 'entrance', 'wheelchair'",
    f"{_fmt7('la')}, {_fmt7('pts.lons[i]')}, "
    f"{_flag('pts.ents[i]', 'pts.ents[i]')}, "
    f"{_flag('pts.whls[i]', 'pts.ents[i]')}") + ")")


def _lower(key: str) -> str:
    """tags[key] lower-cased over ASCII only.  Only ASCII case variants
    lower-case to the ASCII words compared below, so this equals
    lower(), which would first build ICU's case tables (~1.5 s of one
    task's CPU, once per JVM, with the other tasks blocked on it)."""
    return (f"translate(tags['{key}'], 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', "
            "'abcdefghijklmnopqrstuvwxyz')")


# ---------------------------------------------------------------------------
# node store projection (the LevelDB-record equivalent)
# ---------------------------------------------------------------------------

def node_store(nodes: DataFrame) -> DataFrame:
    """Project nodes to the reference's cache record: (ref, lat, lon,
    ent, whl).  ent/whl mirror the flag byte (pbf2json.go:536-548): ent
    is the entrance class (2 main, 1 yes/home/staircase), else -1
    meaning 'no flag byte stored'; whl is only stored alongside an
    entrance."""
    ent, whl = _lower("entrance"), _lower("wheelchair")
    return nodes.selectExpr(
        "id AS ref", "lat", "lon",
        f"CASE {ent} WHEN 'main' THEN 2 WHEN 'yes' THEN 1 WHEN 'home' THEN 1"
        " WHEN 'staircase' THEN 1 ELSE -1 END AS ent",
        f"CASE WHEN {ent} IN ('main', 'yes', 'home', 'staircase') THEN "
        f"CASE {whl} WHEN 'yes' THEN 2 WHEN 'no' THEN 0 "
        "ELSE IF(tags['wheelchair'] IS NULL, 0, 1) END ELSE -1 END AS whl")


# ---------------------------------------------------------------------------
# way point arrays: explode refs -> join node store -> regroup in order
# ---------------------------------------------------------------------------

def way_point_arrays(ways: DataFrame, store: DataFrame,
                     salt_hot_refs: int = 0) -> DataFrame:
    """(id, <the other columns of ways>, nrefs, npts, lats, lons, ents,
    whls) — one row per way that resolved AT LEAST one node; npts <
    nrefs marks an incomplete way (J1 dropped downstream; J2 treats it
    as a failed member).  Every column of `ways` but id and refs rides
    along (first per way).

    salt_hot_refs > 0 switches the refs->node-store lookup join to the
    explicit salted form (plans/salting.py) with that many salts — for
    corpora where single node ids are referenced by millions of ways
    (the zipfian city-center case the north rule names) and the store
    is too large to broadcast.  Default off: AQE's skew split covers
    the partition-level case and the salting pass adds a hot-key
    detection job."""
    carry = [c for c in ways.columns if c not in ("id", "refs")]
    refs = ways.selectExpr("id", *carry, "size(refs) AS nrefs",
                           "posexplode(refs) AS (pos, ref)")
    if salt_hot_refs:
        from ..plans.salting import salted_equijoin
        joined = salted_equijoin(refs, store, "ref", n_salts=salt_hot_refs,
                                 sample_fraction=0.01)
    else:
        joined = refs.join(store, "ref")  # inner: missing nodes vanish
    return joined.groupBy("id").agg(
        *(F.expr(f"first({c}) AS {c}") for c in carry + ["nrefs"]),
        F.expr("sort_array(collect_list(struct(pos, lat, lon, ent, whl))) "
               "AS pts"),
    ).selectExpr("id", *carry, "nrefs", "size(pts) AS npts",
                 "pts.lat AS lats", "pts.lon AS lons", "pts.ent AS ents",
                 "pts.whl AS whls")


# ---------------------------------------------------------------------------
# the one way resolution behind every way and relation output
# ---------------------------------------------------------------------------

def _denormalize(nodes: DataFrame, ways: DataFrame,
                 relations: DataFrame | None, tag_spec: str,
                 match_ways: bool, waynodes: bool, strict_parity: bool,
                 salt_hot_refs: int) -> DataFrame:
    """Way rows (when match_ways) and relation rows (when relations is
    given): id, type, tags, centroid, bounds[, nodes].  Ways are
    resolved once, whichever outputs need them."""
    store = node_store(nodes)
    matched = has_tags() & compile_tag_predicate(tag_spec)
    ways = ways.select("id", "refs", "tags",
                       (matched if match_ways else F.lit(False))
                       .alias("matched"))
    # the output roles a resolved way fills: its own row (rel_id null)
    # and one A5 candidate slot per relation member naming it
    targets = ("IF(matched, array(named_struct('rel_id', CAST(NULL AS "
               "BIGINT), 'mpos', 0)), array())")
    if relations is None:
        ways = ways.where("matched")
    else:
        # P9 + tag match (index pass, pbf2json.go:142-154)
        rels = relations.where(
            matched & F.expr("exists(members, m -> m.type = 1)"))
        memb = rels.selectExpr("id AS rel_id", "tags",
                               "posexplode(members) AS (mpos, m)")
        # the RelWays 'bitmask': only ways actually referenced resolve
        refd = memb.where("m.type = 1").groupBy(F.expr("m.ref AS id")) \
            .agg(F.expr("collect_list(struct(rel_id, mpos)) AS rels"))
        ways = ways.join(refd, "id", "left") \
            .where("matched OR rels IS NOT NULL")
        targets = f"concat({targets}, coalesce(rels, array()))"
    arr = way_point_arrays(ways, store, salt_hot_refs) \
        .where("npts = nrefs")  # J1; an incomplete member is a J2 miss
    arr = arr.withColumn("cb", make_centroid_bounds_udf(strict_parity)(
        "lats", "lons", "ents", "whls"))
    if waynodes and strict_parity:
        arr = arr.withColumns({"lats": _truncate_array_udf("lats"),
                               "lons": _truncate_array_udf("lons")})
    # A5 candidates rank by (area, -mpos): ties on area fall to the
    # larger -mpos, i.e. Go's first max (pbf2json.go:342)
    pts = ("'pts', IF(t.rel_id IS NULL, named_struct('lats', lats, 'lons', "
           "lons, 'ents', ents, 'whls', whls), NULL), " if waynodes else "")
    roles = arr.selectExpr(
        f"inline(transform({targets}, t -> named_struct("
        "'type', IF(t.rel_id IS NULL, 'way', 'relation'), "
        "'id', coalesce(t.rel_id, id), "
        "'tags', IF(t.rel_id IS NULL, tags, NULL), " + pts +
        "'cand', named_struct('area', cb.area, 'neg_mpos', -t.mpos, "
        "'cb', cb))))")
    centroid = _CENTROID
    if relations is None:
        out = roles.selectExpr("*", "cand.cb AS cb")
    else:
        # one header per relation: its tags and way-member slots
        header = rels.selectExpr(
            "'relation' AS type", "id", "tags",
            "filter(transform(members, (m, i) -> IF(m.type = 1, i, NULL)),"
            " i -> i IS NOT NULL) AS members")
        # J3: the first *resolvable* admin_centre node (pbf2json.go:355-368)
        adm = memb.where(
            "tags['boundary'] = 'administrative' AND m.type = 0 "
            "AND m.role = 'admin_centre'").selectExpr(
            "'relation' AS type", "rel_id AS id", "mpos", "m.ref AS ref") \
            .join(store, "ref")
        ll = F.expr("array(lat, lon)")
        adm = adm.select("type", "id", F.struct(
            "mpos", (_truncate_array_udf(ll) if strict_parity else ll)
            .alias("ll"), "ent", "whl").alias("adm"))
        out = roles.unionByName(header, allowMissingColumns=True) \
            .unionByName(adm, allowMissingColumns=True) \
            .groupBy("type", "id").agg(
                F.expr("first(tags, true) AS tags"),
                F.expr("collect_list(cand) AS cands"),
                F.expr("min(adm) AS adm"),
                # J2's first failed way member: a member slot no
                # complete way filled (pbf2json.go:387-406)
                F.expr("array_min(array_except(first(members, true), "
                       "collect_list(-cand.neg_mpos))) AS first_miss"),
                *([F.expr("first(pts, true) AS pts")] if waynodes else []))
        cands = "cands"
        if strict_parity:
            # J2: truncate at the first failed way member (pbf2json.go:397-399)
            cands = ("filter(cands, c -> first_miss IS NULL "
                     "OR -c.neg_mpos < first_miss)")
        out = out.selectExpr("*", f"array_max({cands}).cb AS cb") \
            .where("cb IS NOT NULL")
        centroid = f"CASE WHEN adm IS NULL THEN {_CENTROID} " \
                   f"ELSE {_ADMIN_CENTROID} END"
    return out.select(
        "id", "type", trimmed_tags().alias("tags"),
        F.expr(centroid).alias("centroid"), F.expr(_BOUNDS).alias("bounds"),
        *([F.expr(_WAYNODES).alias("nodes")] if waynodes else []))


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
    return _denormalize(nodes, ways, None, tag_spec, True, waynodes,
                        strict_parity, salt_hot_refs)


def denormalize_relations(nodes: DataFrame, ways: DataFrame,
                          relations: DataFrame, tag_spec: str,
                          strict_parity: bool = True,
                          salt_hot_refs: int = 0) -> DataFrame:
    """Relation output rows (pbf2json.go:310-374): id, type, tags,
    centroid, bounds.  J2, A5 and J3 are aggregates of one regroup."""
    return _denormalize(nodes, ways, relations, tag_spec, False, False,
                        strict_parity, salt_hot_refs)


def run_pipeline(nodes: DataFrame, ways: DataFrame, relations: DataFrame,
                 tag_spec: str, waynodes: bool = False,
                 strict_parity: bool = True,
                 salt_hot_refs: int = 0) -> DataFrame:
    """The full reference job: matched nodes + denormalized ways +
    denormalized relations, keyed by gid (test/end-to-end.js:28)."""
    n = matched_nodes(nodes, tag_spec).selectExpr(
        "concat(type, ':', id) AS gid",
        "to_json(struct(id, type, lat, lon, tags)) AS json")
    wr = _denormalize(nodes, ways, relations, tag_spec, True, waynodes,
                      strict_parity, salt_hot_refs).selectExpr(
        "concat(type, ':', id) AS gid",
        "to_json(struct(id, type, tags, centroid, bounds"
        f"{', nodes' if waynodes else ''})) AS json")
    return n.unionByName(wr)
