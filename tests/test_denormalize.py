"""End-to-end parity: the distributed pipeline vs the pure-Python oracle
over the deterministic OSM-analog tables, for all 7 reference tag-query
shapes (/root/reference/test/end-to-end.js:53-61)."""

import json

import pandas as pd
import pytest

from pbf2json_spark.operators import denormalize as dn
from pbf2json_spark.sources import synth
from tests.oracle import oracle_pipeline

SPECS = [
    "building",
    "building,shop",
    "addr:housenumber",
    "addr:housenumber+addr:street",
    "highway+name,waterway+name",
    "amenity~toilets",
    "amenity~toilets,amenity~kindergarten",
]

N_NODES, N_WAYS, N_RELS = 3000, 600, 80


@pytest.fixture(scope="module")
def tables(spark):
    pdfs = synth.gen_osm_tables(N_NODES, N_WAYS, N_RELS)
    dfs = synth.osm_tables_df(spark, N_NODES, N_WAYS, N_RELS)
    return pdfs, dfs


def run_engine(spark, dfs, spec, waynodes=False):
    nodes, ways, rels = dfs
    df = dn.run_pipeline(nodes, ways, rels, spec, waynodes=waynodes)
    rows = df.collect()
    got = {}
    for r in rows:
        assert r.gid not in got, f"duplicate gid {r.gid}"
        got[r.gid] = json.loads(r.json)
    return got


@pytest.mark.parametrize("spec", SPECS)
def test_pipeline_matches_oracle(spark, tables, spec):
    pdfs, dfs = tables
    want = oracle_pipeline(*pdfs, spec)
    got = run_engine(spark, dfs, spec)
    assert set(got) == set(want), (
        f"gid sets differ: extra={sorted(set(got)-set(want))[:5]} "
        f"missing={sorted(set(want)-set(got))[:5]}")
    for gid, w in want.items():
        g = got[gid]
        assert g == w, f"{gid}:\n got={g}\nwant={w}"
    # sanity: every entity type is exercised at least once somewhere
    types = {g.split(":")[0] for g in got}
    if spec == "building":
        assert types == {"node", "way", "relation"}


def test_waynodes_projection(spark, tables):
    pdfs, dfs = tables
    want = oracle_pipeline(*pdfs, "building", waynodes=True)
    got = run_engine(spark, dfs, "building", waynodes=True)
    checked = 0
    for gid, w in want.items():
        if w["type"] != "way":
            continue
        assert got[gid]["nodes"] == w["nodes"], gid
        checked += 1
    assert checked > 0


def test_dropped_entities(spark, tables):
    """Negative coverage: missing-node ways dropped, zero-way relations
    dropped, relation-type members ignored."""
    pdfs, dfs = tables
    nodes_pdf, ways_pdf, rels_pdf = pdfs
    got = run_engine(spark, dfs, "building")
    node_ids = set(nodes_pdf["id"])
    # at least one tag-matched way has a missing ref and must be absent
    broken = [r.id for r in ways_pdf.itertuples()
              if "building" in r.tags
              and any(ref not in node_ids for ref in r.refs)]
    assert broken, "fixture should contain broken building ways"
    for wid in broken:
        assert f"way:{wid}" not in got
    zero_way = [r.id for r in rels_pdf.itertuples()
                if "building" in r.tags
                and not any(m["type"] == 1 for m in r.members)]
    for rid in zero_way:
        assert f"relation:{rid}" not in got


# ---------------------------------------------------------------------------
# hand-built fixture pinning the relation rules J2, A5 and J3 in both modes
# ---------------------------------------------------------------------------

W_SMALL, W_LARGE, W_EQ_A, W_EQ_B, W_BROKEN, W_ABSENT = 1, 2, 3, 4, 5, 77
ADMIN_NODE, LATER_ADMIN_NODE, MISSING_NODE = 10, 11, 998
FIXTURE_SPEC = "building,boundary~administrative"
# relation id -> the way whose geometry it must carry, per mode
# (None: the relation is dropped)
PICKS = {
    101: {True: W_SMALL, False: W_LARGE},    # small, absent, large
    102: {True: W_EQ_A, False: W_EQ_A},      # equal areas: first wins
    103: {True: W_EQ_B, False: W_EQ_B},      # ... in either order
    104: {True: None, False: W_SMALL},       # first way member broken
    105: {True: W_LARGE, False: W_LARGE},    # admin boundary, J3 applies
    106: {True: W_SMALL, False: W_SMALL},    # admin_centre, not admin
    107: {True: W_LARGE, False: W_LARGE},    # shares W_LARGE with 101/105
}


@pytest.fixture(scope="module")
def rule_tables(spark):
    pts = {1: (1.0, 10.0), 2: (1.25, 10.25), 3: (1.0, 10.25),
           4: (2.0, 20.0), 5: (4.0, 23.0),
           6: (5.0, 30.0), 7: (5.5, 30.5), 8: (5.0, 40.0), 9: (5.5, 40.5),
           ADMIN_NODE: (3.0, 21.0), LATER_ADMIN_NODE: (3.5, 22.0)}
    nodes = pd.DataFrame({
        "id": list(pts), "lat": [p[0] for p in pts.values()],
        "lon": [p[1] for p in pts.values()],
        "tags": [{"entrance": "main", "wheelchair": "yes"}
                 if i == ADMIN_NODE else {} for i in pts]})
    refs = {W_SMALL: [1, 2, 3], W_LARGE: [4, 5], W_EQ_A: [6, 7],
            W_EQ_B: [8, 9], W_BROKEN: [1, MISSING_NODE]}
    ways = pd.DataFrame({"id": list(refs), "refs": list(refs.values()),
                         "tags": [{"building": "yes"}] * len(refs)})

    def way(i):
        return {"type": 1, "ref": i, "role": "outer"}

    def admin(i):
        return {"type": 0, "ref": i, "role": "admin_centre"}

    bld = {"building": "yes"}
    rels = pd.DataFrame([
        (101, [way(W_SMALL), way(W_ABSENT), way(W_LARGE)], bld),
        (102, [way(W_EQ_A), way(W_EQ_B)], bld),
        (103, [way(W_EQ_B), way(W_EQ_A)], bld),
        (104, [way(W_BROKEN), way(W_SMALL)], bld),
        (105, [admin(MISSING_NODE), way(W_LARGE), admin(ADMIN_NODE),
               admin(LATER_ADMIN_NODE)],
         {"boundary": "administrative", "name": "b"}),
        (106, [way(W_SMALL), admin(ADMIN_NODE)], bld),
        (107, [way(W_LARGE)], bld),
    ], columns=["id", "members", "tags"])
    s = synth.spark_schemas()
    pdfs = (nodes, ways, rels)
    dfs = tuple(spark.createDataFrame(pdf, schema=s[name]) for name, pdf in
                zip(("nodes", "ways", "relations"), pdfs))
    return pdfs, dfs


def _by_id(df):
    return {r.id: r.asDict(recursive=True) for r in df.collect()}


@pytest.mark.parametrize("strict", [True, False])
def test_relation_rules_fixture(spark, rule_tables, strict):
    pdfs, (nodes, ways, rels) = rule_tables
    got = _by_id(dn.denormalize_relations(nodes, ways, rels, FIXTURE_SPEC,
                                          strict_parity=strict))
    way_rows = _by_id(dn.denormalize_ways(nodes, ways, "building",
                                          strict_parity=strict))
    want_ids = {r for r, pick in PICKS.items() if pick[strict] is not None}
    assert set(got) == want_ids
    for rid in want_ids:
        picked = way_rows[PICKS[rid][strict]]
        assert got[rid]["bounds"] == picked["bounds"], rid
        if rid != 105:
            assert got[rid]["centroid"] == picked["centroid"], rid
    assert got[105]["centroid"] == {
        "lat": "3.0000000", "lon": "21.0000000", "type": "admin_centre",
        "entrance": "2", "wheelchair": "2"}
    if strict:
        want = {int(g.split(":")[1]): w for g, w in
                oracle_pipeline(*pdfs, FIXTURE_SPEC).items()
                if g.startswith("relation:")}
        assert got == want


def test_node_store_flags_fold_case_like_the_oracle(spark):
    """node_store's flag byte over case variants and non-ASCII
    look-alikes of the entrance/wheelchair words equals the Python
    oracle's (str.lower() in geokernels)."""
    from pbf2json_spark.functions import geokernels as gk
    ents = ["main", "MAIN", "Main", "YeS", "home", "HOME", "StairCase",
            "exit", "", None, "ma\u0131n", "MA\u0130N", "\uff2d\uff21\uff29\uff2e",
            "main "]
    whls = ["yes", "YES", "No", "limited", "", None, "\uff39\uff25\uff33"]
    rows, want = [], {}
    for i, (e, w) in enumerate((e, w) for e in ents for w in whls):
        tags = {k: v for k, v in (("entrance", e), ("wheelchair", w)) if v is not None}
        rows.append((i, 0.0, 0.0, tags))
        ent = gk.entrance_class(e)
        want[i] = (ent if ent > 0 else -1,
                   gk.wheelchair_class(w) if ent > 0 else -1)
    nodes = spark.createDataFrame(rows, synth.spark_schemas()["nodes"])
    got = {r.ref: (r.ent, r.whl) for r in dn.node_store(nodes).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# the one way resolution: output bytes, plan shape and driver budget
# ---------------------------------------------------------------------------

# sha256 prefix of the sorted "gid\tjson" lines of run_pipeline over the
# module tables, per (strict_parity, waynodes): the output bytes any
# plan change must keep
PINNED_SPEC = "boundary~administrative,building"
PINNED = {(True, False): (263, "794382133f5bc2de"),
          (True, True): (263, "d693a904601919c9"),
          (False, False): (265, "dc8897033858823f"),
          (False, True): (265, "1b344bc5ec42881a")}


@pytest.mark.parametrize("strict,waynodes", sorted(PINNED))
def test_pipeline_output_bytes_pinned(spark, tables, strict, waynodes):
    import hashlib
    _, (nodes, ways, rels) = tables
    rows = sorted((r.gid, r.json) for r in dn.run_pipeline(
        nodes, ways, rels, PINNED_SPEC, waynodes=waynodes,
        strict_parity=strict).collect())
    digest = hashlib.sha256("\n".join(
        f"{g}\t{j}" for g, j in rows).encode()).hexdigest()
    assert (len(rows), digest[:16]) == PINNED[(strict, waynodes)]


def test_pipeline_resolves_each_way_once(spark, tables):
    """The executed plan (AQE's final plan) explodes refs once and runs
    the centroid UDF once, for matched and relation-member ways alike."""
    _, (nodes, ways, rels) = tables
    df = dn.run_pipeline(nodes, ways, rels, "building,shop")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Generate posexplode(refs") == 1, final
    assert final.count("ArrowEvalPython [centroid_bounds(") == 1, final


def test_pipeline_driver_budget(spark, tables):
    """Building the run_pipeline DataFrame takes at most 1,000 py4j round
    trips: its fixed expressions are SQL text, not trees of Column
    calls (one round trip or more per call).  Only the calling thread's
    commands count: py4j's finalizer thread sends its asynchronous
    object-release commands through the same method."""
    import gc
    import threading

    import py4j.clientserver as cs
    _, (nodes, ways, rels) = tables
    send = cs.ClientServerConnection.send_command
    calls = []
    caller = threading.get_ident()

    def counted(conn, command):
        if threading.get_ident() == caller:
            calls.append(command[:1])
        return send(conn, command)
    dn.run_pipeline(nodes, ways, rels, "building,shop")  # warm the caches
    gc.collect()
    gc.disable()
    cs.ClientServerConnection.send_command = counted
    try:
        dn.run_pipeline(nodes, ways, rels, "building,shop")
    finally:
        cs.ClientServerConnection.send_command = send
        gc.enable()
    assert len(calls) <= 1000, len(calls)
