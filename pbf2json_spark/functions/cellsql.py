"""JVM-side (Catalyst expression) cell keys: the equirect grid
coordinates that the kNN ladder packs into its join keys, and the
quad-sphere twin of cellindex.s2_cell_id.

A corpus-side cell-key build runs over the whole table; doing it as a
pandas UDF made the first join's scan a Python stage (Arrow crossing +
worker pool) for what is just float math + bit interleaving.  This
module builds the same values as pure Spark column expressions —
whole-stage-codegen-able, no Python anywhere — with the exact same
float semantics as the numpy codec (same op order, pmod == np.mod for
the floored longitude wrap), pinned against it in
tests/test_cellindex.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .cellindex import MAX_RES, S2_MAX_LEVEL


def cell_ij_cols(lat: Column, lon: Column, res: int):
    """(i, j) equirect grid coordinates at `res` as a pair of long
    Columns — cellindex.cell_id's clamped/wrapped index math without
    the Morton pack, for the kNN ladder, which packs its own keys.
    Materialize these via a projection before fanning out: each ring
    key references them twice and janino compile cost grows with the
    duplicated floor/pmod subtree otherwise."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    nlat, nlon = 1 << res, 2 << res
    i = F.least(
        F.greatest(F.floor((lat + F.lit(90.0)) / F.lit(180.0)
                           * F.lit(float(nlat))), F.lit(0)),
        F.lit(nlat - 1)).cast("long")
    j = F.least(
        F.greatest(F.floor(F.pmod((lon + F.lit(180.0)) / F.lit(360.0),
                                  F.lit(1.0)) * F.lit(float(nlon))),
                   F.lit(0)),
        F.lit(nlon - 1)).cast("long")
    return i, j


# ---------------------------------------------------------------------------
# quad-sphere ("s2") family twin
# ---------------------------------------------------------------------------
# Replicates cellindex.s2_cell_id op-for-op in Catalyst
# expressions.  Float-parity notes:
# - np.radians(x) is x * C with C = round(pi/180) precomputed
#   (verified bit-identical to the mul-const form; Spark's F.radians
#   is Math.toRadians = x/180*PI, a DIFFERENT rounding) -> explicit
#   literal multiply.
# - +, -, *, /, sqrt, floor are IEEE-identical across numpy and the
#   JVM; sin/cos are each <=1 ulp but independently implemented, so a
#   point whose (u, v) lies within ~1e-16 relative of a cell boundary
#   (or whose |x|,|y|,|z| tie at a face boundary) can land one cell
#   over.  That window is ~1e-8 of the cell span per sample at level
#   26 — the pinning test samples thousands of points (fixed seed)
#   and asserts full bit-identity; exact face-corner inputs are the
#   measure-zero caveat, same class as the equirect codec's boundary
#   note.
# - with_s2_fst materializes the face/s/t subexpressions ONCE as
#   projections; with_s2_cell derives the level's i/j from them, and
#   keep_fst=True lets later calls reuse them instead of re-deriving
#   the trig.

_DEG2RAD = float(np.pi / 180.0)


def _st_col(p: Column) -> Column:
    """Column twin of cellindex._st (same op order: 3.0*p, 1.0+t,
    max(.,0), sqrt, 0.5*)."""
    return F.when(p >= 0.0,
                  0.5 * F.sqrt(F.greatest(1.0 + 3.0 * p, F.lit(0.0)))) \
            .otherwise(1.0 - 0.5 * F.sqrt(
                F.greatest(1.0 - 3.0 * p, F.lit(0.0))))


def _s2_choose(face: Column, opts) -> Column:
    """np.choose twin: element_at over a flat 6-element array.  The
    nested CASE WHEN form computed the same values, but deep
    conditional nesting fused with a columnar parquet scan compiled
    PATHOLOGICALLY — janino spent ~14 s per stage (measured on a
    1500-row join; wholeStage=off dropped it to 4.7 s).  A flat array
    index generates branch-free code that compiles in milliseconds;
    all 6 element expressions are cheap column (neg)ations, so eager
    evaluation costs nothing."""
    return F.element_at(F.array(*opts), (face + 1).cast("int"))


_S2_SCRATCH = ("_s2x", "_s2y", "_s2z", "_s2u", "_s2v",
               "_s2i", "_s2j", "_s2si", "_s2sj", "_s2si_n", "_s2sj_n")


_FST_SRC_KEY = "pbf2json_s2_src"


def check_fst_source(df, lat_col: str, lon_col: str, f: str = "_s2f"):
    """Refuse to reuse pre-attached (face, s, t) columns derived from a
    DIFFERENT coordinate pair (ADVICE r5): with_s2_fst stamps the source
    column names into the face column's metadata; any consumer about to
    reuse fst instead of re-deriving calls this first.  Frames whose fst
    carries no stamp (hand-built, or metadata stripped by an exotic
    rewrite) fall back to the documented staleness caller contract —
    reuse is allowed, exactly as before the stamp existed.

    RENAME CAVEAT (ADVICE r6 #4): the stamp records column NAMES, so
    renaming the coordinate columns after with_s2_fst makes a valid
    reuse fail loudly here (same data, new names) — drop the fst
    columns or re-derive under the new names.  Fails loud rather than
    wrong, by design."""
    try:
        meta = df.schema[f].metadata or {}
    except KeyError:
        return
    src = meta.get(_FST_SRC_KEY)
    if src is None:
        return
    # the stamp is a two-element list since r7 (a '|'-joined string was
    # ambiguous for column names containing '|'); accept the legacy
    # string form from frames persisted by older code
    got = src.split("|") if isinstance(src, str) else list(src)
    if got != [lat_col, lon_col]:
        raise ValueError(
            f"pre-attached s2 fst columns on this frame were derived from "
            f"({got[0]!r}, {got[1]!r}) but this call asked for "
            f"({lat_col!r}, {lon_col!r}) — reusing them would key every "
            f"downstream cell on the wrong coordinates.  Drop "
            f"_s2f/_s2s/_s2t (or re-run attach_s2 / with_s2_fst over the "
            f"intended columns) first.  (If you only RENAMED the "
            f"coordinate columns, the data is still valid — re-derive "
            f"or drop the fst columns to clear the stamp.)")


def _guard_s2_scratch(df, extra=()):
    """The with_s2_* builders create intermediates under fixed _s2*
    names via df.select("*", alias); an input frame already carrying
    one would yield duplicate columns and an ambiguous-reference
    failure deep downstream (ADVICE r4) — refuse up front instead."""
    clash = [c for c in df.columns if c in _S2_SCRATCH or c in extra]
    if clash:
        raise ValueError(
            f"with_s2_* reserved scratch column name(s) already present "
            f"on the input frame: {clash} — rename them, or (for "
            f"_s2f/_s2s/_s2t from a prior with_s2_cell(keep_fst=True)) "
            f"call with_s2_cell again and it will REUSE them")


def with_s2_fst(df, lat_col: str, lon_col: str,
                f: str = "_s2f", s: str = "_s2s", t: str = "_s2t"):
    """df + materialized (face, s, t) columns, via a CHAIN OF CHEAP
    PROJECTIONS (xyz -> face/u/v -> st) instead of one expression.

    STALENESS CALLER CONTRACT (applies to every keeper of these
    columns, ADVICE r4): like any precomputed index column, (f, s, t)
    are a pure function of the lat/lon values AT DERIVATION TIME.
    with_s2_cell, which detects and reuses them, cannot tell if
    lat/lon were rewritten afterwards — re-derive after any coordinate
    mutation.

    Why this is not a single Column: codegen subexpression elimination
    does NOT reach inside CASE WHEN branches, so the one-expression
    form recomputes the trig per branch reference — 3x slower than the
    Arrow pandas UDF it was meant to beat (1M-row groupBy microbench).
    Each hop below references the previous hop's non-cheap aliases
    more than once, which is exactly the condition under which
    Catalyst's CollapseProject keeps the projections separate."""
    _guard_s2_scratch(df, extra=(f, s, t))
    la = F.col(lat_col) * F.lit(_DEG2RAD)
    lo = F.col(lon_col) * F.lit(_DEG2RAD)
    cl = F.cos(la)
    df = df.select("*",
                   (cl * F.cos(lo)).alias("_s2x"),
                   (cl * F.sin(lo)).alias("_s2y"),
                   F.sin(la).alias("_s2z"))
    x, y, z = F.col("_s2x"), F.col("_s2y"), F.col("_s2z")
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    face = F.when((ax >= ay) & (ax >= az),
                  F.when(x >= 0.0, F.lit(0)).otherwise(F.lit(1))) \
            .otherwise(
                F.when(ay >= az,
                       F.when(y >= 0.0, F.lit(2)).otherwise(F.lit(3)))
                 .otherwise(
                       F.when(z >= 0.0, F.lit(4)).otherwise(F.lit(5)))) \
            .cast("long")

    # source-column stamp (ADVICE r5): consumers that REUSE fst columns
    # (with_s2_cell; knn family='s2' checks too) verify
    # that the requested lat/lon pair is the one fst was derived from —
    # presence-only detection silently keyed cells on the WRONG
    # coordinate pair when a frame carried fst from a different pair
    # (e.g. attach_s2 over pickup coords, then a call over dropoff).
    # Column metadata survives projections and parquet round-trips.
    df = df.select("*", face.alias(
        f, metadata={_FST_SRC_KEY: [lat_col, lon_col]}))
    fc = F.col(f)
    dom = _s2_choose(fc, [x, -x, y, -y, z, -z])
    df = df.select("*",
                   (_s2_choose(fc, [y, -y, -x, x, y, -y]) / dom)
                   .alias("_s2u"),
                   (_s2_choose(fc, [z, z, z, z, -x, x]) / dom)
                   .alias("_s2v"))
    df = df.select("*",
                   _st_col(F.col("_s2u")).alias(s),
                   _st_col(F.col("_s2v")).alias(t))
    return df.drop("_s2x", "_s2y", "_s2z", "_s2u", "_s2v")


# _part1by1's mask-shift cascade, as CHAINED PROJECTIONS (each step
# references the previous step's alias twice, which is exactly what
# keeps CollapseProject from re-inlining it into a doubled tree).
# A byte-table element_at spread is the other option, but its
# 256-literal arrays fused into a parquet-scan stage measured ~3.8 s
# of per-query janino compile (and the compile is paid per query —
# fresh exprIds defeat the codegen source cache); the cascade chain
# compiles in milliseconds.  Two steps per projection: the input of
# each step is a cheap column ref, so the within-projection tree
# stays tiny, and three projections keep the fused chain shallow.
_SPREAD_MASKS = (0x0000FFFF0000FFFF, 0x00FF00FF00FF00FF,
                 0x0F0F0F0F0F0F0F0F, 0x3333333333333333,
                 0x5555555555555555)
_SPREAD_SHIFTS = (16, 8, 4, 2, 1)


def _spread_steps(col: Column, pairs) -> Column:
    """Apply the given (mask, shift) cascade steps to a cheap column
    reference IN ONE expression.  Two steps per projection keeps the
    inline tree tiny (the input is a column ref, so doubling it costs
    nothing) while holding the PROJECTION CHAIN short — janino's
    local-variable-map pass goes quadratic on deeply fused projection
    chains (measured: a 25-projection chain OOMed an 8g driver heap
    compiling one kNN stage)."""
    out = col
    for m, sh in pairs:
        out = out.bitwiseOR(F.shiftleft(out, sh)).bitwiseAND(F.lit(m))
    return out


def with_s2_cell(df, lat_col: str, lon_col: str, level: int,
                 out_col: str, keep_fst: bool = False):
    """df + one quad-sphere cell column at `level` — the fast path for
    attaching a density/partition key directly to a SCANNED corpus
    (no cache boundary needed): with_s2_fst projections + i/j floors
    + the chained mask-shift spread + one morton combine, all cheap
    hops janino compiles in milliseconds even when fused with a
    columnar parquet scan.

    keep_fst=True leaves the (_s2f, _s2s, _s2t) columns on the frame —
    the ingest-time pattern: later calls of this function detect and
    REUSE them instead of re-deriving the trig chain, saving one
    projection-chain compile + evaluation per query.  STALENESS CALLER CONTRACT: the
    reused (f, s, t) must have been derived from the CURRENT lat/lon
    values — a coordinate rewrite after keep_fst silently keys every
    downstream cell on the old coordinates (see with_s2_fst)."""
    if not 0 <= level <= S2_MAX_LEVEL:
        raise ValueError(f"level must be in [0, {S2_MAX_LEVEL}]")
    n = 1 << level
    steps = list(zip(_SPREAD_MASKS, _SPREAD_SHIFTS))
    reused_fst = {"_s2f", "_s2s", "_s2t"} <= set(df.columns)
    if reused_fst:
        _guard_s2_scratch(df)  # scratch names other than fst still clash
        check_fst_source(df, lat_col, lon_col)
    else:
        df = with_s2_fst(df, lat_col, lon_col)
    df = df.select(
        "*",
        F.least(F.greatest(F.floor(F.col("_s2s") * F.lit(float(n))),
                           F.lit(0)), F.lit(n - 1)).cast("long")
         .alias("_s2i"),
        F.least(F.greatest(F.floor(F.col("_s2t") * F.lit(float(n))),
                           F.lit(0)), F.lit(n - 1)).cast("long")
         .alias("_s2j"))
    df = df.select(
        "*",
        _spread_steps(F.col("_s2i").bitwiseAND(F.lit(0x7FFFFFF)),
                      steps[0:2]).alias("_s2si"),
        _spread_steps(F.col("_s2j").bitwiseAND(F.lit(0x7FFFFFF)),
                      steps[0:2]).alias("_s2sj"))
    for lo, hi in ((2, 4), (4, 5)):
        df = df.select(
            "*",
            _spread_steps(F.col("_s2si"), steps[lo:hi]).alias("_s2si_n"),
            _spread_steps(F.col("_s2sj"), steps[lo:hi]).alias("_s2sj_n")) \
            .drop("_s2si", "_s2sj") \
            .withColumnRenamed("_s2si_n", "_s2si") \
            .withColumnRenamed("_s2sj_n", "_s2sj")
    cell = (F.shiftleft(F.col("_s2f"), 59)
            .bitwiseOR(F.lit(level << 54).cast("long"))
            .bitwiseOR(F.col("_s2sj")
                       .bitwiseOR(F.shiftleft(F.col("_s2si"), 1))))
    df = df.select("*", cell.alias(out_col))
    drop = ["_s2i", "_s2j", "_s2si", "_s2sj"]
    # pre-attached fst columns belong to the caller (ingest-time
    # pattern) — never drop what this call did not derive
    if not keep_fst and not reused_fst:
        drop += ["_s2f", "_s2s", "_s2t"]
    return df.drop(*drop)
