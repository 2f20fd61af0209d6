"""Tag-predicate (DNF) compiler: the reference's CLI grammar -> Catalyst.

Grammar (from /root/reference/pbf2json.go:52-55 and the matcher at
:607-637): a comma-separated OR-list of AND-groups; each AND term is a
tag key that must be present, optionally ``key~value`` requiring
equality.  Multiple '~' split like Go's strings.Split: only the second
segment is the value (``a~b~c`` means key 'a' must equal 'b').

The compiled form is a single Column expression evaluated inside the
scan stage's whole-stage codegen (the reference's pass-1 "bitmask the
matching elements" trick as a filter — SURVEY.md §4).  Parquet cannot
push MAP-key lookups into row-group statistics, so for 100 TB tables
use ``compile_tag_predicate_flat`` over promoted top-level tag columns
(the standard OSM-at-scale layout: hot keys like building/amenity
stored as nullable string columns) — that form lands in PushedFilters
and skips row groups at the scan.  Matching is evaluated on *raw*
(un-trimmed) tags, as in the reference (trimTags runs at emit time
only, pbf2json.go:238,285,371).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _dnf(spec: str, term) -> Column:
    """The grammar as one SQL expression (a single parse, not a tree of
    Column calls); term(key, value_or_None) -> SQL text of one term."""
    if not spec:
        raise ValueError("empty tag spec: you must specify tags to match against")
    groups = []
    for group in spec.split(","):
        conds = []
        for t in group.split("+"):
            parts = t.split("~")
            conds.append(term(parts[0], parts[1] if len(parts) > 1 else None))
        groups.append("(" + " AND ".join(conds) + ")")
    return F.expr(" OR ".join(groups))


def compile_tag_predicate(spec: str, tags_col: str = "tags") -> Column:
    """'building,amenity~toilets+name' -> Column over a map column."""
    def term(key, value):
        cond = f"map_contains_key({tags_col}, {_sql_str(key)})"
        if value is None:
            return cond
        return f"{cond} AND {tags_col}[{_sql_str(key)}] = {_sql_str(value)}"
    return _dnf(spec, term)


def compile_tag_predicate_flat(spec: str, columns: dict[str, str]) -> Column:
    """The same DNF grammar over PROMOTED tag columns: `columns` maps
    tag key -> top-level column name (null = tag absent).  Because the
    result references plain columns, Catalyst pushes it into the
    parquet scan (PushedFilters), which map lookups can never achieve.
    Keys without a promoted column raise — silent fallback would
    silently change scan cost by 100x at scale."""
    def term(key, value):
        if key not in columns:
            raise KeyError(
                f"tag key {key!r} has no promoted column; promote it "
                f"or use compile_tag_predicate on the map column")
        col = columns[key]
        if value is None:
            return f"{col} IS NOT NULL"
        return f"{col} IS NOT NULL AND {col} = {_sql_str(value)}"
    return _dnf(spec, term)


def has_tags(tags_col: str = "tags") -> Column:
    """Reference hasTags (pbf2json.go:649-655): non-empty tag map."""
    return F.expr(f"size({tags_col}) > 0")


def trimmed_tags(tags_col: str = "tags") -> Column:
    """Reference trimTags (pbf2json.go:640-646): trim whitespace from all
    keys and values (emit-time projection).  Requires the session config
    spark.sql.mapKeyDedupPolicy=LAST_WIN if trimming can collide keys —
    Go's map overwrite is order-nondeterministic there anyway."""
    return F.expr(f"transform_values(transform_keys({tags_col}, "
                  "(k, v) -> trim(k)), (k, v) -> trim(v))")


def match_tags_py(tags: dict, spec: str) -> bool:
    """Pure-Python twin of compile_tag_predicate for the pandas oracle."""
    for group in spec.split(","):
        ok = True
        for term in group.split("+"):
            parts = term.split("~")
            if parts[0] not in tags:
                ok = False
                break
            if len(parts) > 1 and tags[parts[0]] != parts[1]:
                ok = False
                break
        if ok:
            return True
    return False
