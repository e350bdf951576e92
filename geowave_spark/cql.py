"""CQL/ECQL filter front-end → Spark SQL predicates.

The analog of the reference's GeoTools-ecosystem entry point:
``CQLQueryFilter.java`` evaluates an ECQL filter against features and
``OptimalCQLQuery.java`` converts the CQL tree into GeoWave filter
expressions so index constraints can be inferred.  Here the common ECQL
subset rewrites to a Spark SQL predicate over the registered ST UDFs
(``geowave_spark.functions.register_all``) — Catalyst then plans the
scan with pushdown like any native filter (the "optimal" part of
OptimalCQLQuery for free).

Supported subset (mirrors the cases of the reference's
``CQLToGeoWaveFilterTest.java``):

- comparisons ``= <> < <= > >=``, ``BETWEEN a AND b``,
  ``IS [NOT] NULL``, ``LIKE 'pat%'``, ``IN (…)`` — pass through;
- boolean ``AND / OR / NOT`` and parentheses — pass through;
- ``INCLUDE`` / ``EXCLUDE`` → TRUE / FALSE;
- spatial predicates ``BBOX(geom, minx, miny, maxx, maxy [, 'crs'])``
  (crs argument dropped — the engine is single-CRS like the default
  index), ``INTERSECTS / DISJOINT / CONTAINS / WITHIN / TOUCHES /
  CROSSES / OVERLAPS (geom, <WKT literal>)`` and
  ``DWITHIN(geom, <WKT>, dist [, units])`` → the ``st_*`` UDFs; ECQL's
  *bare* WKT literals (``POINT (1 2)``, ``POLYGON ((…))``) become quoted
  strings, which is this engine's geometry representation;
- temporal ``attr BEFORE <iso>``, ``AFTER``, ``DURING t1/t2`` with
  ECQL's unquoted ISO-8601 instants → timestamp comparisons / half-open
  range (the same mapping the GWQL front-end uses).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_WKT_TYPES = (
    "POINT",
    "LINESTRING",
    "POLYGON",
    "MULTIPOINT",
    "MULTILINESTRING",
    "MULTIPOLYGON",
)

_SPATIAL_FN = {
    "bbox": "st_bbox",
    "intersects": "st_intersects",
    "disjoint": "st_disjoint",
    "contains": "st_contains",
    "within": "st_within",
    "touches": "st_touches",
    "crosses": "st_crosses",
    "overlaps": "st_overlaps",
    "dwithin": "st_within_distance",
}

# ECQL unquoted ISO-8601 instant (optionally with /end for DURING)
_ISO = r"\d{4}-\d{2}-\d{2}(?:T\d{2}:\d{2}:\d{2}(?:\.\d+)?Z?)?"

_TOKEN = re.compile(
    r"\s*("
    r"'(?:[^']|'')*'"
    rf"|{_ISO}/{_ISO}"
    rf"|{_ISO}"
    r"|<>|<=|>=|!="
    r"|[(),*+\-/=<>]"
    r"|[A-Za-z_][A-Za-z0-9_.]*"
    r"|\d+\.?\d*(?:[eE][+-]?\d+)?"
    r")"
)


def _tokens(s: str) -> list[str]:
    out, pos = [], 0
    while pos < len(s):
        m = _TOKEN.match(s, pos)
        if not m:
            if s[pos:].strip():
                raise ValueError(f"CQL: cannot tokenize at {s[pos:pos+25]!r}")
            break
        out.append(m.group(1))
        pos = m.end()
    return out


def _take_wkt(tokens: list[str], i: int) -> tuple[str, int] | None:
    """If tokens[i:] starts a bare WKT literal, return (quoted, next_i)."""
    if tokens[i].upper() not in _WKT_TYPES:
        return None
    j = i + 1
    if j >= len(tokens) or tokens[j] != "(":
        return None
    depth = 0
    parts = [tokens[i].upper()]
    while j < len(tokens):
        t = tokens[j]
        depth += t == "("
        depth -= t == ")"
        parts.append(t)
        j += 1
        if depth == 0:
            break
    if depth != 0:
        raise ValueError("CQL: unbalanced WKT literal")
    wkt = " ".join(parts).replace("( ", "(").replace(" )", ")").replace(" ,", ",")
    return f"'{wkt}'", j


_TEMPORAL = {"before": "<", "after": ">"}


def translate_cql(cql: str) -> str:
    """ECQL filter text → Spark SQL boolean expression."""
    tokens = _tokens(cql)
    out: list[str] = []
    i = 0
    while i < len(tokens):
        t = tokens[i]
        low = t.lower()
        nxt = tokens[i + 1] if i + 1 < len(tokens) else None
        wkt = _take_wkt(tokens, i)
        if wkt is not None:
            out.append(wkt[0])
            i = wkt[1]
            continue
        if low in _SPATIAL_FN and nxt == "(":
            out.append(_SPATIAL_FN[low])
            if low == "dwithin":
                # drop a trailing units argument if present:
                # DWITHIN(g, wkt, d, meters) → st_within_distance(g, wkt, d)
                depth, j = 0, i + 1
                args: list[int] = []  # top-level comma positions
                while j < len(tokens):
                    tk = tokens[j]
                    depth += tk == "("
                    depth -= tk == ")"
                    if tk == "," and depth == 1:
                        args.append(j)
                    if depth == 0:
                        break
                    j += 1
                if len(args) == 3:  # has units → delete last ", units"
                    del tokens[args[2] : j]
        elif low == "include":
            out.append("TRUE")
        elif low == "exclude":
            out.append("FALSE")
        elif low in _TEMPORAL and nxt and re.fullmatch(_ISO, nxt):
            out.append(_TEMPORAL[low])
            out.append(f"TIMESTAMP '{nxt.rstrip('Z').replace('T', ' ')}'")
            i += 2
            continue
        elif low == "during" and nxt and "/" in nxt and re.match(_ISO, nxt):
            if not out:
                raise ValueError("CQL: DURING needs a left operand")
            left = out.pop()
            start, _, end = nxt.partition("/")
            start = start.rstrip("Z").replace("T", " ")
            end = end.rstrip("Z").replace("T", " ")
            out.append(
                f"({left} >= TIMESTAMP '{start}' AND {left} < TIMESTAMP '{end}')"
            )
            i += 2
            continue
        else:
            out.append(t)
        i += 1
    return " ".join(out)


def cql_filter(df: DataFrame, cql: str) -> DataFrame:
    """Apply an ECQL filter to a DataFrame (CQLQueryFilter analog)."""
    from .functions.registry import register_all

    register_all(df.sparkSession)
    return df.where(F.expr(translate_cql(cql)))


def cql_query(spark: SparkSession, table: str, cql: str) -> DataFrame:
    """``OptimalCQLQuery`` analog: filter a registered view by ECQL —
    Catalyst infers pushdown/pruning from the translated predicate."""
    from .functions.registry import register_all

    register_all(spark)
    return spark.sql(f"SELECT * FROM {table} WHERE {translate_cql(cql)}")
