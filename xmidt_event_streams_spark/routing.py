"""Routing: the reference's core query, compiled to Catalyst plans.

The reference evaluates every message against every configured filter
(fan-out, reference: filter/filter_manager.go:136-138); a filter
passes a message iff

  (R2) ANY event regex matches the destination with an ``event:``
       prefix stripped (filter/filter.go:63-82) -- unanchored match,
  (R3) AND (device-id matcher list is empty OR ANY device regex
       matches the source OR the stripped destination)
       (filter/filter.go:84-97).

Here each filter compiles once, at plan time, into a Spark ``Column``
predicate -- an OR-chain of ``rlike`` with *literal* patterns, so the
regex is compiled once per task inside whole-stage codegen and the OR
short-circuits per row (the reference's early-exit loop,
filter/filter.go:72-77, for free).

Three physical strategies for the fan-out, all shuffle-free:

  * :func:`route_union` -- ONE scan: a single projection evaluates
    every filter's predicate into a matched-streams array, explode
    emits the (message, stream) pairs (r10 shape; the previous
    branch-per-filter union re-read the source once per filter).
    Best when the filter set is known at plan time: predicates stay
    literal, codegen-compiled regexes.
  * :func:`route` -- N branch plans over one source, for callers
    that need per-stream DataFrames (e.g. one sink per stream).
  * :func:`route_crossjoin` -- a broadcast nested-loop join against
    the filter relation with a data-driven ``exists(..., rlike)``
    predicate. Best when filters arrive as data OR the filter set is
    large (hundreds of streams). The filter table is tiny so the
    broadcast is trivial; at 100 TB the big side never moves.
"""

from __future__ import annotations

from typing import Iterable, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from xmidt_event_streams_spark.config import FilterConfig

EVENT_PREFIX = "event:"
# Literal-prefix strip as an anchored regex (the prefix contains no
# regex metacharacters, so this is exactly strings.TrimPrefix,
# reference: filter/filter.go:73).
_STRIP_RE = f"^{EVENT_PREFIX}"

# --- SQL-literal transport for config-supplied patterns (r11) -------
#
# The routing predicates were the last Column-composed build on the
# headline path (~0.09 s of py4j round trips per query build, guide
# §5) -- they stayed Column-built in r10 because the SQL parser
# silently drops the backslash from escape sequences it does not
# recognize ('\d' becomes a literal 'd'), corrupting config regexes.
# The fix is to ship every non-alphanumeric character as an explicit
# \uXXXX escape (the one escape class the parser handles losslessly;
# proven by the minhash whitespace class since r10). The encoding is
# pure Python string work (~free per build); the decoded string the
# regex engine sees is byte-identical to the config pattern
# (adversarial patterns pinned by tests/test_routing.py).
_SQL_LITERAL_SAFE = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 "
)


def sql_string_literal(s: str) -> str:
    """Encode an arbitrary Python string as a lossless Spark-SQL
    string literal: every character outside [A-Za-z0-9 ] is spelled
    as a \\uXXXX escape (UTF-16 surrogate pairs above the BMP, which
    is what the JVM string holds anyway)."""
    out = []
    for ch in s:
        cp = ord(ch)
        if ch in _SQL_LITERAL_SAFE:
            out.append(ch)
        elif cp <= 0xFFFF:
            out.append(f"\\u{cp:04X}")
        else:
            cp -= 0x10000
            out.append(f"\\u{0xD800 + (cp >> 10):04X}")
            out.append(f"\\u{0xDC00 + (cp & 0x3FF):04X}")
    return "'" + "".join(out) + "'"


def strip_event_prefix(dest: Column | str) -> Column:
    """``strings.TrimPrefix(dest, "event:")`` (filter/filter.go:73,87)."""
    dest = F.col(dest) if isinstance(dest, str) else dest
    return F.regexp_replace(dest, _STRIP_RE, "")


def strip_event_prefix_sql(dest: str) -> str:
    """:func:`strip_event_prefix` of the column named ``dest``, in SQL text."""
    return f"regexp_replace(`{dest}`, {sql_string_literal(_STRIP_RE)}, '')"


def event_predicate(fc: FilterConfig, dest: Column | str) -> Column:
    """R2: OR over event regexes against the stripped destination."""
    stripped = strip_event_prefix(dest)
    pred = F.lit(False)
    for pat in fc.events:
        pred = pred | stripped.rlike(pat)
    return pred


def device_predicate(
    fc: FilterConfig, source: Column | str, dest: Column | str
) -> Column | None:
    """R3: OR over device regexes against source OR stripped dest.

    Returns None when the matcher list is empty (pass-all), including
    after ``.*`` wildcard elision (R4) -- the caller emits no predicate
    at all, mirroring the reference's cleared matcher list.
    """
    matchers = fc.effective_device_ids
    if not matchers:
        return None
    source = F.col(source) if isinstance(source, str) else source
    stripped = strip_event_prefix(dest)
    pred = F.lit(False)
    for pat in matchers:
        pred = pred | source.rlike(pat) | stripped.rlike(pat)
    return pred


def filter_predicate(
    fc: FilterConfig, dest: Column | str = "dest", source: Column | str = "source"
) -> Column:
    """The full R2 AND R3 predicate for one filter."""
    pred = event_predicate(fc, dest)
    dev = device_predicate(fc, source, dest)
    if dev is not None:
        pred = pred & dev
    return pred


def compile_filters(
    filters: Iterable[FilterConfig],
    dest: str = "dest",
    source: str = "source",
) -> list[tuple[FilterConfig, Column]]:
    """Plan-time compilation of the whole filter set (the analog of the
    reference's startup loadFilters phase, filter/filter_manager.go:83-113)."""
    return [(fc, filter_predicate(fc, dest, source)) for fc in filters]


def route(
    df: DataFrame,
    filters: Iterable[FilterConfig],
    dest: str = "dest",
    source: str = "source",
) -> dict[str, DataFrame]:
    """R1 fan-out as N branch plans over one source DataFrame.

    Works identically for batch and streaming DataFrames (the
    predicates are stateless narrow transformations).
    """
    return {
        fc.stream_name: df.filter(pred)
        for fc, pred in compile_filters(filters, dest, source)
    }


def route_union(
    df: DataFrame,
    filters: Iterable[FilterConfig],
    dest: str = "dest",
    source: str = "source",
    stream_col: str = "stream_name",
) -> DataFrame:
    """Fan-out flattened to a single relation tagged with the matching
    stream -- one row per (message, matching filter) pair, the exact
    multiset the reference's dispatchers receive.

    Physical shape (r10): ONE scan. Every filter's predicate is
    evaluated in a single projection building the per-row array of
    matching stream names, then ``explode`` emits the (message,
    stream) pairs -- a narrow generator, no shuffle. The previous
    shape (one filtered branch per filter, unioned) re-scanned and
    re-decoded the source once PER FILTER: total regex work is
    identical either way (each branch evaluated only its own
    predicate), but the N-1 extra source passes are pure overhead --
    at 100 TB a 3-filter set read 300 TB. Predicates stay plan-time
    literals, so each regex still compiles once inside whole-stage
    codegen (unlike route_crossjoin's data-driven patterns); putting
    all of them in one projection also lets codegen's common-
    subexpression elimination share the stripped-destination value
    across filters instead of re-running regexp_replace per branch.
    Works identically for batch and streaming DataFrames.
    """
    # strip the event: prefix ONCE per row: every rlike term otherwise
    # embeds its own regexp_replace(dest) (6 evaluations/row at the
    # default filter set -- codegen's subexpression elimination does
    # not reach inside the generator expression). Temp name derived
    # collision-free from df.columns (r10 ADVICE: an input column
    # legitimately named _xes_stripped must survive the fan-out).
    stripped_col = "_xes_stripped"
    while stripped_col in df.columns:
        stripped_col += "_"
    if (
        isinstance(dest, str)
        and isinstance(source, str)
        and stream_col not in df.columns  # withColumn REPLACES; "*" can't
        and not any("`" in c for c in (dest, source, stream_col))
    ):
        # SQL-text build (r11, guide §5): identical expressions to the
        # Column composition below (pinned by tests/test_routing.py),
        # one parse per projection instead of a py4j round trip per
        # operator node (~0.09 s per build at the default filter set).
        # Config patterns travel as lossless \uXXXX literals
        # (sql_string_literal above).
        matched_sql = matched_streams_sql(filters, f"`{stripped_col}`", f"`{source}`")
        return (
            df.selectExpr("*", f"{strip_event_prefix_sql(dest)} as `{stripped_col}`")
            .selectExpr("*", f"explode({matched_sql}) as `{stream_col}`")
            .drop(stripped_col)
        )
    src = F.col(source) if isinstance(source, str) else source
    matched = F.array_compact(
        F.array(
            *[
                F.when(
                    _filter_predicate_stripped(fc, F.col(stripped_col), src),
                    F.lit(fc.stream_name),
                )
                for fc in filters
            ]
        )
    )
    return (
        df.withColumn(stripped_col, strip_event_prefix(dest))
        .withColumn(stream_col, F.explode(matched))
        .drop(stripped_col)
    )


def matched_streams_sql(
    filters: Iterable[FilterConfig],
    stripped: str,
    source: str,
    labels: Iterable[str] | None = None,
) -> str:
    """The matched-streams array expression in SQL text: the exact
    SQL-text twin of the Column composition in :func:`route_union`
    (array_compact over one CASE per filter). ``stripped`` (the
    destination without its ``event:`` prefix) and ``source`` are SQL
    expressions, such as a backticked column name.

    ``labels`` are the SQL literals the array holds, one per filter in
    filter order; the default is each filter's stream name.
    ``sinks.writer.routing_columns`` passes filter ordinals instead,
    since two filters may share a primary stream but not their alts."""
    filters = list(filters)
    if labels is None:
        labels = [sql_string_literal(fc.stream_name) for fc in filters]
    items = []
    for fc, label in zip(filters, labels):
        ev = " OR ".join(
            f"{stripped} rlike {sql_string_literal(p)}" for p in fc.events
        )
        pred = f"({ev})"
        matchers = fc.effective_device_ids
        if matchers:
            dv = " OR ".join(
                f"{source} rlike {sql_string_literal(p)} OR "
                f"{stripped} rlike {sql_string_literal(p)}"
                for p in matchers
            )
            pred = f"{pred} AND ({dv})"
        items.append(f"CASE WHEN {pred} THEN {label} END")
    return f"array_compact(array({', '.join(items)}))"


def _filter_predicate_stripped(
    fc: FilterConfig, stripped: Column, source: Column
) -> Column:
    """R2 AND R3 against a pre-stripped destination column (the
    shared-subexpression form of :func:`filter_predicate`; identical
    predicate semantics, pinned by tests/test_routing.py)."""
    pred = F.lit(False)
    for pat in fc.events:
        pred = pred | stripped.rlike(pat)
    matchers = fc.effective_device_ids
    if matchers:
        dev = F.lit(False)
        for pat in matchers:
            dev = dev | source.rlike(pat) | stripped.rlike(pat)
        pred = pred & dev
    return pred


FILTER_RELATION_SCHEMA = StructType(
    [
        StructField("stream_name", StringType(), False),
        StructField("events", ArrayType(StringType(), False), False),
        StructField("device_ids", ArrayType(StringType(), False), False),
        StructField("alt_streams", ArrayType(StringType(), False), False),
    ]
)


def filters_to_df(spark: SparkSession, filters: Iterable[FilterConfig]) -> DataFrame:
    """Materialize the filter set as the small static relation
    (SURVEY.md §1.3: the second 'table')."""
    rows = [
        (
            fc.stream_name,
            list(fc.events),
            list(fc.effective_device_ids),
            list(fc.alt_streams),
        )
        for fc in filters
    ]
    return spark.createDataFrame(rows, FILTER_RELATION_SCHEMA)


def route_crossjoin(
    df: DataFrame,
    filters_df: DataFrame,
    dest: str = "dest",
    source: str = "source",
) -> DataFrame:
    """Data-driven fan-out: broadcast theta-join on regex predicates.

    ``exists(events, p -> regexp_like(stripped, p))`` evaluates the
    OR-of-regex per (row, filter) pair; the filter side is always
    broadcast so the event stream never shuffles.
    """
    stripped = strip_event_prefix(dest)
    src = F.col(source)
    event_ok = F.exists("events", lambda p: F.regexp_like(stripped, p))
    device_ok = (F.size("device_ids") == 0) | F.exists(
        "device_ids", lambda p: F.regexp_like(src, p) | F.regexp_like(stripped, p)
    )
    return df.join(F.broadcast(filters_df), event_ok & device_ok, "inner")


def routing_oracle_sql(
    filters: Iterable[FilterConfig],
    events_relation: str,
    dest_expr: str,
    source_expr: str,
    select_cols: str,
) -> str:
    """Generate the DuckDB-equivalent SQL for :func:`route_union` --
    a UNION ALL of per-filter regexp_matches SELECTs over the same
    relation. Used by the correctness harness; patterns must stay in
    the RE2 AND Java-regex common dialect (SURVEY.md §7 'regex drift')."""
    parts = []
    stripped = f"regexp_replace({dest_expr}, '^event:', '')"
    for fc in filters:
        ev = " OR ".join(
            f"regexp_matches({stripped}, '{p}')" for p in fc.events
        )
        clauses = [f"({ev})"]
        if fc.effective_device_ids:
            dv = " OR ".join(
                f"regexp_matches({source_expr}, '{p}') OR regexp_matches({stripped}, '{p}')"
                for p in fc.effective_device_ids
            )
            clauses.append(f"({dv})")
        parts.append(
            f"SELECT {select_cols}, '{fc.stream_name}' AS stream_name "
            f"FROM {events_relation} WHERE {' AND '.join(clauses)}"
        )
    return " UNION ALL ".join(parts)
