"""Validation, enrichment, and extraction operators (SURVEY.md §2.2).

All pure JVM expressions (Columns or SQL text) -- no UDFs, fully
codegen'd, identical in batch and streaming plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xmidt_event_streams_spark.schema import SIMPLE_EVENT_MSG_TYPE

DEFAULT_CONTENT_TYPE = "application/json"  # request_handler.go:146-148

EVENT_TYPE_RE = r"^event:([^/]+)"  # wrp FindEventStringSubMatch analog


def valid_msg_type(col: Column | str = "msg_type") -> Column:
    """V3: accept only SimpleEvent (msg_type == 4)
    (reference: internal/event/request_handler.go:108-119)."""
    col = F.col(col) if isinstance(col, str) else col
    return col == SIMPLE_EVENT_MSG_TYPE


def not_null_guard(*cols: str) -> Column:
    """V7: nil-message guard (filter/filter_manager.go:121-124)."""
    pred = F.lit(True)
    for c in cols:
        pred = pred & F.col(c).isNotNull()
    return pred


def extract_event_type(dest: Column | str = "dest") -> Column:
    """V8: first path segment of an ``event:``-scheme destination;
    ``'unknown'`` when absent (filter/filter_manager.go:132,
    internal/metrics/tags.go:74-79 GetUnknownTagIfEmpty)."""
    dest = F.col(dest) if isinstance(dest, str) else dest
    ext = F.regexp_extract(dest, EVENT_TYPE_RE, 1)
    return F.when((ext == "") | dest.isNull(), F.lit("unknown")).otherwise(ext)


def _quote(name: str) -> str:
    """A column name as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _project(df, new: dict[str, str]):
    """``withColumns`` as ONE SQL-text projection: each entry of ``new``
    (name -> SQL expression) replaces the column of that name in place,
    or is appended, in ``new``'s order.

    Given a DataFrame, returns it projected: one ``selectExpr``, one
    parse, where a Column composition costs a py4j call per node.
    Given its column names alone, returns the projection's SQL
    expressions, so that several of these operators compose into a
    single ``selectExpr`` (``app.run_app`` builds its per-query plan
    that way)."""
    names = df.columns if isinstance(df, DataFrame) else list(df)
    exprs = [f"{new[c]} AS {_quote(c)}" if c in new else _quote(c) for c in names]
    exprs += [f"{e} AS {_quote(n)}" for n, e in new.items() if n not in names]
    return df.selectExpr(*exprs) if isinstance(df, DataFrame) else exprs


def fix_wrp(
    df: DataFrame | list[str],
    content_type_col: str = "content_type",
    txn_col: str = "transaction_uuid",
    reason_col: str = "fix_reason",
    deterministic_uuid_from: str | None = None,
) -> DataFrame | list[str]:
    """V6 ``fixWrp`` enrichment (request_handler.go:140-162).

    Empty content_type -> 'application/json'; empty transaction UUID ->
    a fresh UUID; the modification is tagged in ``reason_col`` with the
    reference's reason taxonomy (event/metrics.go:34-37):
    empty_uuid / empty_content_type / empty_uuid_and_content_type / ''.
    The two fixed columns keep their places and ``reason_col`` comes
    last. ``df`` is a DataFrame (returned enriched) or its column names
    (the enriched columns are returned as SQL expressions; see
    :func:`_project`).

    ``deterministic_uuid_from``: when set, derive the replacement UUID
    from that column via md5 (UUIDv4-shaped, deterministic -- used by
    the oracle-checked queries; production path uses ``uuid()``).
    """
    ct, tx = _quote(content_type_col), _quote(txn_col)
    empty_ct = f"({ct} IS NULL OR {ct} = '')"
    empty_tx = f"({tx} IS NULL OR {tx} = '')"

    if deterministic_uuid_from:
        h = f"md5(CAST({_quote(deterministic_uuid_from)} AS STRING))"
        parts = ((1, 8), (9, 4), (13, 4), (17, 4), (21, 12))
        subs = ", ".join(f"substring({h}, {p}, {n})" for p, n in parts)
        new_uuid = f"concat_ws('-', {subs})"
    else:
        new_uuid = "uuid()"

    reason = (
        f"CASE WHEN {empty_tx} AND {empty_ct} THEN 'empty_uuid_and_content_type' "
        f"WHEN {empty_tx} THEN 'empty_uuid' "
        f"WHEN {empty_ct} THEN 'empty_content_type' ELSE '' END"
    )
    return _project(
        df,
        {
            reason_col: reason,
            content_type_col: (
                f"CASE WHEN {empty_ct} THEN '{DEFAULT_CONTENT_TYPE}' ELSE {ct} END"
            ),
            txn_col: f"CASE WHEN {empty_tx} THEN {new_uuid} ELSE {tx} END",
        },
    )


def classify_rejects(
    df: DataFrame | list[str],
    msg_type_col: str | None = "msg_type",
    required_cols: tuple[str, ...] = (),
    reason_col: str = "reject_reason",
) -> DataFrame | list[str]:
    """V3/V4/V7 as a rejects side-output: every row tagged with its
    first reject reason ('' = accepted). Feeds the M2/M3 drop counters
    as a real aggregate instead of a metrics side-channel. ``df`` is a
    DataFrame or its column names, as for :func:`fix_wrp`."""
    from xmidt_event_streams_spark.routing import sql_string_literal

    whens = [
        f"WHEN {_quote(c)} IS NULL THEN {sql_string_literal(f'null_{c}')}"
        for c in required_cols
    ]
    if msg_type_col is not None:
        whens.insert(
            0,
            f"WHEN NOT ({_quote(msg_type_col)} = {SIMPLE_EVENT_MSG_TYPE}) "
            "THEN 'invalid_msg_type'",
        )
    reason = f"CASE {' '.join(whens)} ELSE '' END" if whens else "''"
    return _project(df, {reason_col: reason})
