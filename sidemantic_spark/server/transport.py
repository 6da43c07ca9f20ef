"""The one result path of every serving surface: HTTP (JSON and Arrow
IPC), MCP, pgwire, the CLI and the workbench render from ``fetch``."""

from __future__ import annotations

import datetime
import decimal

import pyarrow as pa


def fetch(df, max_rows: int | None = None) -> tuple[pa.Table, bool]:
    """``df`` as one Arrow table, plus whether ``max_rows`` cut it."""
    if max_rows is None:
        return df.toArrow(), False
    table = df.limit(max_rows + 1).toArrow()
    return table.slice(0, max_rows), table.num_rows > max_rows


def to_rows(table: pa.Table, schema) -> list[tuple]:
    """``collect()``'s values for the DataFrame ``schema`` describes, via
    the conversion Spark Connect's ``collect()`` runs. Map entries keep
    Spark's order; DST-fold times get ``fold=0``, ``VariantVal`` holds
    ``bytes`` (neither shows in rendered text)."""
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    return ArrowTableToRowsConversion.convert(table, schema, return_as_tuples=True)


def json_result(df, max_rows: int | None) -> dict:
    """The HTTP JSON body and the MCP payload: ``rows`` and ``truncated``."""
    table, truncated = fetch(df, max_rows)
    names = table.column_names
    rows = [{k: _json_val(v) for k, v in zip(names, row)}
            for row in to_rows(table, df.schema)]
    return {"rows": rows, "truncated": truncated}


def _json_val(v):
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v
