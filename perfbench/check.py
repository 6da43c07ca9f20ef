"""Result checking: canonical rows, the DuckDB oracle, the MinHash
precision check and the checker's own self-test.

``canon`` is the cell canonicalization of ``scripts/strict_compare.py``
(that script runs a Spark job when imported, so it is restated here):
Decimal -> str, float -> repr(round(v, 6)), datetimes lose their zone,
dates are lifted to midnight datetimes, anything else -> repr.  A table
is compared as its column names sorted, with each row's cells in that
column order, rows sorted.
"""

from __future__ import annotations

import datetime
import decimal
from pathlib import Path

import duckdb


def canon(v) -> str:
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        return repr(round(v, 6))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    return repr(v)


def canon_table(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in idx], sorted(tuple(canon(r[i]) for i in idx) for r in rows)


def arrow_rows(table) -> tuple[list[str], list[tuple]]:
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return cols, list(zip(*data)) if cols else []


def coerce(cols: list[str], rows, kinds: dict[str, str]) -> tuple[list[str], list[tuple]]:
    """Cells coerced to the Python type (``kinds``: column -> type name)
    the oracle gives for their column.  The server keeps DECIMAL where
    the contract oracles cast to DOUBLE, and its JSON renders DECIMAL as
    text and timestamps as ISO text; such transport differences are not
    wrong answers, and every value still has to match."""
    def one(c, v):
        want = kinds.get(c)
        if want == "float" and isinstance(v, (str, int, decimal.Decimal)):
            return float(v)
        if want == "Decimal" and isinstance(v, str):
            return decimal.Decimal(v)
        if want in ("datetime", "date") and isinstance(v, str):
            return datetime.datetime.fromisoformat(v)
        return v

    return cols, [tuple(one(c, v) for c, v in zip(cols, r)) for r in rows]


def json_rows(rows: list[dict]) -> tuple[list[str], list[tuple]]:
    cols = list(rows[0]) if rows else []
    return cols, [tuple(r.get(c) for c in cols) for r in rows]


class Oracle:
    """DuckDB over the parquet files of one input directory."""

    def __init__(self, data_dir: Path, tables, temp_dir: Path) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def raw(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def expect(self, sql: str) -> tuple[list[str], list[tuple]]:
        return canon_table(*self.raw(sql))

    def close(self) -> None:
        self.con.close()


def diff(name: str, got: tuple[list, list], want: tuple[list, list]) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    gcols, grows = got
    wcols, wrows = want
    if list(gcols) != list(wcols):
        return f"{name}: columns {gcols} != {wcols}"
    if len(grows) != len(wrows):
        return f"{name}: {len(grows)} rows != {len(wrows)}"
    for g, w in zip(grows, wrows):
        if list(g) != list(w):
            return f"{name}: row {g} != {w}"
    return None


def minhash_precision(pairs, docs: dict[int, str], threshold: float,
                      ref_kernels) -> str | None:
    """Each reported (id_a, id_b, jaccard) must carry the exact shingle
    Jaccard of the two documents (rounded as the engine rounds) and meet
    the threshold.  MinHash recall is probabilistic, so only precision
    is checked."""
    sets: dict[int, set[int]] = {}

    def shingles(i: int) -> set[int]:
        if i not in sets:
            sets[i] = set(ref_kernels.shingle_hash_set(ref_kernels.norm_text(docs[i]), 5))
        return sets[i]

    seen = set()
    for a, b, jac in pairs:
        if not a < b or (a, b) in seen:
            return f"dedup_minhash_lsh: pair ({a}, {b}) not distinct with id_a < id_b"
        seen.add((a, b))
        sa, sb = shingles(a), shingles(b)
        exact = ref_kernels.round_half_up6(len(sa & sb) / float(len(sa | sb)))
        if exact != jac or exact < threshold:
            return f"dedup_minhash_lsh: pair ({a}, {b}) jaccard {jac} exact {exact}"
    return None


def self_test() -> None:
    """The checker must reject a table with one changed cell and a table
    with one dropped row; raises AssertionError otherwise."""
    cols = ["k", "v", "d"]
    rows = [("a", 1.5, decimal.Decimal("2.00")), ("b", 2.25, decimal.Decimal("3.10")),
            ("c", 3.0, decimal.Decimal("4.20"))]
    want = canon_table(cols, rows)
    if diff("same", canon_table(cols, list(reversed(rows))), want) is not None:
        raise AssertionError("checker rejects an equal table in another row order")
    changed = [rows[0], ("b", 2.250001, rows[1][2]), rows[2]]
    if diff("changed", canon_table(cols, changed), want) is None:
        raise AssertionError("checker accepts a table with one changed cell")
    if diff("dropped", canon_table(cols, rows[:2]), want) is None:
        raise AssertionError("checker accepts a table with one dropped row")
