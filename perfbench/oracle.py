"""Order-insensitive digests of expected and written job outputs.

Both sides are digested by DuckDB with the same expression, so a match
means: the same column names and the same multiset of rows, each cell
compared by its text form (DuckDB prints a double with the shortest
round-trip digits, so equal text means equal bits). The expected side
runs the package's DuckDB oracle SQL over the generated input; the
written side reads the parquet a job operation left behind.
"""

from __future__ import annotations

import re

from pdf_ocr_comparison_tool_spark import queries

# written output dir -> relation with the oracle's row shape; only the
# extraction job writes a different shape (one row per doc, spans array)
_EXPLODED_SPANS = """
SELECT doc_id, s."order" AS ord, s.kind AS kind, s.text AS text,
       s.media_ref AS media_ref
FROM (SELECT doc_id, unnest(spans) AS s
      FROM read_parquet('{path}/*/*.parquet', hive_partitioning = false))
"""
_PLAIN = "SELECT * FROM read_parquet('{path}/*.parquet')"
WRITTEN_SQL = {"extract_spans": _EXPLODED_SPANS}


def digest(con, sql: str) -> tuple:
    """(sorted column names, row count, sum of the 64-bit row hashes)."""
    cols = sorted(d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description)
    row = " || chr(31) || ".join(
        f"coalesce(CAST(\"{c}\" AS VARCHAR), chr(0))" for c in cols
    )
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) FROM ({sql})"
    ).fetchone()
    return tuple(c.lower() for c in cols), int(n), int(h)


def expected(con, sf_dir: str, names) -> dict:
    """Oracle digests for ``names`` over ``<sf_dir>/documents.parquet``.

    Every CTE is marked ``MATERIALIZED``: DuckDB would otherwise inline
    a CTE at each reference and recompute it (the dedup oracles take
    minutes that way instead of seconds)."""
    con.execute(
        "CREATE OR REPLACE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    sql = queries.oracle_sql()
    return {n: digest(con, re.sub(r"\bAS \(", "AS MATERIALIZED (", sql[n])) for n in names}


def written(con, name: str, path: str) -> tuple:
    return digest(con, WRITTEN_SQL.get(name, _PLAIN).format(path=path))
