"""Independent DuckDB recomputation of what the validator must report.

The constraint counts follow the shape of the package's
``ORACLES["validate_transcripts"]`` but read the benchmark's own staged
parquet, so no path or SQL text is shared with the package. The curation
operators are checked against their ``ORACLES`` SQL over the staged
``documents`` and ``embeddings`` tables, with the canonical compare of
``tools/crosscheck.py``.
"""

from __future__ import annotations

import duckdb

ROLES = ("system", "user", "assistant", "tool")
TOOLS = ("search", "calculator", "code_exec", "browser", "retrieval")


def _in_list(values) -> str:
    return ", ".join(f"'{v}'" for v in values)


def _sql(query: str):
    con = duckdb.connect()
    try:
        return con.execute(query).fetchall()
    finally:
        con.close()


def _glob(path: str) -> str:
    return f"'{path}/**/*.parquet'"


def transcript_counts(table: str) -> tuple[int, dict[str, int]]:
    """(rows, {constraint name: violation count}) for the engine's
    constraint set over the parquet table at ``table``."""
    q = f"""
WITH t AS (SELECT * FROM read_parquet({_glob(table)})),
seq AS (
  SELECT turn_idx, ts,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1 AS rn,
         lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_ts
  FROM t
)
SELECT
  (SELECT count(*) FROM t),
  (SELECT count(*) FROM t WHERE conv_id IS NULL),
  (SELECT count(*) FROM t WHERE turn_idx IS NULL),
  (SELECT count(*) FROM t WHERE role IS NOT NULL AND role NOT IN ({_in_list(ROLES)})),
  (SELECT count(*) FROM t WHERE turn_idx IS NOT NULL
                          AND (turn_idx < 0 OR turn_idx > 2147483647)),
  (SELECT count(*) FROM (SELECT 1 FROM t GROUP BY conv_id, turn_idx HAVING count(*) > 1)),
  (SELECT count(*) FROM t WHERE tool IS NOT NULL AND tool NOT IN ({_in_list(TOOLS)})),
  (SELECT count(*) FILTER (turn_idx != rn)
        + count(*) FILTER (prev_ts IS NOT NULL AND ts < prev_ts) FROM seq)
"""
    row = _sql(q)[0]
    names = (
        "not_null(conv_id)",
        "not_null(turn_idx)",
        "enum(role)",
        "range(turn_idx)",
        "unique(conv_id,turn_idx)",
        "ref(tool)",
        "sequence(conv_id,turn_idx)",
    )
    return int(row[0]), {n: int(c) for n, c in zip(names, row[1:])}


def conversations(table: str) -> int:
    """Distinct non-null ``conv_id`` values of the transcript table."""
    return int(_sql(f"SELECT count(DISTINCT conv_id) FROM read_parquet({_glob(table)})")[0][0])


def parquet_rows(path: str) -> int:
    return int(_sql(f"SELECT count(*) FROM read_parquet({_glob(path)})")[0][0])


def violation_counts(path: str) -> dict[str, int]:
    """{constraint: rows} of a violations output (any partitioning)."""
    rows = _sql(
        f"SELECT \"constraint\", count(*) FROM read_parquet({_glob(path)}, "
        "hive_partitioning = false) GROUP BY 1"
    )
    return {c: int(n) for c, n in rows}


def verdict_sums(path: str) -> tuple[dict[str, int], int]:
    """({constraint: summed violation_count}, summed rows_checked per
    constraint's first verdict set) of a verdicts output whose rows are
    spread over partitions, as ``ResumableValidation`` writes them."""
    rows = _sql(
        f"SELECT \"constraint\", sum(violation_count), sum(rows_checked) "
        f"FROM read_parquet({_glob(path)}, hive_partitioning = true) GROUP BY 1"
    )
    counts = {c: int(v) for c, v, _ in rows}
    checked = {int(r) for _, _, r in rows}
    if len(checked) != 1:
        raise AssertionError(f"rows_checked differs between constraints: {sorted(checked)}")
    return counts, checked.pop()


def parse_counts(path: str) -> tuple[int, int, dict[str, int]]:
    """(documents, corrupt documents, {column: violations}) of a parse
    output written with ``_violations`` and ``_corrupt``."""
    src = f"read_parquet({_glob(path)})"
    docs, corrupt = _sql(f"SELECT count(*), count(*) FILTER (_corrupt) FROM {src}")[0]
    rows = _sql(
        f"SELECT v.column, count(*) FROM (SELECT unnest(_violations) AS v FROM {src}) "
        "GROUP BY 1"
    )
    return int(docs), int(corrupt), {c: int(n) for c, n in rows}


def curation_errors(tables_dir: str, name: str, got) -> list[str]:
    """``got``, the Arrow table ``QUERIES[name]`` returned, against
    ``ORACLES[name]`` run by DuckDB over the tables under ``tables_dir``."""
    from avro_conversions_spark.operators.queries import ORACLES
    from tools.crosscheck import canon

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
        res = con.sql(ORACLES[name])
        dcols, drows = res.columns, res.fetchall()
    finally:
        con.close()
    cols = got.column_names
    if sorted(cols) != sorted(dcols):
        return [f"{name}: columns {sorted(cols)} vs oracle {sorted(dcols)}"]
    rows = [tuple(r[c] for c in cols) for r in got.to_pylist()]
    if canon(rows, cols) != canon(drows, dcols):
        return [f"{name}: {len(rows)} rows differ from the oracle's {len(drows)}"]
    return []


def mismatches(expected: dict, got: dict, what: str) -> list[str]:
    """Human-readable differences between two {key: count} maps, zero
    counts and missing keys treated alike."""
    out = []
    for k in sorted(set(expected) | set(got)):
        if expected.get(k, 0) != got.get(k, 0):
            out.append(f"{what}[{k}]: expected {expected.get(k, 0)}, got {got.get(k, 0)}")
    return out
