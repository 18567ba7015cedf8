"""DuckDB oracle check for the suite rows of one run.

Each suite row has an entry in `SparkEntry.oracleSql`: ANSI SQL that
DuckDB runs over the same Parquet tables. The cold pass wrote each row's
result under `<out>/cold/<row>/`; a row passes when its columns and its
multiset of rows equal the oracle's, compared with the normalization of
`tools/selfcheck.py` (values as strings, NaN spelled out, rows sorted).
"""
import math
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _rows_key(rows):
    def norm(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v
    return sorted(tuple(str(norm(v)) for v in r) for r in rows)


def check_rows(data_dir: Path, cold_dir: Path, oracles: dict) -> dict:
    """Return {row: None if it matches its oracle, else the reason}."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / t}.parquet'")
    verdict = {}
    for name, sql in sorted(oracles.items()):
        try:
            got = con.execute(
                f"SELECT * FROM '{cold_dir / name}/*.parquet'").fetch_arrow_table()
            exp = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            verdict[name] = f"error: {e}"
            continue
        gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
        if gcols != ecols:
            verdict[name] = f"columns {gcols} != {ecols}"
            continue
        g = got.select(gcols).to_pylist()
        e = exp.select(ecols).to_pylist()
        grows = _rows_key(tuple(r[c] for c in gcols) for r in g)
        erows = _rows_key(tuple(r[c] for c in ecols) for r in e)
        if len(grows) != len(erows):
            verdict[name] = f"{len(grows)} rows, oracle has {len(erows)}"
        elif grows != erows:
            diff = next(((a, b) for a, b in zip(grows, erows) if a != b), None)
            verdict[name] = f"values differ, first: {diff}"
        else:
            verdict[name] = None
    return verdict
