"""Recorded DuckDB oracle output for queries whose oracle is too slow
to run inside a benchmark run.

The `langid` oracle is one SQL statement with a CASE arm per language
and trigram; DuckDB spends minutes planning it whatever the row count,
so each run compares Spark's `langid` on a fixed small table set
(`GOLDEN_SF`, `GOLDEN_SEED`) against the oracle's rows recorded here.
The file also records a digest of the `documents` table it was made
from, and the check fails if the generator no longer reproduces it.

Regenerate (minutes, DuckDB only, from the repository root):
    python3 perfbench/golden.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

GOLDEN_SF = 0.002
GOLDEN_SEED = 0
SLOW_ORACLES = ["langid"]
GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")


def documents_digest(data_dir: str) -> str:
    import pyarrow.parquet as pq

    from checks import rows_digest

    table = pq.read_table(os.path.join(data_dir, "documents.parquet"))
    return rows_digest(sorted(tuple(r.values()) for r in table.to_pylist()))


def load() -> dict:
    with open(GOLDEN_PATH) as fh:
        return json.load(fh)


def main() -> None:
    import duckdb

    import __spark_entry__ as E
    import datagen
    from oracle_parity import df_rows

    out = {"sf": GOLDEN_SF, "seed": GOLDEN_SEED, "queries": {}}
    with tempfile.TemporaryDirectory() as tmp:
        data = datagen.write_tables(tmp, GOLDEN_SF, GOLDEN_SEED)
        out["documents_sha256"] = documents_digest(data)
        con = duckdb.connect()
        for t in E.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for name in SLOW_ORACLES:
            rel = con.sql(E.oracle_sql()[name])
            cols, rows = df_rows([c.lower() for c in rel.columns], rel.fetchall())
            out["queries"][name] = {"columns": cols, "rows": rows}
    with open(GOLDEN_PATH, "w") as fh:
        json.dump(out, fh, indent=0)
        fh.write("\n")


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, os.getcwd(), os.path.join(os.getcwd(), "scripts")]
    main()
