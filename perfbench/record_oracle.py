"""Record the DuckDB twin hashes of the query suite.

Usage (from the repository root):  python3 perfbench/record_oracle.py

Runs every headline query's ``__spark_entry__.oracle_sql()`` twin through
DuckDB over the fixed suite tables and writes ``suite_oracle.json``.  Run it
again only when the suite tables or the twins change; it takes minutes.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
import suite  # noqa: E402


def main() -> int:
    twins = entry.oracle_sql()
    out = {"suite_seed": suite.SUITE_SEED, "docs": suite.SUITE_DOCS,
           "vecs": suite.SUITE_VECS, "queries": {}}
    with tempfile.TemporaryDirectory(dir=HERE) as sf_dir:
        out["input_sha256"] = suite.make_suite_dir(sf_dir)
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t + '.parquet')}'")
        for name in suite.HEADLINE:
            t0 = time.time()
            res = con.sql(twins[name])
            cols, rows = list(res.columns), res.fetchall()
            out["queries"][name] = {
                "rows": len(rows), "hash": suite.result_hash(cols, rows),
                "twin_s": round(time.time() - t0, 2)}
            print(name, out["queries"][name], flush=True)
    with open(suite.ORACLE_FILE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
