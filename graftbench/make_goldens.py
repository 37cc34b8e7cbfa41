#!/usr/bin/env python3
"""Regenerate graftbench/goldens.json (needs DuckDB; the benchmark does not).

    python3 graftbench/make_goldens.py      # from the root of a checkout

For every batch query the benchmark runs, the golden is the fingerprint of
DuckDB's result for the query's oracle SQL (`SparkEntry.oracleSql`) over
the benchmark's tables. Queries without an oracle take the fingerprint of
this checkout's own output. The script also fingerprints graft's output
for every oracle query and fails if any differs from DuckDB's.
"""
import json
import shutil
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
from fingerprint import fingerprint, parquet_fingerprint  # noqa: E402
from run import run_harness  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    root = Path.cwd()
    data = HERE / "data" / "sf0.01"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data / (t + '.parquet')}')")
    goldens, disagree = {}, []
    work, _ = run_harness(root, "batch", 1, 1, 0)
    meta = json.loads((work / "out" / "queries.json").read_text())
    if meta["failed"]:
        raise SystemExit(f"queries failed: {meta['failed']}")
    for q in meta["queries"]:
        rows, sha = parquet_fingerprint(work / "out" / q)
        sql = meta["oracle_sql"].get(q)
        if sql is None:
            goldens[q] = {"rows": rows, "sha256": sha, "source": "graft"}
            continue
        drows, dsha = fingerprint(con.execute(sql).fetch_arrow_table()
                                  .to_pandas())
        goldens[q] = {"rows": drows, "sha256": dsha, "source": "duckdb"}
        if (rows, sha) != (drows, dsha):
            disagree.append(q)
    shutil.rmtree(work, ignore_errors=True)
    (HERE / "goldens.json").write_text(
        json.dumps(dict(sorted(goldens.items())), indent=1) + "\n")
    print(f"{len(goldens)} goldens written; graft disagrees with DuckDB "
          f"on {len(disagree)}: {disagree}")
    sys.exit(1 if disagree else 0)


if __name__ == "__main__":
    main()
