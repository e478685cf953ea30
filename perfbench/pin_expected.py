"""Recompute `expected_dedup.json`: the signature of each `dedup` query's
DuckDB oracle (plans/oracles.py) over the corpus the query reads.

Run from the repository root when the corpus or an oracle changes:

    python3 perfbench/pin_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

from workloads import CORPORA, DEDUP_QUERIES, EXPECTED_DEDUP, signature  # noqa: E402
from nyc_bikeshare_datawarehouse_spark.plans.oracles import ORACLES  # noqa: E402


def main() -> None:
    cons = {}
    for sf, tables in CORPORA.items():
        cons[sf] = con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{HERE}/corpus/{sf}/{t}.parquet'")
    pins = {}
    for q, (sf, _) in DEDUP_QUERIES.items():
        res = cons[sf].execute(ORACLES[q])
        cols = [d[0] for d in res.description]
        pins[q] = signature(res.fetchall(), cols)
        print(q, pins[q]["rows"], pins[q]["hash"])
    with open(EXPECTED_DEDUP, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
