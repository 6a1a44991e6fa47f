"""Write reference.json: the expected row hash of every benchmark query.

    PYTHONPATH=. python3 perfbench/make_reference.py

Run from the repository root. A query with a DuckDB oracle takes its
reference from the oracle run on the generated inputs; a query without
one takes it from the engine at the current commit, marked "engine".
The engine's own hash is printed beside each oracle so a mismatch shows
before the reference is committed.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from worker import QUERY_SUBSET  # noqa: E402


def main() -> None:
    import duckdb

    from open_data_lakehouse_demo_spark.plans.inventory import QUERIES
    from open_data_lakehouse_demo_spark.session import get_spark
    from tools._oracle_hash import hash_rows

    data = datagen.ensure(os.path.join(os.getcwd(), ".perfbench", "data"))
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    spark = get_spark(cpus=len(os.sched_getaffinity(0)))
    out = {"data": os.path.basename(data), "queries": {}}
    for names in QUERY_SUBSET.values():
        for name in names:
            q = QUERIES[name]
            df = q.spark(spark, data)
            rows = [tuple(r) for r in df.collect()]
            engine = hash_rows(df.columns, rows)
            if q.oracle:
                cur = con.execute(q.oracle)
                orows = cur.fetchall()
                ref = {"hash": hash_rows([d[0] for d in cur.description], orows),
                       "rows": len(orows), "source": "duckdb-oracle"}
            else:
                ref = {"hash": engine, "rows": len(rows), "source": "engine"}
            out["queries"][name] = ref
            print(name, ref, "engine", engine, len(rows),
                  "MATCH" if (engine, len(rows)) == (ref["hash"], ref["rows"]) else "MISMATCH")
    spark.stop()
    with open(os.path.join(HERE, "reference.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
