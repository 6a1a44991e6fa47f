"""Compare the generated inputs with a directory of reference tables.

    python3 perfbench/compare_inputs.py <dir-with-the-ten-parquet-files> [--scale 0.01]

For every table it compares the parquet footer (column names, physical
types and logical types, timestamps' unit and UTC flag included), the row
count and every column value for value. Exit code 0 when all ten tables
are equal, 1 otherwise.
"""

from __future__ import annotations

import argparse
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402


def footer(schema) -> list[tuple[str, str, str]]:
    return [(c.path, c.physical_type, str(c.logical_type)) for c in schema]


def compare(ref_dir: str, scale: float, seed: int) -> bool:
    generated = datagen._build(scale, seed)
    tmp = os.path.join(os.getcwd(), ".perfbench", "compare")
    os.makedirs(tmp, exist_ok=True)
    ok = True
    for name in datagen.TABLES:
        ref_path = os.path.join(ref_dir, f"{name}.parquet")
        gen_path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(generated[name], gen_path)
        ref, gen = pq.ParquetFile(ref_path), pq.ParquetFile(gen_path)
        problems = []
        if footer(ref.schema) != footer(gen.schema):
            problems.append(f"footer {footer(ref.schema)} != {footer(gen.schema)}")
        a, b = ref.read(), gen.read()
        if a.num_rows != b.num_rows:
            problems.append(f"rows {a.num_rows} != {b.num_rows}")
        else:
            problems += [f"column {c} differs" for c in a.column_names
                         if c in b.column_names and not a[c].equals(b[c])]
        ok = ok and not problems
        print(f"{name:10s} rows={a.num_rows:7d} " + ("equal" if not problems else "; ".join(problems)))
    return ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("ref_dir")
    ap.add_argument("--scale", type=float, default=datagen.SCALE)
    ap.add_argument("--seed", type=int, default=datagen.DATA_SEED)
    a = ap.parse_args(argv)
    return 0 if compare(a.ref_dir, a.scale, a.seed) else 1


if __name__ == "__main__":
    sys.exit(main())
