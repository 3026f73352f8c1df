"""Compare the generated tables with a fixture directory, column by column.

    python3 graftbench/fidelity.py <fixture-dir> [seed]

``<fixture-dir>`` holds one ``<table>.parquet`` per table (the sf0.1 tier).
For every column it prints the fixture's and the generated table's summary:
min / max / mean / distinct count for numbers and timestamps, value shares
for categorical strings, distinct count and mean length for free text. It
exits 1 if a table's schema or row count differs. Not part of a benchmark
run, which reads nothing outside its checkout.
"""

from __future__ import annotations

import collections
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graftbench import datagen  # noqa: E402


def summary(col: pa.ChunkedArray) -> str:
    t = col.type
    if pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_timestamp(t):
        v = col.to_numpy()
        num = v.astype("int64") if pa.types.is_timestamp(t) else v
        lo, hi = (str(v.min()), str(v.max())) if pa.types.is_timestamp(t) else (
            f"{v.min():.6g}", f"{v.max():.6g}")
        return f"min {lo} max {hi} mean {num.mean():.6g} distinct {len(np.unique(v))}"
    if pa.types.is_string(t):
        vals = col.to_pylist()
        counts = collections.Counter(vals)
        if len(counts) <= 30:
            return " ".join(f"{k}:{c / len(vals):.3f}" for k, c in sorted(counts.items()))
        return (f"distinct {len(counts)} mean length {np.mean([len(x) for x in vals]):.1f} "
                f"words {np.mean([len(x.split()) for x in vals]):.1f}")
    if pa.types.is_list(t):
        v = np.stack(col.to_numpy(zero_copy_only=False))
        return f"dim {v.shape[1]} mean norm {np.linalg.norm(v, axis=1).mean():.4f} mean {v.mean():.2e}"
    return str(t)


def main(argv: list[str]) -> int:
    fixture_dir = argv[0]
    seed = int(argv[1]) if len(argv) > 1 else 1
    generated = datagen.gen_tables(seed)
    ok = True
    for name in datagen.TABLES:
        fix = pq.read_table(os.path.join(fixture_dir, f"{name}.parquet"))
        gen = generated[name]
        same = (fix.schema.remove_metadata() == gen.schema.remove_metadata()
                and fix.num_rows == gen.num_rows)
        ok &= same
        print(f"== {name}: rows {fix.num_rows} / {gen.num_rows}, "
              f"schema and rows {'match' if same else 'DIFFER'}")
        for c in fix.column_names:
            print(f"  {c}\n    fixture   {summary(fix.column(c))}\n"
                  f"    generated {summary(gen.column(c)) if c in gen.column_names else '-'}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
