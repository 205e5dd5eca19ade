#!/usr/bin/env python3
"""Recompute perfbench/expected/<gate>.json: a gate's DuckDB oracle result
for every `documents` variant the table generator can produce.

Usage: python3 perfbench/make_expected.py <oracle_sql.json> <gate> [gate ...]

`oracle_sql.json` is the file the training_gates workload writes next to
its outputs (.bench_work/gates_out/). Needed only when a gate's oracle SQL
or the documents generator changes; until then run.py falls back to
running the oracle in DuckDB, which is correct but slow.
"""
import json
import os
import sys
import tempfile

import gen_tables
import run


def main(oracle_path, gates):
    with open(oracle_path) as f:
        oracle = json.load(f)
    co = run.load_check_oracle()
    entries = {g: [] for g in gates}
    for variant in range(len(gen_tables.DOC_SEEDS)):
        with tempfile.TemporaryDirectory(dir=run.WORK) as d:
            # a seed of `variant` selects documents variant `variant`
            gen_tables.write(d, variant)
            con = run.duckdb_views(d)
            for g in gates:
                digest = run.inputs_digest(con, oracle[g])
                ec, er, et, unsafe = run.oracle_result(co, con, oracle[g])
                entries[g].append({
                    "sql": oracle[g], "inputs_sha256": digest,
                    "columns": ec, "rows": er, "types": et,
                    "oracle_unsafe": unsafe})
                print(f"{g} variant {variant}: {len(er)} rows", flush=True)
    os.makedirs(run.EXPECTED_DIR, exist_ok=True)
    for g, es in entries.items():
        with open(os.path.join(run.EXPECTED_DIR, f"{g}.json"), "w") as f:
            json.dump(es, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2:])
