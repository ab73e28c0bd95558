#!/usr/bin/env python3
"""Record the corpus manifests the corpus_minhash check compares against.

Run at the commit whose outputs are the reference (the parent of a change
under test), from the root of a checkout:

    python3 perfbench/make_expected.py 1250 0-19   # the benchmark's inputs
    python3 perfbench/make_expected.py 500 0       # the self-test's inputs

Arguments: input document count, and the variants (held-out source
``src<v>``, corpus seed ``42 + v``) as a range ``a-b`` or a list ``a,b``.
Per-split [docs, chunks, packs, tokens] are merged into
perfbench/expected_corpus.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def write_table(path: str, table: dict) -> None:
    """One line per (document count, variant), so a diff shows each change."""
    lines = [
        f'  "{n}": {{' + ",".join(
            f'\n    "{v}": {json.dumps(table[n][v], sort_keys=True)}'
            for v in sorted(table[n], key=int)
        ) + "\n  }"
        for n in sorted(table, key=int)
    ]
    with open(path, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")


def main(argv: list[str]) -> int:
    n_docs = int(argv[0])
    spec = argv[1]
    if "-" in spec:
        lo, hi = map(int, spec.split("-"))
        variants = list(range(lo, hi + 1))
    else:
        variants = [int(v) for v in spec.split(",")]
    work = os.path.join(run.HERE, ".work", f"expected-{os.getpid()}")
    run.isolate(work)
    import workloads
    from ecom_snowflake_duckdb_migration_spark.corpus_pipeline import corpus_run

    path = os.path.join(run.HERE, "expected_corpus.json")
    ctx = workloads.Ctx(root=run.ROOT, work=work, seed=0, seconds=0, trace=False)
    try:
        spark = workloads.start_session(ctx)
        for v in variants:
            docs, held = workloads.corpus_inputs(ctx, spark, n_docs, v)
            m = corpus_run(spark, docs, os.path.join(work, f"out{v}"), benchmark=held,
                           near_dup="minhash", seed=42 + v)
            with open(path) as f:
                table = json.load(f)
            table.setdefault(str(n_docs), {})[str(v)] = workloads.split_counts(m)
            write_table(path, table)
            print(v, workloads.split_counts(m), flush=True)
    finally:
        run.stop_spark()
        os.chdir(run.ROOT)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
