#!/usr/bin/env python3
"""Record the query_mix reference results into ``expected_mix.json``.

    python3 perfbench/record_expected.py

Runs each mix query on the benchmark's generated tables twice — against an
empty artifact root, then warm — and records its row count and result digest.
A query whose two digests differ is recorded with ``"digest": null`` (row
count only). Re-record only when the generated tables or the mix change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    work = os.path.join(run.ROOT, ".perfbench_work", f"record-{os.getpid()}")
    nproc = len(os.sched_getaffinity(0))
    run.configure_env(work, nproc)
    import inputs
    import workloads as w

    sf = os.path.join(work, "mixdata")
    inputs.write_query_tables(sf, w.MIX_SCALE, w.MIX_DATA_SEED)
    spark = run.start_session(work, nproc, None)
    expected = {}
    try:
        for q in w.QUERY_MIX:
            seen = []
            for _ in range(2):
                df = w.QUERIES[q](spark, sf)
                rows = df.collect()
                seen.append((len(rows), w.result_digest(rows, df.schema)))
            (n, digest), (n2, digest2) = seen
            if n != n2:
                print(f"{q}: row count differs between runs ({n} vs {n2})", file=sys.stderr)
                return 1
            expected[q] = {"rows": n, "digest": digest if digest == digest2 else None}
            print(q, expected[q], flush=True)
    finally:
        spark.stop()
        run.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(run.HERE, "expected_mix.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
