"""Record the row count and order-insensitive hash of every swept entry
query over the fixed query tables, as the reference the benchmark's
correctness pass compares against.  Run from the repository root when
the query tables or the sweep change:

    python3 perfbench/record_expected.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    import gen
    import host
    from tracer import Tracer
    from workloads import EXPECTED_QUERIES, QUERY_TABLE_SEED, Run, Session, query_digests

    work = os.path.join(ROOT, ".perfbench_work", f"record-{os.getpid()}")
    os.makedirs(work)
    run = Run(work=work, seed=0, seconds=0, cpus=host.allowed_cpus(),
              tracer=Tracer("record", enabled=False), proc_start=0.0)
    try:
        sf = run.path("tables")
        gen.write_query_tables(sf, QUERY_TABLE_SEED)
        sess = Session(run)
        try:
            digests = query_digests(sess.spark, sf)
        finally:
            sess.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    with open(EXPECTED_QUERIES, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(digests))
    return 0


if __name__ == "__main__":
    sys.exit(main())
