"""Benchmark of the hetman_spark pipeline and entry queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Workloads: pipeline_bulk and
entry_queries (see workloads.py).  The run
generates its inputs from --seed, starts one Spark session sized to the
CPUs this process may use, measures for --seconds, checks the
program's outputs and prints one line per metric followed, as the last
line, by one JSON object:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (metrics.py), and the spans and plan-node metrics of the
traced run go to .perfbench_traces/<run id>.json.  Scratch files live
in .perfbench_work/ and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    import host

    proc_start = host.process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import hetman_spark  # noqa: F401  (the program under test must be present)
    from metrics import END_TO_END, PER_LAYER
    from tracer import Tracer
    from workloads import WORKLOADS, Run, per_layer_values

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    cpus = host.allowed_cpus()
    evidence = {"cpus_allowed_list": host.cpu_list_str(cpus),
                "stray_jvms_before": host.stray_jvms(),
                "steal_jiffies_before": host.steal_jiffies()}
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    tracer = Tracer(run_id, enabled=args.trace == 1)
    run = Run(work=work, seed=args.seed, seconds=args.seconds, cpus=cpus,
              tracer=tracer, proc_start=proc_start)
    try:
        e2e, layers = WORKLOADS[args.workload](run)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    evidence["steal_jiffies_delta"] = host.steal_jiffies() - evidence["steal_jiffies_before"]

    if args.trace:
        values, units = per_layer_values(layers), PER_LAYER
    else:
        values, units = {k: v for k, (v, _n) in e2e.items()}, END_TO_END
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}

    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"cpus {evidence['cpus_allowed_list']} (n={len(cpus)}) "
          f"stray_jvms {len(evidence['stray_jvms_before'])} "
          f"steal_jiffies {evidence['steal_jiffies_delta']}")
    for name, item in run.report.items():
        if isinstance(item, tuple):
            value, unit, n = item
            print(f"  {name:28s} {value:14.4f} {unit:6s} median of {n}")
        else:
            print(f"  {name:28s} {item}")
    if not args.trace:
        for k, u in END_TO_END.items():
            value, n = e2e[k]
            print(f"  {k:28s} {value:14.4f} {u:6s} median of {n}")
    share = run.failed / run.attempted if run.attempted else 0.0
    print(f"  {'failed_share':28s} {share:14.4f} ratio  {run.failed} of {run.attempted}")
    for f in run.failures:
        print(f"  FAILED {f}")
    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
        path = os.path.join(ROOT, ".perfbench_traces", f"{run_id}.json")
        tracer.dump(path, workload=args.workload, seed=args.seed, evidence=evidence,
                    report=run.report, metrics=metrics,
                    failures=run.failures)
        print(f"  trace file {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
