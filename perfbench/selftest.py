"""Self-test of the benchmark at tiny scale.  Run from the repository
root:

    python3 perfbench/selftest.py

It checks that every entry query maps to exactly one family, that
BENCHMARK.json names the metrics the harness emits, that each workload
runs once in both modes and emits every metric with its unit, and that
a deliberately wrong expected sink count is reported as a failure.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(argv: list[str]) -> dict:
    import run

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = run.main(argv)
    if code != 0:
        raise SystemExit(f"run.main{argv} exited {code}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def main() -> int:
    sys.path.insert(0, ROOT)
    import gen
    import workloads
    from families import FAMILIES, FAMILY_OF, SWEEP
    from hetman_spark.entry_queries import QUERIES
    from metrics import END_TO_END, PER_LAYER

    problems = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    expect(set(FAMILY_OF) == set(QUERIES),
           f"every query has a family (missing {sorted(set(QUERIES) - set(FAMILY_OF))}, "
           f"stale {sorted(set(FAMILY_OF) - set(QUERIES))})")
    expect(set(FAMILY_OF.values()) == set(FAMILIES), "families are dedup, ann, text, logops")
    order = list(QUERIES)
    expect(list(SWEEP) == sorted(SWEEP, key=order.index), "the sweep is in registry order")
    expect({FAMILY_OF[q] for q in SWEEP} == set(FAMILIES), "the sweep covers every family")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expect({m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END,
           "BENCHMARK.json end_to_end matches metrics.END_TO_END")
    expect({m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER,
           "BENCHMARK.json per_layer matches metrics.PER_LAYER")
    expect([w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS),
           "BENCHMARK.json workloads match workloads.WORKLOADS")

    workloads.BULK_ROWS = 2_000
    for name in workloads.WORKLOADS:
        for trace, names in ((0, END_TO_END), (1, PER_LAYER)):
            res = run_once(["--workload", name, "--seed", "7", "--seconds", "0",
                            "--trace", str(trace)])
            m = res["metrics"]
            expect(set(m) == set(names) and all(
                isinstance(v["value"], float) and v["unit"] == names[k] for k, v in m.items()),
                f"{name} trace {trace} emits every metric with its unit")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{name} trace {trace} passes its output checks "
                   f"({res['failed']} of {res['attempted']} failed)")
            if trace == 0:
                expect(all(v["value"] > 0 for v in m.values()),
                       f"{name} end-to-end metrics are all above 0")

    real_write = gen.write_webtext

    def wrong_count(*args, **kwargs):
        table = real_write(*args, **kwargs)
        table.expected[0]["english"] += 1
        return table

    gen.write_webtext = wrong_count
    try:
        res = run_once(["--workload", "pipeline_bulk", "--seed", "7", "--seconds", "0",
                        "--trace", "0"])
    finally:
        gen.write_webtext = real_write
    expect(not res["correct"] and res["failed"] > 0,
           f"a wrong expected sink count is reported ({res['failed']} failed)")

    print("self-test", "passed" if not problems else f"FAILED: {problems}")
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
