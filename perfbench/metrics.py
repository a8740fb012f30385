"""Names and units of every metric the benchmark emits.  BENCHMARK.json
at the repository root lists the same names; the self-test checks that
the two agree.

End-to-end metrics are defined for every workload:

items_per_s    pages per second of the median run_pipeline call at
               all allowed CPUs (pipeline_bulk), or entry queries per
               second from the sum of each swept query's median
               seconds (entry_queries)
setup_s        process start until the Spark session is up and warmed
               up, minus the benchmark's own input generation
peak_rss_mb    peak resident set (VmHWM) of the Spark JVM plus its
               Python workers

Per-layer metrics come from the traced run.  A layer that a workload
does not run reports 0 there (the pipeline layers on entry_queries,
the query families on pipeline_bulk).
"""

from __future__ import annotations

from families import FAMILIES, SWEEP

END_TO_END = {
    "items_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "sources.scan_s": "s",
    "sources.input_mb": "MB",
    "parse.busy_s": "s",
    "parse.python_worker_s": "s",
    "parse.ok_ratio": "ratio",
    "shuffle.busy_s": "s",
    "shuffle.write_mb": "MB",
    "shuffle.records": "count",
    "shuffle.fetch_wait_s": "s",
    "shuffle.task_skew": "ratio",
    "route.busy_s": "s",
    "route.fanout": "ratio",
    "sink.write_s": "s",
    "sink.output_mb": "MB",
    "sink.files": "count",
    "checkpoint.lineage_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.batches": "count",
    "driver.gap_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "scaling.pages_per_s_1cpu": "1/s",
    "scaling.eff_1ton": "ratio",
    **{f"family.{f}.{m}": u for f in FAMILIES
       for m, u in (("exchange_mb", "MB"), ("python_worker_s", "s"), ("jobs", "count"))},
    "session.storage_mb_end": "MB",
    **{f"q.{q}_s": "s" for q in SWEEP},
    "trace.overhead_s": "s",
}
