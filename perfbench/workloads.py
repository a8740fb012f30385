"""The benchmark's workloads.

pipeline_bulk   one run_pipeline call over a 16-split x 4-file table,
                every split in one commit batch, at all allowed CPUs;
                2% of the pages carry a log comment that does not
                parse.  The untimed first call is a kill/resume pair
                (half the splits, then the rest 4 per batch); the
                traced run also runs the input pinned to one CPU.
entry_queries   a sweep of entry queries (two per family) over fixed
                generated tables, each into a noop sink.

Each workload is a closed loop of one client: the next call starts when
the previous one returns, for as many calls as fill --seconds (at least
one).  With tracing on, one more call runs with spans and
plan-node metrics, followed by the per-layer noop runs of the pipeline.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field

import gen
import host
from families import FAMILIES, FAMILY_OF, SWEEP
from sparkstats import Layers, StatusStore
from tracer import Tracer

BULK_ROWS, BULK_SPLITS, BULK_FILES = 40_000, 16, 4
BULK_MALFORMED_SHARE = 0.02
RESUME_PER_BATCH = 4
# untimed whole calls after the kill/resume pair; the per-call CPU time
# levels off after about six calls in all
BULK_WARMUP_CALLS = 3
# The entry-query tables are fixed (their expected results are recorded
# in expected_queries.json), so the run's --seed does not apply to them.
QUERY_TABLE_SEED = 20261017
QUERY_WARMUP_SWEEPS = 1
EXPECTED_QUERIES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "expected_queries.json")
MB = 2.0**20


@dataclass
class Run:
    work: str
    seed: int
    seconds: float
    cpus: list[int]
    tracer: Tracer
    proc_start: float
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    report: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")


class Session:
    """A Spark session sized to the allowed CPUs, with its scratch space
    inside the run's work directory."""

    def __init__(self, run: Run) -> None:
        n = len(run.cpus)
        os.environ["SPARK_GRAFT_CPUS"] = str(n)
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        tmp = run.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        from hetman_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
            extra_conf={
                # a fixed 1 GiB heap: peak RSS then follows what the
                # program holds, not how far the collector let the heap grow
                "spark.driver.memory": "1g",
                "spark.driver.extraJavaOptions":
                    f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                "spark.local.dir": run.path("spark-local"),
            },
        )
        self.proc = self.spark.sparkContext._gateway.proc
        self.stats = StatusStore(self.spark)

    def warmup(self) -> None:
        self.spark.range(100_000).selectExpr("sum(id)").collect()

    def peak_rss_mb(self) -> float:
        return host.peak_rss_mb(self.proc.pid)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers."""
        tree = host.descendants(self.proc.pid)
        self.spark.stop()
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline and any(_alive(p) for p in tree[1:]):
            time.sleep(0.1)
        for p in tree[1:]:
            if _alive(p):
                os.kill(p, 9)
        # let a later session in this process launch a fresh JVM
        from pyspark import SparkContext

        SparkContext._gateway = None
        SparkContext._jvm = None


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _measure(run: Run, step) -> None:
    """Call step() back to back while another call of the last one's
    length still ends within --seconds, at least once.  The window is
    fixed in time, not in calls, so a slow host gives fewer samples
    rather than a longer run."""
    end = time.time() + run.seconds
    while True:
        a = time.time()
        step()
        b = time.time()
        if b + (b - a) > end:
            return


# ---------------------------------------------------------------- pipelines

def sink_names() -> dict[str, str]:
    from hetman_spark.sources.lookup import DEFAULT_SINKS

    return {s.signature(): s.url.split("://", 1)[1] for s in DEFAULT_SINKS}


def check_pipeline(run: Run, table: gen.WebtextTable, res, out_dir: str,
                   processed: list[int], in_manifest: list[int]) -> None:
    """Compare a run_pipeline result with the generator's own counts."""
    from hetman_spark.plans.checkpoint import read_manifest

    names = sink_names()
    got = {names.get(k, k): v for k, v in res.sink_counts.items()}
    want = table.totals(processed)
    for sink in ("archive", "english", "errors", "emea"):
        run.check(f"sink_count.{sink}", got.get(sink, 0) == want[sink],
                  f"got {got.get(sink, 0)}, generator counted {want[sink]}")
    run.check("parse.errors", res.stage_counts.get("parse.errors") == want["malformed"],
              f"got {res.stage_counts.get('parse.errors')}, generated {want['malformed']}")
    run.check("resume.processed", list(res.splits_processed) == processed,
              f"processed {res.splits_processed}, uncommitted were {processed}")
    entries = read_manifest(os.path.join(out_dir, "_manifest"))
    ids = [e["split_id"] for e in entries]
    run.check("manifest.each_split_once", sorted(ids) == sorted(in_manifest)
              and len(ids) == len(set(ids)), f"manifest holds {sorted(ids)}")
    run.check("manifest.rows_in",
              all(e["rows_in"] == table.rows_per_split[e["split_id"]] for e in entries),
              "a manifest entry's rows_in differs from the generated split")


@dataclass
class Call:
    res: object
    wall: float
    latencies: list[float]


def pipeline_call(run: Run, sess: Session, table: gen.WebtextTable, out: str,
                  splits_per_commit: int, max_splits: int | None = None) -> Call:
    from hetman_spark.plans.checkpoint import read_batch_metrics
    from hetman_spark.plans.pipeline import run_pipeline

    metrics_dir = os.path.join(out, "_metrics")
    n_before = len(read_batch_metrics(metrics_dir))
    t0 = time.time()
    with run.tracer.span("run_pipeline", input=table.path):
        res = run_pipeline(sess.spark, table.path, out,
                           splits_per_commit=splits_per_commit, max_splits=max_splits)
    wall = time.time() - t0
    batches = read_batch_metrics(metrics_dir)[n_before:]
    lat, prev = [], t0
    for b in batches:
        lat.append(b["committed_at"] - prev)
        prev = b["committed_at"]
    run.attempted += 1 + len(batches)
    return Call(res, wall, lat)


def _pinned_call(run: Run, sess: Session, cpus: list[int], call):
    """Run call() with this process tree (driver, JVM, Python workers)
    taskset to cpus; returns (result, the Cpus_allowed_list values seen,
    whether the pin held)."""
    me = os.getpid()
    host.pin_tree(me, cpus)
    seen = host.cpus_allowed_lists(me)
    out = call()
    seen |= host.cpus_allowed_lists(me)
    return out, sorted(seen), seen == {host.cpu_list_str(cpus)}


def pipeline_layers(run: Run, sess: Session, table: gen.WebtextTable, splits: list[int],
                    out: str) -> dict:
    """One traced run_pipeline call, then the per-layer noop runs of the
    same plan over the same splits: scan, + parse, + rebalance shuffle,
    + enrich and route.  The differences between them give each layer's
    busy time at the run's parallelism."""
    from pyspark.sql import functions as F

    from hetman_spark.plans.pipeline import build_parsed, build_routed, tags_disjoint
    from hetman_spark.sources.lookup import DEFAULT_SINKS, lang_lookup, routes_df

    tr, spark, stats = run.tracer, sess.spark, sess.stats
    before = stats.last_id()
    t0 = time.time()
    with tr.span("traced_call"):
        call = pipeline_call(run, sess, table, out, len(splits))
        t1 = time.time()
        execs = stats.executions_after(before)
    lay = stats.layers(execs, (t0, t1))
    tr.record("plan_nodes", call="run_pipeline", executions=[e.__dict__ for e in execs])
    check_pipeline(run, table, call.res, out, splits, splits)
    shutil.rmtree(out)

    def noop(name: str, build) -> float:
        with tr.span(name):
            with tr.span(f"{name}.plan"):
                df = build()
            first = stats.last_id()
            a = time.time()
            with tr.span(f"{name}.execute"):
                df.write.format("noop").mode("overwrite").save()
            wall = time.time() - a
            tr.record("plan_nodes", call=name,
                      executions=[e.__dict__ for e in stats.executions_after(first)])
        run.attempted += 1
        return wall

    lookup, routes = lang_lookup(spark), routes_df(spark)
    src = lambda: spark.read.parquet(table.path).filter(F.col("split_id").isin(splits))  # noqa: E731
    parsed = lambda: build_parsed(src()).drop("html")  # noqa: E731
    reb = lambda: parsed().hint("rebalance", "split_id")  # noqa: E731
    routed = lambda: build_routed(  # noqa: E731
        reb().join(F.broadcast(lookup), "lang", "left"), routes,
        disjoint_tags=tags_disjoint(DEFAULT_SINKS), sinks=DEFAULT_SINKS)
    t_src = noop("sources", src)
    t_parse = noop("parse", parsed)
    t_shuffle = noop("shuffle", reb)
    t_route = noop("route", routed)

    res = call.res
    rows_in = res.stage_counts.get("source.rows_in", 0) or 1
    return {
        "traced_wall": call.wall,
        "layers": lay,
        "driver.gap_s": (t1 - t0) - lay.covered_s,
        "parse.busy_s": t_parse - t_src,
        "parse.python_worker_s": lay.python_worker_s,
        "parse.ok_ratio": res.stage_counts.get("parse.rows_parsed", 0) / rows_in,
        "route.busy_s": t_route - t_shuffle,
        "route.fanout": res.stage_counts.get("route.rows_routed", 0) / rows_in,
        "sink.write_s": res.phase_secs.get("write_job", 0.0) - t_route,
        "sink.output_mb": lay.sink_bytes / MB,
        "sink.files": lay.sink_files,
        "checkpoint.lineage_s": res.phase_secs.get("lineage", 0.0),
        "checkpoint.commit_s": res.phase_secs.get("commit", 0.0),
        "checkpoint.batches": len(call.latencies),
    }


def pipeline_bulk(run: Run) -> tuple[dict, dict]:
    t = time.time()
    table = gen.write_webtext(run.path("bulk"), run.seed, BULK_ROWS, BULK_SPLITS, BULK_FILES,
                              malformed_share=BULK_MALFORMED_SHARE)
    gen_s = time.time() - t
    splits = sorted(table.expected)
    half = BULK_SPLITS // 2

    sess = Session(run)
    try:
        walls: dict[str, list[float]] = {"warm": [], "all": [], "one": []}
        latencies: list[float] = []
        pins: list[dict] = []

        def leg(label: str, cpus: list[int]) -> None:
            out = run.path(f"out-{label}-{len(walls[label])}")
            c, seen, held = _pinned_call(
                run, sess, cpus, lambda: pipeline_call(run, sess, table, out, BULK_SPLITS))
            want = host.cpu_list_str(cpus)
            pins.append({"leg": label, "want": want, "seen": seen, "wall_s": c.wall})
            run.check(f"pin.{label}", held, f"wanted {want}, saw {seen}")
            check_pipeline(run, table, c.res, out, splits, splits)
            shutil.rmtree(out)
            walls[label].append(c.wall)
            if label == "all":
                latencies.extend(c.latencies)

        with run.tracer.span("setup"):
            # warm-up, untimed: a run stopped after half the splits, then
            # resumed in small commit batches; only the rest is processed
            out = run.path("out-warmup")
            c = pipeline_call(run, sess, table, out, half, max_splits=half)
            check_pipeline(run, table, c.res, out, splits[:half], splits[:half])
            c = pipeline_call(run, sess, table, out, RESUME_PER_BATCH)
            check_pipeline(run, table, c.res, out, splits[half:], splits)
            run.check("resume.batches",
                      len(c.latencies) == math.ceil((BULK_SPLITS - half) / RESUME_PER_BATCH),
                      f"{len(c.latencies)} commit batches")
            shutil.rmtree(out)
            # then whole calls until the JIT has compiled the hot paths
            for _ in range(BULK_WARMUP_CALLS):
                leg("warm", run.cpus)
        setup_s = time.time() - run.proc_start - gen_s

        with run.tracer.off():
            _measure(run, lambda: leg("all", run.cpus))
        pps = BULK_ROWS / statistics.median(walls["all"])
        run.report.update({
            "pages_per_s": (pps, "1/s", len(walls["all"])),
            "commit_latency_p50_s": (statistics.median(latencies), "s", len(latencies)),
        })
        layers = {}
        if run.tracer.enabled:
            layers = pipeline_layers(run, sess, table, splits, run.path("out-traced"))
            layers["trace.overhead_s"] = layers.pop("traced_wall") - statistics.median(walls["all"])
            # the same input pinned to one allowed CPU, for N -> 1 scaling
            with run.tracer.span("pinned_1cpu"):
                for _ in range(2):
                    leg("one", run.cpus[-1:])
            host.pin_tree(os.getpid(), run.cpus)
            pin_ok = all(p["seen"] == [p["want"]] for p in pins)
            pps1 = BULK_ROWS / statistics.median(walls["one"]) if pin_ok else 0.0
            eff = pps / (len(run.cpus) * pps1) if pps1 else 0.0
            run.report.update({
                "pages_per_s_1core": (pps1, "1/s", len(walls["one"])),
                f"scaling_eff_1to{len(run.cpus)}": (eff, "ratio", len(walls["one"])),
            })
            if not pin_ok:
                run.report["pin_error"] = "a taskset pin did not hold; 1-CPU figures withheld"
            layers["scaling.pages_per_s_1cpu"] = pps1
            layers["scaling.eff_1ton"] = eff
        run.report["pins"] = pins
        e2e = {"items_per_s": (pps, len(walls["all"])),
               "setup_s": (setup_s, 1), "peak_rss_mb": (sess.peak_rss_mb(), 1)}
        return e2e, layers
    finally:
        sess.stop()


# ------------------------------------------------------------ entry queries

def digest(rows) -> list:
    """Row count and an order-insensitive hash of the rows' values."""
    def canon(v):
        if isinstance(v, float):
            return format(v, ".9g")
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        if isinstance(v, dict):
            return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items())) + "}"
        if hasattr(v, "asDict"):
            return canon(tuple(v))
        return repr(v)

    total = 0
    for r in rows:
        h = hashlib.sha1(canon(tuple(r)).encode()).digest()
        total = (total + int.from_bytes(h[:8], "big")) % 2**64
    return [len(rows), f"{total:016x}"]


def query_digests(spark, sf_dir: str) -> dict[str, list]:
    from hetman_spark.entry_queries import QUERIES

    return {q: digest(QUERIES[q](spark, sf_dir).collect()) for q in SWEEP}


def entry_queries(run: Run) -> tuple[dict, dict]:
    from hetman_spark.entry_queries import QUERIES

    t = time.time()
    sf = run.path("tables")
    gen.write_query_tables(sf, QUERY_TABLE_SEED)
    gen_s = time.time() - t
    with open(EXPECTED_QUERIES) as f:
        expected = json.load(f)

    sess = Session(run)
    try:
        spark, stats, tr = sess.spark, sess.stats, run.tracer

        def sweep(traced: bool = False) -> tuple[dict[str, float], dict[str, list]]:
            """Seconds per query, and (traced) each family's executions."""
            secs, fam = {}, {f: [] for f in FAMILIES}
            for q in SWEEP:
                first = stats.last_id() if traced else None
                a = time.time()
                with tr.span(f"q.{q}", family=FAMILY_OF[q]):
                    with tr.span("plan"):
                        df = QUERIES[q](spark, sf)
                    with tr.span("execute"):
                        df.write.format("noop").mode("overwrite").save()
                secs[q] = time.time() - a
                run.attempted += 1
                if traced:
                    execs = stats.executions_after(first)
                    fam[FAMILY_OF[q]].extend(execs)
                    tr.record("plan_nodes", call=q, executions=[e.__dict__ for e in execs])
            return secs, fam

        with tr.span("setup"):
            sess.warmup()
            # correctness pass: the first execution of each query
            with tr.span("check_pass"):
                for q, got in query_digests(spark, sf).items():
                    run.attempted += 1
                    run.check(f"query.{q}", got == expected.get(q),
                              f"rows/hash {got}, recorded {expected.get(q)}")
            # untimed sweeps: right after the first pass the JIT still
            # speeds each sweep up by a third
            with tr.off():
                for _ in range(QUERY_WARMUP_SWEEPS):
                    sweep()
        setup_s = time.time() - run.proc_start - gen_s

        sweeps: list[dict[str, float]] = []
        with tr.off():
            _measure(run, lambda: sweeps.append(sweep()[0]))
        totals = [sum(s.values()) for s in sweeps]
        per_q = {q: statistics.median([s[q] for s in sweeps]) for q in SWEEP}
        # the sum of per-query medians: one slow query in one sweep moves
        # it less than it moves the median of sweep totals
        sweep_s = sum(per_q.values())
        run.report["queries_total_s"] = (statistics.median(totals), "s", len(totals))
        for f in FAMILIES:
            fs = [sum(s[q] for q in SWEEP if FAMILY_OF[q] == f) for s in sweeps]
            run.report[f"family.{f}_s"] = (statistics.median(fs), "s", len(fs))

        layers = {}
        if tr.enabled:
            before = stats.last_id()
            t0 = time.time()
            with tr.span("traced_sweep"):
                secs, fam = sweep(traced=True)
            t1 = time.time()
            execs = stats.executions_after(before)
            lay = stats.layers(execs, (t0, t1))
            layers = {"layers": lay, "driver.gap_s": (t1 - t0) - lay.covered_s,
                      "trace.overhead_s": sum(secs.values()) - sweep_s,
                      "session.storage_mb_end": stats.storage_mb()}
            for f in FAMILIES:
                fl = stats.layers(fam[f])
                layers[f"family.{f}.exchange_mb"] = fl.shuffle_bytes / MB
                layers[f"family.{f}.python_worker_s"] = fl.python_worker_s
                layers[f"family.{f}.jobs"] = fl.jobs
            for q in SWEEP:
                layers[f"q.{q}_s"] = per_q[q]
        e2e = {"items_per_s": (len(SWEEP) / sweep_s, len(SWEEP) * len(sweeps)),
               "setup_s": (setup_s, 1), "peak_rss_mb": (sess.peak_rss_mb(), 1)}
        return e2e, layers
    finally:
        sess.stop()


WORKLOADS = {
    "pipeline_bulk": pipeline_bulk,
    "entry_queries": entry_queries,
}


def per_layer_values(layers: dict) -> dict[str, float]:
    """Flatten a workload's layer dict into the PER_LAYER metric names;
    layers the workload did not run report 0."""
    from metrics import PER_LAYER

    lay: Layers = layers["layers"]
    out = {name: 0.0 for name in PER_LAYER}
    out.update({
        "sources.scan_s": lay.scan_s,
        "sources.input_mb": lay.input_bytes / MB,
        "shuffle.busy_s": lay.shuffle_write_s + lay.fetch_wait_s,
        "shuffle.write_mb": lay.shuffle_bytes / MB,
        "shuffle.records": lay.shuffle_records,
        "shuffle.fetch_wait_s": lay.fetch_wait_s,
        "shuffle.task_skew": lay.task_skew,
        "spark.jobs": lay.jobs,
        "spark.tasks": lay.tasks,
    })
    out.update({k: v for k, v in layers.items() if k in PER_LAYER})
    return {k: float(v) for k, v in out.items()}
