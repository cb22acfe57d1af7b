#!/usr/bin/env python3
"""The repository benchmark: one workload, one process, one SparkSession.

    python3 perfbench/run.py --workload route_agg --seed 1 --seconds 12 --trace 0
    python3 perfbench/smoke.py          # self-test at sf0.001

Run from the repository root; workloads are defined in ``workloads.py``.
Inputs are generated from ``--seed`` into ``.perfbench_work/`` (untimed,
cached per seed), then:

1. set-up: ``get_spark`` on ``local[nproc]`` plus the first full-size job.
   ``setup_s`` is its wall time: what a daily batch run pays before it
   reaches steady state.
2. ``--trace 0``: one warm-up job, then ``TIMED_JOBS`` timed jobs (fewer
   if their walls reach ``--seconds``). ``cpu_ms_per_turn`` is the median over those jobs of
   the CPU time the JVM and its Python workers spent on one job, per input
   turn. The wall-clock ``turns_per_s`` and the peak RSS go in the metadata
   line, not among the gated metrics: on a shared host they follow the CPU
   time the hypervisor steals (``steal_share``), which CPU time does not.
   ``--trace 1``: each cumulative layer prefix into the ``noop`` sink under
   a span, with ``DataFrame.observe`` row counts and a Spark event log, and
   the plain job right after the prefix that equals it (the tracing
   overhead). Per-layer metrics; layers a workload does not run report 0.
3. Every job's output is checked outside the timed region; a job that
   raises or fails its check counts in ``failed``.

A metadata line (CPU count, Spark and pyarrow versions, failed share,
job walls, peak RSS, steal share) precedes the result JSON, which is the last line of standard
output. Without the ``cca_spark`` package next to this directory the run
exits with status 2.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# Past this much run time no further timed job (60 s) or traced layer
# (120 s) starts, so that a run on a host slowed by CPU steal still ends
# well inside 180 s, and the benchmark's schedule of runs inside its hour.
TIMED_LIMIT_S = 60
TRACE_LIMIT_S = 120
# Untimed jobs between the set-up job and the timed ones, then a fixed
# number of timed jobs, so every run measures the same job positions: CPU
# and wall per job keep falling for ~5 jobs after set-up (JIT), so a count
# that followed the host's speed would move the median with it. Few jobs:
# a run is mostly fixed cost (JVM start, cold first job), and the
# benchmark's whole schedule of runs has to fit in under an hour.
WARMUP_JOBS = 1
TIMED_JOBS = 3
# the heap is allocated whole at start (-Xms = -Xmx): left to grow, its
# size, and with it GC work and RSS, differed by 1.5x between equal runs
DRIVER_MEMORY = "3g"

END_TO_END = {"setup_s": "s", "cpu_ms_per_turn": "ms"}

LAYERS = (
    "scan", "parse", "aggregate", "parse_facts", "enrich", "route", "write",
    "exact_dedup", "shingle", "sketch", "pairs", "components", "containment",
)
LAYER_STATS = {
    "self_s": "s",
    "rows_out": "rows",
    "cpu_s": "s",
    "gc_s": "s",
    "fetch_wait_s": "s",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "failed_tasks": "count",
    "task_skew": "ratio",
}
RATIOS = {
    "parse.facts_per_turn": "facts/turn",
    "parse.turns_matched_ratio": "ratio",
    "parse.partials_per_fact": "ratio",
    "parse.python_bytes_in": "B",
    "parse.python_bytes_out": "B",
    "parse_facts.python_bytes_out": "B",
    "write.files": "count",
    "write.bytes": "B",
    "exact_dedup.survivor_ratio": "ratio",
    "shingle.shingles_per_doc": "shingles/doc",
    "components.jobs": "count",
}
PER_LAYER = {
    **{f"{layer}.{stat}": unit for layer in LAYERS for stat, unit in LAYER_STATS.items()},
    **RATIOS,
}
# event-log stats reported as this prefix minus its parent prefix
DIFFERENCED = ("cpu_s", "gc_s", "fetch_wait_s", "shuffle_write_bytes", "spill_bytes", "failed_tasks")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def confine_to_checkout() -> None:
    """Keep every temporary file of Python, DuckDB, the JVM and Spark's
    block manager under the work directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # Python workers import cca_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )


def release(spark) -> None:
    """bench.py's discipline between measurements: free dropped checkpoint
    blocks (weak-ref GC) and CacheManager entries (strong refs)."""
    gc.collect()
    spark._jvm.System.gc()
    spark.catalog.clearCache()


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    from telemetry import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree[1:]):
        time.sleep(0.1)


class Runner:
    def __init__(self, wl_cls, ctx: dict, trace: bool, corrupt: bool):
        self.wl_cls = wl_cls
        self.ctx = ctx
        self.trace = trace
        self.corrupt = corrupt
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.overhead: float | None = None

    def attempt(self, fn):
        """Run one job: returns (wall seconds, output) or (wall, None) when
        it raised. The wall covers the job only."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # a failed job is a measured outcome, not a crash
            self.failed += 1
            self.problems.append(traceback.format_exc(limit=3).strip().splitlines()[-1])
            log(traceback.format_exc())
            return time.perf_counter() - t0, None
        return time.perf_counter() - t0, out

    def checked(self, wl, out) -> None:
        """Check one job's output (untimed); a failed check fails the job."""
        if out is None:
            return
        if self.corrupt:
            out = wl.corrupt(out)
        try:
            problems = wl.check(out)
        except Exception:
            log(traceback.format_exc())
            problems = ["output check raised"]
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            log("CHECK FAILED: " + "; ".join(problems))

    def run(self, seconds: float, started: float) -> dict:
        from cca_spark.session import get_spark

        n = nproc()
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.ctx["event_log"], exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.ctx["event_log"],
                "spark.eventLog.compress": "false",
            })

        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{self.wl_cls.name}",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf=conf,
        )
        from pyspark import SparkContext

        from telemetry import RssSampler

        rss = RssSampler(SparkContext._gateway.proc.pid)
        rss.start()
        try:
            self.ctx["spark_version"] = spark.version
            wl = self.wl_cls(spark, self.ctx)
            spark.sparkContext.setJobGroup("setup", "setup")
            _, out = self.attempt(wl.job)
            setup_s = time.perf_counter() - t0
            self.ctx["setup_peak_rss_mb"] = rss.reset()
            self.checked(wl, out)
            wl.release(out)
            release(spark)

            if self.trace:
                raw = self.traced(spark, wl, seconds, started)
            else:
                metrics = {"setup_s": setup_s, **self.timed(spark, wl, seconds, started)}
                self.ctx["peak_rss_mb"] = rss.reset()
        finally:
            rss.stop()
            stop_spark(spark)
        if self.trace:
            metrics, self.overhead = self.finish_trace(raw)
        return metrics

    def timed(self, spark, wl, seconds: float, started: float) -> dict:
        """Warm-up jobs, then ``TIMED_JOBS`` full jobs, fewer if their
        walls reach ``seconds`` or the run ``TIMED_LIMIT_S`` (at least one). Wall and CPU are read around
        each job alone, so checks and the release between jobs stay out."""
        from pyspark import SparkContext

        from telemetry import host_cpu_ticks, tree_cpu_s

        for i in range(WARMUP_JOBS):
            spark.sparkContext.setJobGroup(f"warmup#{i}", "warm-up")
            _, out = self.attempt(wl.job)
            self.checked(wl, out)
            wl.release(out)
            release(spark)
        jvm = SparkContext._gateway.proc.pid
        ticks0 = host_cpu_ticks()
        walls, cpus = [], []
        while not walls or (
            len(walls) < TIMED_JOBS
            and sum(walls) < seconds
            and time.monotonic() - started < TIMED_LIMIT_S
        ):
            spark.sparkContext.setJobGroup(f"job#{len(walls)}", "timed")
            cpu0 = tree_cpu_s(jvm)
            wall, out = self.attempt(wl.job)
            cpus.append(tree_cpu_s(jvm) - cpu0)
            walls.append(wall)
            self.checked(wl, out)
            wl.release(out)
            release(spark)
        steal, total = (b - a for a, b in zip(ticks0, host_cpu_ticks()))
        n = self.ctx["n_turns"]
        self.ctx.update(
            job_walls_s=walls,
            job_cpu_s=cpus,
            turns_per_s=n / statistics.median(walls),
            # CPU time the hypervisor gave to other guests while the jobs ran
            steal_share=steal / max(total, 1),
        )
        return {"cpu_ms_per_turn": 1000 * statistics.median(cpus) / n}

    def traced(self, spark, wl, seconds: float, started: float) -> dict:
        """Repetitions of every cumulative prefix under a span, plus the
        plain job, until ``seconds`` are spent; returns raw observations."""
        from telemetry import Spans

        from workloads import observed, sink_stats

        self.spans = Spans(self.ctx["run_id"])
        prefixes = wl.prefixes()
        reps, plain, total = [], [], 0.0
        while not reps or (total < seconds and time.monotonic() - started < TRACE_LIMIT_S):
            rep, got = len(reps), {}
            with self.spans.span("rep", rep=rep) as root:
                for layer, _, run in prefixes:
                    if time.monotonic() - started > TRACE_LIMIT_S:
                        log(f"run limit reached: layers from {layer} on are not traced")
                        break
                    spark.sparkContext.setJobGroup(f"{layer}#{rep}", f"{wl.name}:{layer}")
                    with self.spans.span(layer, rep=rep) as rec:
                        _, res = self.attempt(lambda: run(observed))
                    if res and "out_dir" in res:  # a written prefix: check what landed
                        self.checked(wl, res["out_dir"])
                        stats = sink_stats(res["out_dir"])
                        wl.release(res["out_dir"])
                        res = stats
                    got[layer] = (rec, res or {})
                    release(spark)
                    if layer == wl.full_layer:
                        # the untraced job right after its traced twin, so
                        # the overhead ratio compares equally warm runs
                        spark.sparkContext.setJobGroup(f"job#{rep}", "plain job")
                        with self.spans.span("job", rep=rep):
                            wall, out = self.attempt(wl.job)
                        plain.append(wall)
                        self.checked(wl, out)
                        wl.release(out)
                        release(spark)
            total += self.spans.duration(root)
            reps.append(got)
        return {
            "reps": reps,
            "plain": plain,
            "prefixes": [(layer, parent) for layer, parent, _ in prefixes],
            "full_layer": wl.full_layer,
            "matched": (
                wl.turns_matched()
                if hasattr(wl, "turns_matched") and time.monotonic() - started < TRACE_LIMIT_S
                else None
            ),
        }

    def finish_trace(self, raw: dict) -> tuple[dict, float]:
        """Per-layer metrics from spans, observations and the event log:
        each value is the median over repetitions; a layer's ``self_s`` and
        event-log stats are its prefix minus its parent prefix. Also returns
        the tracing overhead: the full prefix over the plain job, minus 1."""
        from telemetry import group_metrics

        self.spans.write(os.path.join(WORK, "traces", f"{self.ctx['run_id']}.jsonl"))
        groups = group_metrics(self.ctx["event_log"])
        n_turns = self.ctx["n_turns"]
        per_rep: list[dict] = []
        overheads = []
        for rep, got in enumerate(raw["reps"]):
            m: dict[str, float] = {}
            wall = {layer: self.spans.duration(rec) for layer, (rec, _) in got.items()}
            grp = {layer: groups.get(f"{layer}#{rep}", {}) for layer in got}
            for layer, parent in raw["prefixes"]:
                if layer not in got:  # cut by the run limit
                    continue
                res, g = got[layer][1], grp[layer]
                pg = grp.get(parent, {})
                m[f"{layer}.self_s"] = wall[layer] - wall.get(parent, 0.0)
                m[f"{layer}.rows_out"] = res.get("rows", 0)
                for stat in DIFFERENCED:
                    m[f"{layer}.{stat}"] = g.get(stat, 0) - pg.get(stat, 0)
                m[f"{layer}.task_skew"] = g.get("task_skew", 1.0)
            if "parse" in got:
                res, g = got["parse"][1], grp["parse"]
                m["parse.python_bytes_in"] = g.get("python_bytes_in", 0)
                m["parse.python_bytes_out"] = g.get("python_bytes_out", 0)
                # each partial row carries the count of facts it stands for
                m["parse.facts_per_turn"] = res.get("facts", 0) / n_turns
                m["parse.partials_per_fact"] = res.get("rows", 0) / max(res.get("facts", 0), 1)
            if "parse_facts" in got:
                m["parse_facts.python_bytes_out"] = grp["parse_facts"].get("python_bytes_out", 0)
            if "write" in got:
                m["write.files"] = got["write"][1].get("files", 0)
                m["write.bytes"] = got["write"][1].get("bytes", 0)
            if "exact_dedup" in got:
                m["exact_dedup.survivor_ratio"] = got["exact_dedup"][1].get("rows", 0) / n_turns
            if "shingle" in got:
                res = got["shingle"][1]
                m["shingle.shingles_per_doc"] = res.get("rows", 0) / max(res.get("docs", 0), 1)
            if "components" in got:
                m["components.jobs"] = grp["components"].get("jobs", 0) - grp["pairs"].get("jobs", 0)
            per_rep.append(m)
            if rep < len(raw["plain"]):
                overheads.append(wall[raw["full_layer"]] / raw["plain"][rep] - 1.0)
        # layers a workload does not run report 0
        metrics = {name: 0 for name in PER_LAYER}
        for name in per_rep[0]:
            metrics[name] = statistics.median(r[name] for r in per_rep)
        if raw["matched"] is not None:
            metrics["parse.turns_matched_ratio"] = raw["matched"] / n_turns
        return metrics, statistics.median(overheads) if overheads else None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="self-test size: sf0.001")
    ap.add_argument("--corrupt", action="store_true", help="self-test: corrupt every output before its check")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    started = time.monotonic()
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import cca_spark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: cannot import the cca_spark package from {ROOT}: {e}")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl_cls = WORKLOADS[args.workload]
    confine_to_checkout()

    import inputs

    sf = 0.001 if args.smoke else wl_cls.sf
    t = time.perf_counter()
    sf_dir = inputs.ensure_events(WORK, sf)
    corpus = inputs.ensure_corpus(WORK, sf_dir, args.seed)
    import pyarrow.parquet as pq

    n_turns = sum(
        pq.ParquetFile(os.path.join(corpus, f)).metadata.num_rows
        for f in os.listdir(corpus)
        if f.endswith(".parquet")
    )
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    ctx = {
        "work_dir": WORK,
        "sf_dir": sf_dir,
        "corpus": corpus,
        "corpus_sig": inputs.corpus_signature(corpus),
        "seed": args.seed,
        "n_turns": n_turns,
        "run_id": run_id,
        "event_log": os.path.join(WORK, "eventlog", run_id),
    }
    ctx["oracle"] = wl_cls.oracle(ctx)
    log(f"inputs ready in {time.perf_counter() - t:.1f} s: {n_turns} turns at {corpus}")

    runner = Runner(wl_cls, ctx, bool(args.trace), args.corrupt)
    metrics = runner.run(args.seconds, started)

    import pyarrow

    units = PER_LAYER if args.trace else END_TO_END
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": nproc(),
        "master": f"local[{nproc()}]",
        "spark": ctx.get("spark_version"),
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "sf": sf,
        "n_turns": n_turns,
        "failed_share": runner.failed / runner.attempted,
        "problems": runner.problems[:10],
        **{
            k: ctx[k]
            for k in ("turns_per_s", "job_walls_s", "job_cpu_s", "peak_rss_mb",
                      "setup_peak_rss_mb", "steal_share")
            if k in ctx
        },
        "wall_s": round(time.monotonic() - started, 1),
    }
    if args.trace:
        meta["trace_overhead_ratio"] = runner.overhead
        if metrics["write.files"]:
            meta["sink_files"] = metrics["write.files"]
            meta["sink_bytes_per_turn"] = metrics["write.bytes"] / n_turns
    for name, unit in units.items():
        print(f"{name:34s} {metrics[name]:>16.6g} {unit}")
    print(json.dumps({"meta": meta}))
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
