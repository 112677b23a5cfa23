"""Benchmark of the declared-query engine: one workload per run.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

Run it from the repository root. Each run is a fresh Spark application
on ``local[<cores>]``, driven by one client in a closed loop: queries go
back to back through the repo's noop-sink protocol (``measure.run_noop``,
then ``lineage.release_cuts``), in an order the seed permutes. Passes
over the workload's query set repeat until ``--seconds`` have been
measured; each pass is one batch window. After the last pass, an untimed
check compares that pass's outputs with the DuckDB oracles.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` it carries per-layer metrics: counters and spans of
a traced cold pass, and the tracing overhead from the passes after it.
Spans and per-query outcomes are written to ``.bench_out/`` when the
run ends. The input tables are the sf0.01 fixtures copied into
``perfbench/data``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

from metrics import (Outcome, coverage, error_text, failed_ratio,  # noqa: E402
                     self_times, tail_percentile)
from spans import Counters, Tracer, peak_rss_mb  # noqa: E402
from workloads import (WARMUP_JVM, WARMUP_PYTHON, WORKLOADS,  # noqa: E402
                       package)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
OUT_DIR = os.path.join(ROOT, ".bench_out")
# Coverage below this means time inside a pass escaped every child span.
MIN_COVERAGE = 0.98


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def require_checkout() -> None:
    """Refuse to run outside a checkout that holds the program and data."""
    program = os.path.join(ROOT, "etl_finance_spark", "registry.py")
    missing = [p for p in (program, DATA) if not os.path.exists(p)]
    if missing:
        sys.exit(f"perfbench: not a checkout of the engine, missing {missing}")


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the queries write under ``work``."""
    os.environ.update(
        TMPDIR=work,
        SPARK_LOCAL_DIRS=work,
        SPARK_WAREHOUSE_DIR=os.path.join(work, "warehouse"),
        SPARK_DRIVER_MEMORY="2g",  # sf0.01 needs little; the host is shared
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options "
                            f"{shlex.quote('-Djava.io.tmpdir=' + work)} pyspark-shell",
    )
    tempfile.tempdir = work
    sys.path.insert(0, ROOT)
    os.chdir(work)


def memo_scope(k: int) -> str:
    """The data directory, spelled differently for pass ``k``. Session
    memos key on (application, data directory), so each pass pays its
    shared builds the way a fresh batch application does."""
    return DATA + "/." * (k + 1)


class Bench:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.tracer = Tracer(self.run_id)
        self.cores = len(os.sched_getaffinity(0))
        self.outcomes: list[Outcome] = []
        self.passes: list[dict] = []
        self.failures: dict[str, str] = {}
        self.counters: Counters | None = None
        self.unavailable: dict[str, str] = {}

    # set-up: session, registry, warm-up -------------------------------
    def setup(self) -> None:
        t = self.tracer
        with t.span("setup", start=PROCESS_START) as root:
            with t.span("session.get_spark", root):
                from etl_finance_spark.session import get_spark

                self.spark = get_spark("perfbench", cpus=self.cores)
            self.spark.sparkContext.setLogLevel("ERROR")
            with t.span("registry.collect", root):
                from etl_finance_spark import registry

                self.specs = registry.collect()
            from etl_finance_spark.lineage import release_cuts
            from etl_finance_spark.measure import run_noop

            self.run_noop, self.release_cuts = run_noop, release_cuts
            for span, names in (("warmup.jvm", WARMUP_JVM),
                                ("warmup.python_worker", WARMUP_PYTHON)):
                with t.span(span, root):
                    for name in names:
                        run_noop(self.specs[name].fn(self.spark, DATA))
                        release_cuts()
        self.setup_span = root
        self.queries = WORKLOADS[self.args.workload].resolve(self.specs)
        if self.args.trace:
            try:
                self.counters = Counters(self.spark)
            except Exception as exc:  # e.g. no JVM handle under Spark Connect
                self.unavailable["counters"] = error_text(exc)

    # measured passes ---------------------------------------------------
    def measure(self) -> dict:
        """Run passes until ``--seconds`` have been measured.

        Untraced, every pass is timed as is. Traced, the first (cold)
        pass is traced throughout and gives the per-layer numbers; the
        passes after it come in pairs that run one order, each query
        traced in one pass of the pair and untraced in the other, so the
        tracing overhead is measured on the same queries, at the same
        warmth and paying the same memo builds."""
        rng = random.Random(self.args.seed)
        tracing = self.counters is not None
        start = time.perf_counter()
        k = 0
        while True:
            if k:
                with self.tracer.span("pass.reset"):
                    self.reset_caches()
            if not tracing or k % 2 or k == 0:  # traced pair k, k+1 (k odd): one order
                order = list(self.queries)
                rng.shuffle(order)
            if not tracing:
                traced = set()
            elif k == 0:
                traced = set(order)
            else:
                traced = {q for i, q in enumerate(self.queries) if (i + k) % 2}
            dfs = self.run_pass(k, order, traced)
            k += 1
            if time.perf_counter() - start >= self.args.seconds and (
                    not tracing or (k >= 3 and k % 2)):
                return dfs

    def reset_caches(self) -> None:
        """Drop what the previous pass persisted, as a new application
        would start without it."""
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    def run_pass(self, k: int, order: list[str], tracing: set[str]) -> dict:
        t, scope, dfs = self.tracer, memo_scope(k), {}
        records = []
        with t.span("pass", index=k) as ps:
            for name in order:
                spec = self.specs[name]
                traced = name in tracing
                gid = f"{self.run_id}/{k}/{name}"
                df, err = None, None
                with t.span("query", ps, query=name) as qs:
                    try:
                        with t.span("construct", qs) as cs:
                            if traced:
                                self.counters.set_group(gid + "/construct")
                            df = spec.fn(self.spark, scope)
                        with t.span("execute", qs) as es:
                            if traced:
                                self.counters.set_group(gid + "/execute")
                            self.run_noop(df)
                    except Exception as exc:  # recorded, counted as failed
                        err, df = error_text(exc), None
                        traceback.print_exc(file=sys.stderr)
                rec = {"query": name, "pkg": package(spec.fn.__module__),
                       "traced": traced, "latency_s": qs.duration,
                       "construct_s": cs.duration,
                       "execute_s": es.duration if df is not None else 0.0}
                if traced:
                    with t.span("trace.collect", ps):
                        rec.update(self.collect(gid))
                with t.span("lineage.release", ps) as rs:
                    rec["released"] = self.release_cuts()
                rec["release_s"] = rs.duration
                records.append(rec)
                self.outcomes.append(Outcome(name, None if err else qs.duration, err))
                dfs[name] = df
        self.passes.append({"span": ps, "records": records})
        return dfs

    def collect(self, gid: str) -> dict:
        c = self.counters
        c.set_group(None)
        c.drain()
        rdds, mb = c.storage()
        return {"c": c.group(gid + "/construct"), "e": c.group(gid + "/execute"),
                "rdds": rdds, "storage_mb": mb}

    # untimed output check ------------------------------------------------
    def check(self, dfs: dict) -> None:
        from check import OutputCheck

        items = [(self.specs[n], df) for n, df in dfs.items() if df is not None]
        with self.tracer.span("check"):
            chk = OutputCheck(DATA, os.path.join(OUT_DIR, "oracle_cache.duckdb"))
            try:
                self.failures = chk.all(items, self.cores)
            finally:
                chk.close()
                self.release_cuts()
        for o in self.outcomes:
            if o.query in self.failures:
                o.check_ok = False

    # results -----------------------------------------------------------
    def collect_time(self, p: dict) -> float:
        """Seconds a pass spent reading counters, outside the timers."""
        return sum(s.duration for s in self.tracer.children(p["span"], "trace.collect"))

    def wall(self, p: dict) -> float:
        """A pass's batch window, less the time spent reading counters."""
        return p["span"].duration - self.collect_time(p)

    def end_to_end(self) -> dict:
        return {
            "setup_s": (self.setup_span.duration, "s"),
            "wall_s": (statistics.median(self.wall(p) for p in self.passes), "s"),
        }

    def per_layer(self) -> dict:
        out: dict[str, tuple] = {}
        for s in self.tracer.children(self.setup_span):
            out[s.name + "_s"] = (s.duration, "s")
        spans = self.subtree(self.setup_span)
        if self.counters is not None:
            out.update(self.pass_layers(self.passes[0]))
            spans += self.subtree(self.passes[0]["span"])
        # self time of the spans that have children; a leaf's is its duration
        parents = {s.parent for s in spans}
        for name, own in self_times(spans).items():
            if any(s.name == name and s.id in parents for s in spans):
                out[f"self.{name}_s"] = (own, "s")
        if self.counters is not None:
            warm = [r for p in self.passes[1:] for r in p["records"]]
            cost = {flag: sum(r["latency_s"] + r["release_s"]
                              for r in warm if r["traced"] == flag)
                    for flag in (True, False)}
            out["trace.overhead_ratio"] = (cost[True] / cost[False], "ratio")
        out["trace.span_coverage"] = (self.span_coverage(), "ratio")
        out["failed_ratio"] = (failed_ratio(self.outcomes), "ratio")
        try:
            out["jvm.peak_rss_mb"] = (peak_rss_mb(self.jvm_pid()), "MB")
        except (AttributeError, OSError, LookupError) as exc:
            self.unavailable["jvm.peak_rss_mb"] = error_text(exc)
        return out

    def span_coverage(self) -> float:
        """Lowest share of a pass that its child spans cover; raises when
        time escaped them, since wall_s would then hold untraced work."""
        low = min(coverage(p["span"], self.tracer.spans) for p in self.passes)
        if low < MIN_COVERAGE:
            raise RuntimeError(f"child spans cover only {low:.1%} of a pass")
        return low

    def pass_layers(self, p: dict) -> dict:
        recs = p["records"]

        def tot(key, *phases):
            return sum(r[ph][key] for r in recs for ph in phases)

        construct_s = sum(r["construct_s"] for r in recs)
        execute_s = sum(r["execute_s"] for r in recs)
        run_s = tot("run_ms", "e") / 1e3
        lat = [r["latency_s"] for r in recs]
        m = {
            "trace.wall_s": (self.wall(p), "s"),
            "query.p50_s": (statistics.median(lat), "s"),
            "query.samples": (len(lat), "count"),
            "construct_s": (construct_s, "s"),
            "construct.jobs": (tot("jobs", "c"), "count"),
            "lineage.release_s": (sum(r["release_s"] for r in recs), "s"),
            "lineage.released": (sum(r["released"] for r in recs), "count"),
            "execute_s": (execute_s, "s"),
            "execute.jobs": (tot("jobs", "e"), "count"),
            "execute.stages": (tot("stages", "e"), "count"),
            "execute.tasks": (tot("tasks", "e"), "count"),
            "execute.executor_run_s": (run_s, "s"),
            "execute.executor_cpu_s": (tot("cpu_ns", "e") / 1e9, "s"),
            "execute.gc_s": (tot("gc_ms", "e") / 1e3, "s"),
            "execute.busy_ratio": (run_s / (execute_s * self.cores), "ratio"),
            "construct.stages": (tot("stages", "c"), "count"),
            "construct.executor_run_s": (tot("run_ms", "c") / 1e3, "s"),
            "scan.input_bytes": (tot("input_bytes", "c", "e"), "bytes"),
            "scan.input_records": (tot("input_records", "c", "e"), "count"),
            "shuffle.write_bytes": (tot("shuffle_write_bytes", "c", "e"), "bytes"),
            "shuffle.read_bytes": (tot("shuffle_read_bytes", "c", "e"), "bytes"),
            "shuffle.fetch_wait_s": (tot("fetch_wait_ms", "c", "e") / 1e3, "s"),
            "spill.bytes": (tot("spill_bytes", "c", "e"), "bytes"),
            "sink.output_bytes": (tot("output_bytes", "c", "e"), "bytes"),
            "sink.output_records": (tot("output_records", "c", "e"), "count"),
            "cache.persisted_rdds_peak": (max(r["rdds"] for r in recs), "count"),
            "cache.storage_mb_peak": (max(r["storage_mb"] for r in recs), "MB"),
            "tasks.failed": (tot("tasks_failed", "c", "e"), "count"),
            "jobs.failed": (tot("jobs_failed", "c", "e"), "count"),
        }
        for pkg in sorted({package(s.fn.__module__) for s in self.specs.values()}):
            mine = [r for r in recs if r["pkg"] == pkg]
            m[f"{pkg}.construct_s"] = (sum(r["construct_s"] for r in mine), "s")
            m[f"{pkg}.execute_s"] = (sum(r["execute_s"] for r in mine), "s")
            m[f"{pkg}.jobs"] = (sum(r[ph]["jobs"] for r in mine for ph in "ce"), "count")
        m["trace.collect_s"] = (self.collect_time(p), "s")
        return m

    def subtree(self, root) -> list:
        ids, out = {root.id}, [root]
        for s in self.tracer.spans[root.id + 1:]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    # teardown ----------------------------------------------------------
    def stop(self) -> None:
        """Stop the application, then wait for the JVM and every process
        it started (the Python workers) to end."""
        if not hasattr(self, "spark"):
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        kids = descendants(proc.pid) if proc else []
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        wait_gone(kids)


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie left for init to reap has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for ``pids`` to end; SIGKILL those still running at ``timeout``."""
    deadline = time.monotonic() + timeout
    while any(alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in filter(alive, pids):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def result_line(bench: Bench, metrics: dict) -> str:
    failed = sum(o.failed for o in bench.outcomes)
    return json.dumps({
        "correct": failed == 0,
        "attempted": len(bench.outcomes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def main(argv=None) -> int:
    args = parse_args(argv)
    require_checkout()
    work = os.path.join(ROOT, ".bench_work", str(os.getpid()))
    os.makedirs(work)
    os.makedirs(OUT_DIR, exist_ok=True)
    isolate(work)
    bench = Bench(args)
    try:
        bench.setup()
        bench.check(bench.measure())
        bench.span_coverage()
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
    finally:
        bench.stop()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    samples = [o.latency_s for o in bench.outcomes if o.latency_s is not None]
    tail = tail_percentile(samples)
    report = {
        "run_id": bench.run_id, "args": vars(args), "cores": bench.cores,
        "queries": bench.queries, "passes": len(bench.passes),
        "samples": len(samples),
        "tail": None if tail is None else {"q": tail[0], "value_s": tail[1]},
        "failures": bench.failures,
        "errors": {o.query: o.error for o in bench.outcomes if o.error},
        "unavailable": bench.unavailable,
        "metrics": metrics,
        "spans": [s.__dict__ for s in bench.tracer.spans],
    }
    path = os.path.join(OUT_DIR, f"{bench.run_id}.json")
    with open(path, "w") as f:
        json.dump(report, f)
    for name, why in {**report["errors"], **bench.failures}.items():
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)
    print(f"perfbench: {len(bench.passes)} passes, {len(samples)} query samples, "
          f"tail {report['tail']}; trace in {path}", file=sys.stderr)
    print(result_line(bench, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
