#!/usr/bin/env python3
"""Closed-loop benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload llm_dedup_sim --seed 1 --seconds 12 --trace 0

One client thread issues the workload's ops one after another on a
``local[nproc/2]`` session over the parquet inputs in ``perfbench/data``,
with a fixed 2 GB driver heap touched in full at JVM start. A run is:

1. set-up in a new JVM, then one cold pass and one unreported warm-up
   pass, which warm the JIT and Spark's code cache;
2. twice: stop the session and build a fresh one in the same JVM (set-up
   again), and run one first pass on it, which pays the session's
   first-touch artifact builds;
3. the warm passes, in the last session.

The warm passes are as many as fit in ``--seconds`` at the workload's
nominal warm pass time. The seed shuffles the op order of every pass.
Every op's output is checked outside its timed region (see workloads.py).

With ``--trace 0`` the last stdout line is a JSON object carrying the
end-to-end metrics that BENCHMARK.json gates; cold_pass_s, op_p50_s,
peak_rss_mb and error_rate are printed on the lines above it. With
``--trace 1`` the JSON carries the per-layer metrics, derived from spans
(tracing.py) that are also written, at exit, to
``perfbench/_run/<workload>-s<seed>-t1/spans.jsonl``. Spark's own log
and progress output goes to ``spark.log`` in the same directory.

Exit status: 0 when every op ran and matched its oracle; 1 when an op
failed or mismatched (the result line still prints, with
``"correct": false``); 2 when the session itself could not be built or
died, with no result line.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from typing import Any, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.tracing import SparkCounters, Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, Context, check_query  # noqa: E402

DATA_DIR = os.path.join(HERE, "data", "sf0.01")
# Sessions built after the cold pass, each timed on its first pass.
FRESH_SESSIONS = 2
TAIL_PERCENTILE = 75


class SessionFailure(RuntimeError):
    """The Spark session could not be built or stopped answering."""


def parse_args(argv: Optional[list[str]] = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def redirect_output(log_path: str):
    """Point fds 1 and 2 (inherited by the JVM and Python workers) at a
    log file; return private handles on the original stdout and stderr."""
    sys.stdout.flush()
    sys.stderr.flush()
    out = os.fdopen(os.dup(1), "w", buffering=1)
    err = os.fdopen(os.dup(2), "w", buffering=1)
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 1)
    os.dup2(fd, 2)
    os.close(fd)
    return out, err


def isolate_environment(work_dir: str) -> None:
    """Keep every temporary file of the run inside the checkout."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {java_opts}".strip()
    # A fixed heap, touched in full at JVM start. Left to grow, the heap
    # spreads into fresh pages over the first passes, and their page
    # faults slow those passes by varying amounts.
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{heap} -XX:+AlwaysPreTouch' pyspark-shell"
    )
    # Spark gets half the cores; the JIT, the GC and the Python workers
    # get the rest, so a run does not time an oversubscribed scheduler.
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    tempfile.tempdir = None


def rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def percentile(samples: list[float], q: int) -> float:
    return statistics.quantiles(samples, n=100, method="inclusive")[q - 1]


class Runner:
    def __init__(self, args: argparse.Namespace, workload, work_dir: str, out) -> None:
        self.args = args
        self.wl = workload
        self.work_dir = work_dir
        self.out = out
        self.traced = bool(args.trace)
        self.spark = None
        self.retired: list[Any] = []  # stopped sessions; kept so no id() is reused
        self.setups: list[dict[str, float]] = []
        self.passes: list[dict[str, Any]] = []
        self.failures: dict[str, str] = {}
        self.notes: dict[str, str] = {}
        self.info: dict[str, tuple[float, str]] = {}  # printed, not gated
        self.attempted = 0
        self.failed = 0

    def say(self, line: str) -> None:
        self.out.write(line + "\n")

    # -- set-up ------------------------------------------------------------

    def set_up(self) -> None:
        t0 = time.perf_counter()
        from data_pipeline_etl_spark.registry import QUERIES, load_all_operators

        load_all_operators()
        self.import_s = time.perf_counter() - t0
        self.queries = QUERIES
        self.tracer = Tracer()
        if self.traced:
            self.tracer.wrap()
        out_dir = os.path.join(self.work_dir, "out")
        os.makedirs(out_dir)
        self.ctx = Context(DATA_DIR, out_dir, self.tracer)

    def new_session(self) -> None:
        """Stop the current session, if any, and time building a new one
        in the same JVM and caching the workload's base tables in it."""
        from data_pipeline_etl_spark.session import get_spark
        from data_pipeline_etl_spark.sources.tables import table

        if self.spark is not None:
            self.spark.stop()
            self.retired.append(self.spark)
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        for name in self.wl.tables:
            table(self.spark, DATA_DIR, name).cache().count()
        t2 = time.perf_counter()
        self.setups.append({"start_s": t1 - t0, "cache_s": t2 - t1})
        # The Arrow transfer path bench.py and real consumers use.
        self.spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.counters = SparkCounters(self.spark) if self.traced else None
        self.ctx.spark = self.spark

    def alive(self) -> bool:
        try:
            return not self.spark.sparkContext._jsc.sc().isStopped()
        except Exception:  # the py4j gateway itself is gone
            return False

    # -- one op ------------------------------------------------------------

    def run_op(self, op, op_id: int, stats: dict[str, Any]) -> None:
        tr = self.tracer
        tr.op_id = op_id
        group = f"perfbench-{op_id}"
        build = result = op_span = None
        self.attempted += 1
        error = None
        t0 = time.perf_counter()
        try:
            with tr.span(f"op:{op.name}") as op_span:
                if tr.on:
                    self.counters.set_group(f"{group}-build")
                if op.is_query:
                    with tr.span("operators.build") as build:
                        df = self.queries[op.name](self.spark, DATA_DIR)
                    if tr.on:
                        self.counters.set_group(f"{group}-exec")
                        with tr.span("operators.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("operators.exec"):
                        result = df.toPandas()
                else:
                    result = op.run(self.ctx)
            elapsed = time.perf_counter() - t0
        except Exception as exc:  # an op failure is counted, not fatal
            elapsed = time.perf_counter() - t0
            error = f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"
            traceback.print_exc()  # to spark.log
        finally:
            if tr.on:
                self.counters.set_group(None)
        if tr.on:
            op_span.update(self.record_layers(op, build, f"{group}-exec", result, stats))
        if error is None:
            try:
                error = check_query(self.ctx, op.name, result) if op.is_query else op.check(self.ctx, result)
            except Exception as exc:
                error = f"check raised {type(exc).__name__}: {exc}"
            if tr.on:
                self.counters.take()  # jobs the check launched belong to no op
        stats["op_s"].append((op.name, elapsed))
        if error is not None:
            self.failed += 1
            self.failures.setdefault(op.name, error)
            if not self.alive():
                raise SessionFailure(f"session died during {op.name}: {error}")

    def record_layers(self, op, build, exec_group, result, stats) -> dict[str, int]:
        """Add the op just run to the pass's per-layer sums; return its
        Spark counters (traced passes only)."""
        c = self.counters.take(exec_group)
        for k, v in c.items():
            stats[k] += v
        spans = [s for s in self.tracer.spans if s["op"] == self.tracer.op_id]
        dur = {}
        for s in spans:
            dur[s["name"]] = dur.get(s["name"], 0.0) + s["end"] - s["start"]
        # A nested build counts as a build of its own, but its time is
        # counted once, inside the build call of the op that touched it.
        builds = sum(s["name"] == "materialized.build" for s in spans)
        if builds:
            stats["first_touch_builds"] += builds
            stats["first_touch_s"] += dur.get("operators.build", 0.0)
        if build is not None:
            stats["build_s"] += self.tracer.self_time(build)
        stats["plan_s"] += dur.get("operators.plan", 0.0)
        stats["exec_s"] += dur.get("operators.exec", 0.0)
        if op.layer == "streaming":
            stats["drain_s"] += dur.get("operators.build", 0.0)
            stats["drain_jobs"] += c["build_jobs"]
        stats["text_s"] += dur.get("pipeline.run_text_pipeline", 0.0)
        stats["write_s"] += sum(v for k, v in dur.items() if k.startswith(("sinks.write", "sinks.roundtrip")))
        if op.layer == "sinks":
            for dirpath, _, files in os.walk(self.ctx.out(op.name)):
                for f in files:
                    if not f.startswith((".", "_")):
                        stats["files_written"] += 1
                        stats["bytes_written"] += os.path.getsize(os.path.join(dirpath, f))
        if result is not None and hasattr(result, "memory_usage"):
            stats["result_rows"] += len(result)
            stats["result_mb"] += result.memory_usage(deep=True).sum() / 1e6
        return c

    # -- passes ------------------------------------------------------------

    def run_pass(self, number: int, kind: str, traced: bool, rng: random.Random) -> None:
        order = rng.sample(self.wl.ops, len(self.wl.ops))
        self.say(f"pass {number + 1} ({kind}) order: {','.join(op.name for op in order)}")
        self.tracer.on = traced
        stats: dict[str, Any] = {"op_s": [], "kind": kind, "traced": traced}
        for key in LAYER_SUMS:
            stats[key] = 0
        if traced:
            self.counters.take()  # jobs of an untraced pass belong to no op
        if self.counters:
            gc0 = self.counters.gc_seconds()
        for i, op in enumerate(order):
            self.run_op(op, number * 1000 + i, stats)
        self.tracer.on = False
        if self.counters:
            stats["gc_s"] = self.counters.gc_seconds() - gc0
            stats["persistent_rdds"] = self.counters.persistent_rdds()
        stats["pass_s"] = sum(t for _, t in stats["op_s"])
        self.passes.append(stats)

    def measure(self) -> None:
        """The cold pass, on the JVM's first session, and one unreported
        warm-up pass after it warm the JIT and Spark's code cache. Then
        each fresh session runs one first pass, which pays every
        first-touch cost of a new session in a warmed JVM. The warm passes
        follow in the last session: pass times keep falling, by less and
        less, for as long as a run lasts, and the later passes are the
        steadier."""
        rng = random.Random(self.args.seed)
        n_warm = self.wl.warm_passes(self.args.seconds)
        # A traced run traces the cold and first passes and half of at
        # least four warm passes, in the order untraced, traced, traced,
        # untraced, ... so that the warm-up trend cancels out of the
        # tracing overhead.
        warm_traced = [False] * n_warm
        if self.traced:
            n_warm = 4 * -(-n_warm // 4)
            warm_traced = [i % 4 in (1, 2) for i in range(n_warm)]
        self.new_session()
        self.run_pass(0, "cold", self.traced, rng)
        self.run_pass(1, "warm-up", False, rng)
        for _ in range(FRESH_SESSIONS):
            self.new_session()
            self.run_pass(len(self.passes), "first", self.traced, rng)
        for traced in warm_traced:
            self.run_pass(len(self.passes), "warm", traced, rng)

    def kind(self, kind: str) -> list[dict[str, Any]]:
        return [p for p in self.passes if p["kind"] == kind]

    # -- results -----------------------------------------------------------

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        warm = self.kind("warm")
        warm_s = [p["pass_s"] for p in warm]
        firsts = [p["pass_s"] for p in self.kind("first")]
        samples = sorted(t for p in warm for _, t in p["op_s"])
        tail = percentile(samples, TAIL_PERCENTILE)
        setup = [s["start_s"] + s["cache_s"] for s in self.setups]
        # Printed but not gated in BENCHMARK.json: the cold pass is one
        # sample of JIT warm-up in a new JVM; across seeds the median of
        # this small op mix jumps between neighbouring ops; and the peak
        # RSS is mostly the fixed heap, touched in full at JVM start.
        self.info = {
            "cold_pass_s": (self.kind("cold")[0]["pass_s"], "s"),
            "op_p50_s": (statistics.median(samples), "s"),
            "peak_rss_mb": (rss_mb(os.getpid()) + rss_mb(self.jvm_pid), "MB"),
        }
        self.notes = {
            "setup_s": f"import {self.import_s:.3f} s + median of {len(setup)} session+cache "
            f"set-ups ({', '.join(f'{t:.3f}' for t in setup)}), the first in a new JVM",
            "first_pass_s": f"median of {len(firsts)} fresh sessions' first passes "
            f"({', '.join(f'{t:.3f}' for t in firsts)})",
            "warm_pass_s": f"median of {len(warm)} warm passes "
            f"({', '.join(f'{t:.3f}' for t in warm_s)})",
            "op_tail_s": f"p{TAIL_PERCENTILE} of n={len(samples)} warm op samples, "
            f"{sum(t > tail for t in samples)} beyond it",
            "cold_pass_s": "pass 1, in the new JVM's first session",
            "peak_rss_mb": "benchmark process + JVM, VmHWM",
        }
        return {
            "setup_s": (self.import_s + statistics.median(setup), "s"),
            "first_pass_s": (statistics.median(firsts), "s"),
            "warm_pass_s": (statistics.median(warm_s), "s"),
            "op_tail_s": (tail, "s"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        cold, warm, firsts = self.kind("cold")[0], self.kind("warm"), self.kind("first")
        warm_t = [p for p in warm if p["traced"]]
        warm_u = [p for p in warm if not p["traced"]]

        def med(key, passes=warm_t):
            return statistics.median(p[key] for p in passes)

        stages = sum(p["stages"] for p in warm_t)
        # The warm passes follow the last first pass, in its session.
        rdds = [p["persistent_rdds"] for p in firsts[-1:] + warm]
        return {
            "session.cold_start_s": (self.setups[0]["start_s"], "s"),
            "session.cold_pass_s": (cold["pass_s"], "s"),
            "session.start_s": (statistics.median(s["start_s"] for s in self.setups), "s"),
            "sources.cache_s": (statistics.median(s["cache_s"] for s in self.setups), "s"),
            "operators.build_s": (med("build_s"), "s"),
            "operators.plan_s": (med("plan_s"), "s"),
            "operators.exec_s": (med("exec_s"), "s"),
            "operators.build_jobs": (med("build_jobs"), "count"),
            "operators.jobs": (med("jobs"), "count"),
            "operators.first_pass_jobs": (med("jobs", firsts), "count"),
            "operators.stages": (med("stages"), "count"),
            "operators.tasks": (med("tasks"), "count"),
            "operators.serial_stage_ratio": (
                sum(p["serial_stages"] for p in warm_t) / stages if stages else 0.0,
                "ratio",
            ),
            "operators.failed_tasks": (sum(p["failed_tasks"] for p in self.passes if p["traced"]), "count"),
            "operators.result_rows": (med("result_rows"), "count"),
            "operators.result_mb": (med("result_mb"), "MB"),
            "materialized.first_touch_builds": (med("first_touch_builds", firsts), "count"),
            "materialized.first_touch_s": (med("first_touch_s", firsts), "s"),
            "materialized.warm_builds": (sum(p["first_touch_builds"] for p in warm_t), "count"),
            "checkpoints.persistent_rdds": (rdds[-1], "count"),
            "checkpoints.rdd_growth_per_pass": ((rdds[-1] - rdds[0]) / (len(rdds) - 1), "count"),
            "streaming.drain_s": (med("drain_s"), "s"),
            "streaming.drain_jobs": (med("drain_jobs"), "count"),
            "pipeline.text_s": (med("text_s"), "s"),
            "sinks.write_s": (med("write_s"), "s"),
            "sinks.bytes_written": (med("bytes_written"), "bytes"),
            "sinks.files_written": (med("files_written"), "count"),
            "jvm.gc_s": (med("gc_s"), "s"),
            "trace.overhead_s": (med("pass_s") - med("pass_s", warm_u), "s"),
        }

    def stop(self) -> None:
        """Stop the session, the JVM and its Python workers, and wait."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                traceback.print_exc()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        children = _descendants(proc.pid)
        try:
            gateway.shutdown()
        except Exception:
            traceback.print_exc()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
        _wait_gone(children)
        SparkContext._gateway = None
        SparkContext._jvm = None


LAYER_SUMS = (
    "jobs", "build_jobs", "stages", "tasks", "failed_tasks", "serial_stages",
    "build_s", "plan_s", "exec_s", "first_touch_builds", "first_touch_s",
    "drain_s", "drain_jobs", "text_s", "write_s", "bytes_written",
    "files_written", "result_rows", "result_mb", "gc_s", "persistent_rdds",
)


def _descendants(pid: int) -> list[int]:
    found, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    kids = [int(k) for k in f.read().split()]
                found += kids
                todo += kids
        except OSError:
            continue
    return found


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def main(argv: Optional[list[str]] = None) -> int:
    args = parse_args(argv)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.chdir(ROOT)  # ops run from the repo root, as bench.py does
    run_dir = os.path.join(HERE, "_run", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work_dir = os.path.join(run_dir, "work")
    os.makedirs(work_dir)
    isolate_environment(work_dir)
    out, err = redirect_output(os.path.join(run_dir, "spark.log"))
    runner = Runner(args, WORKLOADS[args.workload], work_dir, out)
    runner.say(
        f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
        f"cwd={os.getcwd()} cpus={os.environ['SPARK_GRAFT_CPUS']} data={os.path.relpath(DATA_DIR)}"
    )
    try:
        runner.set_up()
        runner.measure()
        metrics = runner.per_layer() if args.trace else runner.end_to_end()
    except Exception as exc:
        traceback.print_exc()
        err.write(f"perfbench: session-level failure: {type(exc).__name__}: {exc}\n")
        err.write(f"perfbench: see {os.path.join(run_dir, 'spark.log')}\n")
        return 2
    finally:
        with open(os.path.join(run_dir, "passes.json"), "w") as f:
            op_times = [{k: p[k] for k in ("kind", "traced", "op_s")} for p in runner.passes]
            json.dump(op_times, f, indent=1)
        if args.trace and hasattr(runner, "tracer"):
            runner.tracer.dump(os.path.join(run_dir, "spans.jsonl"))
        runner.stop()
        shutil.rmtree(work_dir, ignore_errors=True)
    for name, (value, unit) in {**metrics, **runner.info}.items():
        note = runner.notes.get(name)
        runner.say(f"{name} {value:.6g} {unit}" + (f"  ({note})" if note else ""))
    runner.say(
        f"error_rate {runner.failed / runner.attempted:.6g}  "
        f"({runner.failed} of {runner.attempted} ops failed or mismatched)"
    )
    for name, why in sorted(runner.failures.items()):
        runner.say(f"FAILED {name}: {why}")
    correct = runner.failed == 0
    runner.say(
        json.dumps(
            {
                "correct": correct,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
