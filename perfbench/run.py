"""Benchmark entry point: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run installs the tracing wrappers and reports the per-layer ones. See
README.md next to this file for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "postgresql_transfer_tool_spark"
#: where a traced run writes its spans, one JSON object per line
TRACE_DIR = os.path.join(HERE, ".traces")

#: untimed passes before the measured window (see README.md: warm-up)
WARMUP_PASSES = 1
#: the measured window has at least this many passes: the median and the
#: tail then rest on several samples of every op type, and a run's figures
#: do not hang on its first measured op, which is still warming up
MIN_PASSES = 3
#: the tail percentile is the highest one with at least this many
#: samples beyond it
TAIL_SAMPLES = 10


def parse_args(argv):
    from perfbench.config import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_session():
    from postgresql_transfer_tool_spark.session import get_spark

    spark = get_spark("perfbench", cpus=os.cpu_count() or 4)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the SparkContext and the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception as exc:  # still shut the gateway down below
        print(f"perfbench: stopping Spark failed: {exc}", file=sys.stderr)
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus that of the Spark JVM."""
    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    py, jvm = hwm("self"), hwm(jvm_pid)
    print(f"perfbench: peak rss python {py:.1f} MB, jvm {jvm:.1f} MB", file=sys.stderr)
    return py + jvm


# ---------------------------------------------------------------------------
# measurement
# ---------------------------------------------------------------------------


class Probe:
    """Per-op Spark attribution for the traced run: the job and stage id
    ranges of each phase, and the stage metrics of the op's execution
    window (``collect`` for queries, ``run`` for pipelines)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.phases: dict[str, dict] = {}
        self.window: dict | None = None
        self.stages: dict[str, float] = {}

    def phase(self, name: str, fn):
        from perfbench.trace import dag_ids

        j0, s0 = dag_ids(self.spark)
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        j1, s1 = dag_ids(self.spark)
        self.phases[name] = {"s": dt, "jobs": j1 - j0, "stages": (s0, s1)}
        return out

    def finish(self) -> None:
        """Read the window's stages now: the status store keeps only the
        most recent ones."""
        from perfbench.trace import stage_metrics

        self.window = self.phases.get("collect") or self.phases.get("run")
        if self.window is not None:
            self.stages = stage_metrics(self.spark, *self.window["stages"])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class Loop:
    """Closed loop over passes of the workload's ops in seeded order."""

    def __init__(self, wl, spark, rng, tracer=None) -> None:
        self.wl, self.spark, self.rng, self.tracer = wl, spark, rng, tracer
        self.lat: list[float] = []
        self.by_op: dict[str, list[float]] = {}
        self.attempted = 0
        self.rows = 0
        self.failures: dict[str, list[str]] = {}
        self.busy = 0.0
        self.probes: list[Probe] = []
        self.pass_s: list[float] = []
        #: per pass, the share of the host's CPU time the hypervisor gave
        #: to other guests (a diagnostic for slow runs)
        self.steal: list[float] = []

    def one_pass(self) -> float:
        order = self.wl.pass_order(self.rng)
        steal0, total0 = cpu_ticks()
        t_pass = time.perf_counter()
        checking = 0.0
        self.wl.begin_pass()
        for op in order:
            probe = None
            if self.tracer is not None:
                self.tracer.op_id = self.attempted
                probe = Probe(self.spark)
            t0 = time.perf_counter()
            try:
                out, err = self.wl.run(self.spark, op, self.tracer, probe), None
            except Exception as exc:  # a failed op is counted, not fatal
                out, err = None, f"{type(exc).__name__}: {exc}"
                if op not in self.failures:
                    traceback.print_exc(file=sys.stderr)
            t1 = time.perf_counter()
            if probe is not None:
                probe.finish()
                self.probes.append(probe)
            if err is None:
                if self.tracer is not None:
                    self.tracer.recording = False
                try:
                    err = self.wl.check(op, out)
                except Exception as exc:
                    err = f"check raised {type(exc).__name__}: {exc}"
                finally:
                    if self.tracer is not None:
                        self.tracer.recording = True
            checking += time.perf_counter() - t1
            self.attempted += 1
            self.lat.append(t1 - t0)
            self.by_op.setdefault(op, []).append(t1 - t0)
            if err is None:
                self.rows += out.rows
            else:
                self.failures.setdefault(op, []).append(err)
        dt = time.perf_counter() - t_pass - checking
        steal1, total1 = cpu_ticks()
        self.steal.append((steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0)
        self.busy += dt
        self.pass_s.append(dt)
        return dt

    def run_for(self, seconds: float) -> None:
        """Whole passes until ``seconds`` of op time have been measured,
        in at least MIN_PASSES passes (or until a pass in which every op
        failed)."""
        while self.busy < seconds or len(self.pass_s) < MIN_PASSES:
            failed = self.failed
            self.one_pass()
            if self.failed - failed == len(self.wl.ops):
                break

    @property
    def failed(self) -> int:
        return sum(len(v) for v in self.failures.values())


def warm_up(wl, spark, rng) -> tuple[float, list[float]]:
    """WARMUP_PASSES passes, so each op's first call (class loading,
    code generation) falls outside the measured window."""
    loop = Loop(wl, spark, rng)
    t0 = time.perf_counter()
    for _ in range(WARMUP_PASSES):
        loop.one_pass()
    for op, errs in sorted(loop.failures.items()):
        print(f"perfbench: warm-up FAILED {op}: {errs[0]}", file=sys.stderr)
    return time.perf_counter() - t0, loop.pass_s


def tail(lat: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least
    TAIL_SAMPLES samples beyond it (linear interpolation between order
    statistics), or the maximum when a run has no more samples than that."""
    n = len(lat)
    q = 100.0 * (n - TAIL_SAMPLES) / n if n > TAIL_SAMPLES else 100.0
    s = sorted(lat)
    pos = (n - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return q, s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------


def layer_metrics(tracer, loop: Loop, spark, session_start_s: float,
                  overhead: float) -> dict[str, tuple[float, str]]:
    ops = max(1, loop.attempted)
    cores = spark.sparkContext.defaultParallelism
    ex = {"jobs": 0, "window_s": 0.0, "collect_s": 0.0}
    st_tot: dict[str, float] = {}
    build_jobs = 0
    for p in loop.probes:
        build_jobs += p.phases.get("build", {}).get("jobs", 0)
        win = p.window
        if win is None:  # the op raised before its window closed
            continue
        ex["jobs"] += win["jobs"]
        ex["window_s"] += win["s"]
        if "collect" in p.phases:
            ex["collect_s"] += win["s"]
        for k, v in p.stages.items():
            st_tot[k] = st_tot.get(k, 0.0) + v
    g = st_tot.get
    run_s = g("executorRunTime", 0.0) / 1000.0
    lookups = tracer.by_name("memo.get")
    hits = sum(1 for s in lookups if not s.result_none)
    transfer_rows = loop.rows if loop.wl.pipeline else 0

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_start_s, "s"),
        "catalog.load_table_calls": (tracer.count("load_table") / ops, "count"),
        "catalog.load_table_s": (tracer.total("load_table") / ops, "s"),
        "operators.build_s": (tracer.total("build") / ops, "s"),
        "operators.build_jobs": (build_jobs / ops, "count"),
        "memo.lookups": (len(lookups) / ops, "count"),
        "memo.hits": (hits / ops, "count"),
        "memo.hit_ratio": (hits / len(lookups) if lookups else 0.0, "ratio"),
        "memo.puts": (tracer.count("memo.put") / ops, "count"),
        "catalyst.plan_s": (tracer.total("plan") / ops, "s"),
        "exec.collect_s": (ex["collect_s"] / ops, "s"),
        "exec.jobs": (ex["jobs"] / ops, "count"),
        "exec.stages": (g("stages", 0) / ops, "count"),
        "exec.tasks": (g("numCompleteTasks", 0) / ops, "count"),
        "exec.input_bytes": (g("inputBytes", 0) / ops, "bytes"),
        "exec.shuffle_read_bytes": (g("shuffleReadBytes", 0) / ops, "bytes"),
        "exec.shuffle_write_bytes": (g("shuffleWriteBytes", 0) / ops, "bytes"),
        "exec.spill_bytes": ((g("memoryBytesSpilled", 0) + g("diskBytesSpilled", 0)) / ops,
                             "bytes"),
        "exec.executor_run_s": (run_s / ops, "s"),
        "exec.result_rows": ((loop.rows - transfer_rows) / ops, "count"),
        "exec.core_util": (run_s / (ex["window_s"] * cores) if ex["window_s"] else 0.0, "ratio"),
        "exec.gc_s": (g("jvmGcTime", 0.0) / 1000.0 / ops, "s"),
        "transfer.run_s": (tracer.total("run") / ops, "s"),
        "transfer.audit_calls": (tracer.count("audit_primary_key", "audit_unique", "audit_check",
                                              "audit_fk_orphans") / ops, "count"),
        "transfer.audit_s": (tracer.total("audit_primary_key", "audit_unique", "audit_check",
                                          "audit_fk_orphans") / ops, "s"),
        "transfer.output_rows": (transfer_rows / ops, "count"),
        "transfer.output_bytes": (g("outputBytes", 0) / ops, "bytes"),
        "transfer.write_stage_run_s": (g("write_stage_run_ms", 0.0) / 1000.0 / ops, "s"),
        "pgcopy.psql_calls": (tracer.count("run_sql", "copy_query_out", "copy_in") / ops, "count"),
        "pgcopy.copy_out_s": (tracer.total("copy_query_out") / ops, "s"),
        "pgcopy.copy_in_s": (tracer.total("copy_in") / ops, "s"),
        "pgcopy.read_s": (tracer.total("read_table", "read_table_partitioned") / ops, "s"),
        "pgcopy.write_s": (tracer.total("write_table") / ops, "s"),
        "pg_transfer.reflect_s": (tracer.total("reflect_pg_catalog") / ops, "s"),
    }
    self_t = tracer.self_times()
    for layer in ("operators", "catalog", "memo", "catalyst", "exec", "transfer",
                  "pgcopy", "pg_transfer"):
        m[f"self.{layer}_s"] = (self_t.get(layer, 0.0) / ops, "s")
    m["trace.spans"] = (len(tracer.spans) / ops, "count")
    m["trace.overhead_ratio"] = (overhead, "ratio")
    return m


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def bench(args, work: str) -> dict:
    from perfbench.config import WORKLOADS

    wl = WORKLOADS[args.workload]()
    rng = random.Random(args.seed)
    t_setup = time.perf_counter()
    spark = None
    try:
        wl.environment(work)
        env_s = time.perf_counter() - t_setup
        t0 = time.perf_counter()
        spark = start_session()
        session_start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        warm_s, warm_passes = warm_up(wl, spark, rng)
        setup_s = env_s + session_start_s + prepare_s + warm_s
        print(f"perfbench: setup env {env_s:.3f}s session {session_start_s:.3f}s "
              f"prepare {prepare_s:.3f}s warm-up passes "
              f"{[round(p, 3) for p in warm_passes]}", file=sys.stderr)

        if args.trace:
            from perfbench.trace import Tracer

            # untraced and traced passes in ABBA order, at least two pairs,
            # so that the JIT warm-up trend cancels out of the overhead
            base, tracer = Loop(wl, spark, rng), Tracer()
            loop = Loop(wl, spark, rng, tracer)
            pair = 0
            while pair < 2 or base.busy + loop.busy < args.seconds:
                for traced in ((False, True) if pair % 2 == 0 else (True, False)):
                    if not traced:
                        base.one_pass()
                        continue
                    tracer.install()
                    try:
                        loop.one_pass()
                    finally:
                        tracer.uninstall()
                pair += 1
            overhead = (loop.busy / loop.attempted) / (base.busy / base.attempted) - 1.0
            metrics = layer_metrics(tracer, loop, spark, session_start_s, overhead)
            os.makedirs(TRACE_DIR, exist_ok=True)
            spans = os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(spans)
            print(f"perfbench: {len(tracer.spans)} spans written to {os.path.relpath(spans, ROOT)}")
            attempted = base.attempted + loop.attempted
            failed = base.failed + loop.failed
            failures = {**base.failures, **loop.failures}
        else:
            loop = Loop(wl, spark, rng)
            loop.run_for(args.seconds)
            q, tail_s = tail(loop.lat)
            metrics = {
                "setup_s": (setup_s, "s"),
                "latency_p50_s": (statistics.median(loop.lat), "s"),
                "latency_tail_s": (tail_s, "s"),
                "throughput_ops_per_s": ((loop.attempted - loop.failed) / loop.busy, "1/s"),
                "rows_per_s": (loop.rows / loop.busy, "1/s"),
                "peak_rss_mb": (peak_rss_mb(spark), "MB"),
            }
            attempted, failed, failures = loop.attempted, loop.failed, loop.failures
            print(f"perfbench: {args.workload} seed={args.seed} ops={loop.attempted} "
                  f"passes={len(loop.pass_s)} measured={loop.busy:.3f}s "
                  f"latency_tail_s=p{q:.1f} over {len(loop.lat)} samples "
                  f"failed_ratio={failed / max(1, attempted):.4f} "
                  f"steal={[round(x, 3) for x in loop.steal]}")
    finally:
        try:
            wl.close()
        finally:
            if spark is not None:
                stop_jvm(spark)

    for op, lat in sorted(loop.by_op.items()):
        print(f"perfbench: op {op} median {statistics.median(lat):.4f}s over {len(lat)}")
    for op, errs in sorted(failures.items()):
        print(f"perfbench: FAILED {op} x{len(errs)}: {errs[0]}")
    for name, (v, unit) in metrics.items():
        print(f"perfbench: {name} = {v:.6g} {unit}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the engine package {PACKAGE}/ is not next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    # a terminated run still stops its JVM and PostgreSQL server
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    import tempfile

    # the PostgreSQL server's fallback data directory (see pgserver.py)
    os.environ["PERFBENCH_SYSTEM_TMP"] = tempfile.gettempdir()
    # keep every temporary file of Python, the JVM and Spark inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    # -XX:-UsePerfData: no hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a fixed 1g driver heap, not the engine's 8g default: at 8g the JVM
    # grows its heap by a different amount in every run, and peak_rss_mb
    # spreads past its bound (README.md: Driver heap)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    tempfile.tempdir = tmp
    try:
        result = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
