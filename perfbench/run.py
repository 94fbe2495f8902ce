"""Benchmark of the engine on this machine: a closed loop, one client.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload pipeline_sf0.1 --seed 1 --seconds 10 --trace 0

One driver process runs a workload's ops one at a time on
``local[nproc]``. A run:

1. builds the seeded inputs under ``.perfbench_work/run-<pid>/`` and looks
   up each op's expected output (DuckDB oracle, cached by SQL and table
   content under ``.perfbench_work/expect/``);
2. sets up ``SETUPS`` times: start a SparkContext and run one cold pass.
   Each new context is cold for the engine's per-application caches; the
   first also launches the JVM. ``setup_s`` is the median;
3. runs one untimed warm pass, which also checks every op's output;
4. times passes over the op list for ``--seconds`` (at least
   ``MIN_PASSES``) with every op through the noop sink or its Pipeline
   terminal; the time metrics use each op's best call;
5. with ``--trace 1``, the last context writes a Spark event log, and the
   per-layer metrics come from it (see ``tracing.py``); ops marked untimed
   run once after the timed passes, and are checked there.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The lines before it are the
environment, set-up facts and per-op / per-layer tables. Everything the
run writes lives under ``.perfbench_work/`` and the run's own directory is
removed at exit; directories of killed runs are swept at start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 2
MIN_PASSES = 3
REFERENCE_RUNS = 10
LAYGO_REFERENCE_S = 0.085  # laygo's own best for reference_workload (BASELINE.md)
MIN_FREE_BYTES = 3 << 30
# The result line's metrics. op_p50_s and reference_s are printed but not
# among them: the median op is one of the short ops, and reference_s times
# a 0.1 s job; on a shared VM both walls moved by a quarter to two thirds
# between runs of the same code, more than any bound allows.
END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("input_rows_per_s", "rows/s"),
    ("op_max_s", "s"),
    ("peak_rss_mb", "MB"),
]
PRINTED_ONLY = [("op_p50_s", "s"), ("reference_s", "s")]


_START = time.perf_counter()


def log(msg: str) -> None:
    """A report line, stamped with seconds since the run started."""
    print(f"{msg}  [{time.perf_counter() - _START:.1f}s]", flush=True)


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    return 2


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def sweep_stale() -> None:
    """Remove run directories whose process is gone (a killed run)."""
    if not os.path.isdir(WORK):
        return
    for d in os.listdir(WORK):
        if d.startswith("run-") and d[4:].isdigit() and not _alive(int(d[4:])):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure(run_dir: str) -> dict:
    """Fit the engine to this machine and keep every file it writes under
    ``run_dir``. Must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    # The engine's 48g driver default outgrows a small machine's RAM; the
    # benchmark gives the driver an eighth of it (see start_session).
    driver_gb = max(1, round(mem_total_bytes() / 2**33))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    tempfile.tempdir = tmp
    return {"nproc": cpus, "spark_driver_memory": f"{driver_gb}g"}


def cpu_times() -> list[int]:
    """The machine's CPU time in clock ticks: user, nice, system, idle,
    iowait, irq, softirq and steal (the first line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def environment(spark, since: list[int]) -> dict:
    """Environment row: machine facts, ``bench.py``'s two calibration
    probes (a JVM-only job and a Python-worker job) and ``cpu_steal``, the
    share of CPU time since ``since`` that the host gave to other guests.
    On a shared VM the time metrics rose with it."""
    import bench

    probe = bench.calibration_probe(spark)
    ticks = [b - a for a, b in zip(since, cpu_times())]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_total_bytes() >> 20,
        "free_disk_gb": round(shutil.disk_usage(ROOT).free / 2**30, 1),
        "load1": round(os.getloadavg()[0], 2),
        "cpu_steal": round(ticks[7] / max(1, sum(ticks)), 3),
        "calib_jvm_s": probe["jvm"],
        "calib_py_s": probe["py"],
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` (this driver), its children (the JVM it
    launched) and the Python processes below them (the JVM's Python daemon
    and workers). Other grandchildren are left out: a command the JVM forks
    shows the JVM's own RSS until it execs, and counting it would count the
    JVM twice."""
    kids, todo, total = _children(), [(pid, 0)], 0
    page = os.sysconf("SC_PAGE_SIZE")
    python = os.readlink("/proc/self/exe")
    while todo:
        p, depth = todo.pop()
        try:
            if depth >= 2 and os.readlink(f"/proc/{p}/exe") != python:
                continue
        except OSError:
            continue
        todo.extend((k, depth + 1) for k in kids.get(p, []))
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """The benchmark's one extra thread: samples the process tree's RSS
    from /proc while armed and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.armed = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.armed:
                self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def start_session(run_dir: str, app: str, event_log: bool):
    from laygo_python_spark import get_spark

    # The heap is committed and touched in full at JVM start. Left to grow,
    # the pages G1 touched moved the JVM's RSS by ~120 MB between runs of
    # the same code; pinned, peak_rss_mb moves with the JVM's off-heap
    # memory, the driver and the Python workers. No hsperfdata files under
    # the system temp dir.
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
            f" -Xms{heap} -XX:+AlwaysPreTouch",
    }
    if event_log:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark(app, extra_conf=conf)


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a hung JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class TemplateTimer:
    """Times ``dedup_ops._index_template``: a call that grows the template
    cache built the stored day-1 index (cold); the others copied it."""

    def __init__(self) -> None:
        from laygo_python_spark.queries import dedup_ops

        self.calls = {"cold": [0, 0.0], "warm": [0, 0.0]}
        inner = dedup_ops._index_template

        def timed(*args, **kwargs):
            n = len(dedup_ops._INDEX_TEMPLATES)
            t0 = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                kind = "cold" if len(dedup_ops._INDEX_TEMPLATES) > n else "warm"
                self.calls[kind][0] += 1
                self.calls[kind][1] += time.perf_counter() - t0

        dedup_ops._index_template = timed

    def take(self) -> str:
        out = ", ".join(f"{k} {n} calls {s:.3f}s" for k, (n, s) in self.calls.items())
        self.calls = {"cold": [0, 0.0], "warm": [0, 0.0]}
        return out


class Runner:
    """Runs passes over an op list and counts attempted and failed ops."""

    def __init__(self) -> None:
        self.checks: list[tuple] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def one_pass(self, ops_list, env, spans=None, pass_no=0, wrappers=None, expected=None):
        """Run every op once; returns (pass wall, per-op walls). With
        ``expected``, also collect and check every op's output, which
        the walls then include."""
        from perfbench import ops
        from perfbench import tracing as trace

        sc = env.spark.sparkContext
        walls = []
        p0 = time.perf_counter()
        for op in ops_list:
            if spans is not None:
                sc.setJobGroup(op.name, f"pass {pass_no}")
                persistent = len(sc._jsc.getPersistentRDDs())
                wrappers.take()
            start_ms = time.time() * 1000
            t0 = time.perf_counter()
            self.attempted += 1
            try:
                res = ops.run(op, env, want_output=expected is not None)
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
                self.failed += 1
                self.problems.append(f"{op.name}: {type(exc).__name__}: {exc}"[:300])
                res = None
            wall = time.perf_counter() - t0
            if res is not None and expected is not None:
                self.check(op.name, res.output, expected)
            walls.append((op.name, wall))
            if spans is not None and res is not None:
                facts = {"pipeline.build_s": res.build_s, "pipeline.terminal_s": res.terminal_s,
                         "pipeline.collect_rows": res.collect_rows,
                         "pins.leaked": max(0, len(sc._jsc.getPersistentRDDs()) - persistent)}
                facts.update(wrappers.take())
                facts.update(res.facts or {})
                spans.append(trace.Span(op.name, pass_no, start_ms, start_ms + wall * 1000,
                                        start_ms + res.build_s * 1000, op.name, facts))
        if spans is not None:
            sc._jsc.clearJobGroup()
        return time.perf_counter() - p0, walls

    def timed_passes(self, ops_list, env, seconds, min_passes, sampler=None, plain=None, **kw):
        """Passes until ``seconds`` have gone and at least ``min_passes``
        ran. With a ``plain`` list, each pass is followed by one without the
        per-op instrumentation in ``kw``, appended there."""
        import bench

        passes = []
        deadline = time.perf_counter() + seconds
        while len(passes) < min_passes or time.perf_counter() < deadline:
            bench.quiesce(env.spark)
            if sampler is not None:
                sampler.armed = True
            passes.append(self.one_pass(ops_list, env, pass_no=len(passes), **kw))
            if sampler is not None:
                sampler.armed = False
            if plain is not None:
                bench.quiesce(env.spark)
                plain.append(self.one_pass(ops_list, env))
        return passes

    def check(self, name: str, got: dict, expected: dict) -> None:
        from perfbench import check

        want = expected[name]
        bad = check.mismatch(got, want)
        if bad:
            self.failed += 1
            self.problems.append(f"check {name}: {bad}")
        self.checks.append((name, f"{got['rows']} rows " + ("MISMATCH" if bad else "ok"),
                            want["source"]))

    def check_only(self, ops_list, env, expected) -> dict:
        """Run and check the ops that are not timed; returns the facts
        they recorded."""
        from perfbench import ops

        facts = {}
        for op in ops_list:
            self.attempted += 1
            try:
                res = ops.run(op, env, want_output=True)
            except Exception as exc:  # noqa: BLE001 — counted as a failed op
                self.failed += 1
                self.problems.append(f"check {op.name}: {type(exc).__name__}: {exc}"[:300])
                continue
            facts.update(res.facts or {})
            self.check(op.name, res.output, expected)
        return facts


def expectations(ops_list, sf_dir: str, records: list) -> dict:
    import __spark_entry__ as entry

    from perfbench import check, ops

    oracles = entry.oracle_sql()
    exp = check.Expectations(os.path.join(WORK, "expect"), sf_dir)
    try:
        out = {}
        for op in ops_list:
            if op.kind == "query":
                out[op.name] = exp.oracle(oracles[op.name])
            elif op.kind == "index":
                out[op.name] = exp.oracle(ops.INDEX_ORACLE)
            else:
                out[op.name] = dict(ops.python_reference(op.name, records),
                                    source="python_reference")
        return out
    finally:
        exp.close()


def input_rows(ops_list, sf_dir: str) -> int:
    from perfbench import fixture

    cache: dict[str, int] = {}
    total = 0
    for op in ops_list:
        for t in op.tables:
            if t not in cache:
                cache[t] = fixture.table_rows(sf_dir, t)
            total += cache[t]
        total += op.rows
    return total


def run(args) -> int:
    from perfbench import fixture, ops
    from perfbench import tracing as trace

    run_ops = [op for op in ops.WORKLOADS[args.workload] if op.timed or args.trace]
    timed_ops = [op for op in run_ops if op.timed]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    sweep_stale()
    os.makedirs(run_dir)
    sampler = RssSampler()
    spark = None
    try:
        cpu = cpu_times()
        settings = configure(run_dir)
        if shutil.disk_usage(ROOT).free < MIN_FREE_BYTES:
            return fail(f"less than {MIN_FREE_BYTES >> 30} GiB free under {ROOT}")
        log(f"# env settings {json.dumps(settings)}")
        wrappers = None
        if args.trace:
            # Before the query modules import: they bind read_table by name.
            wrappers = trace.Wrappers()
            wrappers.install()

        records = fixture.python_records(args.seed, ops.RECORDS)
        if args.workload == "index_ingest":
            sf_dir = os.path.join(run_dir, "fixture")
            fixture.permuted_docs(fixture.SF_DIR, sf_dir, args.seed, settings["nproc"])
        else:
            sf_dir = fixture.SF_DIR
        expected = expectations(run_ops, sf_dir, records)
        rows_in = input_rows(timed_ops, sf_dir)

        import __spark_entry__ as entry

        from laygo_python_spark import session
        from laygo_python_spark.operators import dedup

        queries = entry.queries()
        templates = TemplateTimer()
        runner = Runner()
        setup_times = []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(run_dir, f"perfbench-{args.workload}-{i}",
                                  event_log=bool(args.trace) and i == SETUPS - 1)
            env = ops.Env(spark, queries, sf_dir, records, os.path.join(run_dir, "index"))
            runner.one_pass(timed_ops, env)
            setup_times.append(time.perf_counter() - t0)
            if i == 0:
                small = dedup._provably_small_input(session.read_table(spark, sf_dir, "documents"))
                log(f"# setup _provably_small_input(documents) = {small}")
                log(f"# setup _index_template: {templates.take()}")
        log(f"# setup_s runs {[round(t, 3) for t in setup_times]}")
        templates.take()

        # The JIT keeps speeding passes up after set-up; one more untimed
        # pass moves the timed ones closer to steady state. It also checks
        # every output, so no collect runs between the timed calls.
        runner.one_pass(timed_ops, env, expected=expected)
        log(f"# env start {json.dumps(environment(spark, cpu))}")
        cpu = cpu_times()
        sampler.start()
        spans = [] if args.trace else None
        plain = [] if args.trace else None
        passes = runner.timed_passes(timed_ops, env, args.seconds, MIN_PASSES, sampler,
                                     plain=plain, spans=spans, wrappers=wrappers)
        log(f"# timed _index_template: {templates.take()}")
        facts = {}
        if args.trace:
            facts = runner.check_only([op for op in run_ops if not op.timed], env, expected)
        ref = []
        for _ in range(REFERENCE_RUNS):
            t0 = time.perf_counter()
            queries["reference_workload"](spark, sf_dir).write.format("noop").mode("overwrite").save()
            ref.append(time.perf_counter() - t0)
        log(f"# env end {json.dumps(environment(spark, cpu))}")
        spark.stop()
        spark = None
        sampler.stop()

        # Each op's best call over the timed passes: a slow call (a GC
        # pause, a stolen CPU, code the JIT has not compiled yet) of one op
        # is filtered without discarding the rest of that pass.
        op_best = [min(ws[j][1] for _, ws in passes) for j in range(len(timed_ops))]
        pass_s = sum(op_best)
        e2e = {
            "setup_s": statistics.median(setup_times),
            "pass_s": pass_s,
            "input_rows_per_s": rows_in / pass_s,
            "op_p50_s": statistics.median(op_best),
            "op_max_s": max(op_best),
            "peak_rss_mb": sampler.peak / 2**20,
            # Best of the runs, as laygo's 0.085 s is its best run; the median
            # of a 0.1 s call moved by a third between runs on a shared VM.
            "reference_s": min(ref),
        }
        print_tables(args, passes, e2e, rows_in, runner)
        if args.trace:
            metrics = traced_metrics(run_dir, spans, passes, plain, facts)
        else:
            metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
        result = {"correct": runner.failed == 0, "attempted": runner.attempted,
                  "failed": runner.failed, "metrics": metrics}
    finally:
        if spark is not None:
            spark.stop()
        sampler.stop()
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def traced_metrics(run_dir, spans, passes, plain, facts) -> dict:
    """Per-layer metrics of the traced passes. ``facts`` are values an
    untimed op measured (the owned index's size), reported as is.

    ``trace.overhead_ratio`` compares the instrumented passes with the
    ``plain`` passes interleaved between them in the same context, so JIT
    warm-up does not bias it; the event log is written during both, so its
    own cost is not in the ratio."""
    from perfbench import tracing as trace

    logs = os.listdir(os.path.join(run_dir, "eventlog"))
    events = trace.read_events(os.path.join(run_dir, "eventlog", logs[0]))
    got = trace.attribute(events, spans)
    per_pass = trace.pass_metrics(spans, got["per_span"])
    med = trace.median_over_passes(per_pass)
    med.update(facts)
    overhead = statistics.median(p for p, _ in passes[1:]) / statistics.median(p for p, _ in plain)
    log("# per-layer (median over traced passes)")
    for name, unit in trace.PER_PASS:
        log(f"#   {name:40s} {med[name]:14.4f} {unit}")
    log(f"#   {'trace.overhead_ratio':40s} {overhead:14.4f} ratio")
    log(f"# job attribution by op interval vs job group: {json.dumps(got['group_check'])}")
    metrics = {name: {"value": med[name], "unit": unit} for name, unit in trace.PER_PASS}
    metrics["trace.overhead_ratio"] = {"value": overhead, "unit": "ratio"}
    return metrics


def print_tables(args, passes, e2e, rows_in, runner) -> None:
    log(f"# workload {args.workload} seed {args.seed}: {len(passes)} timed passes "
        f"{[round(p, 3) for p, _ in passes]} s, stated input rows {rows_in}")
    names = [n for n, _ in passes[0][1]]
    for j, n in enumerate(names):
        walls = [ws[j][1] for _, ws in passes]
        log(f"#   op {n:32s} median {statistics.median(walls):8.4f} s  walls {[round(w, 3) for w in walls]}")
    for name, result, source in runner.checks:
        log(f"#   check {name:29s} {result} ({source})")
    log(f"# reference_s {e2e['reference_s']:.4f} s vs laygo {LAYGO_REFERENCE_S} s")
    log(f"# fail_ratio {runner.failed / runner.attempted:.4f} "
        f"({runner.failed} failed / {runner.attempted} attempted)")
    for p in runner.problems[:20]:
        log(f"#   problem {p}")
    units = dict(END_TO_END + PRINTED_ONLY)
    for name, value in e2e.items():
        log(f"# {name:20s} {value:14.4f} {units[name]}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "laygo_python_spark"))):
        return fail(f"no engine checkout at {ROOT}: run from the repository root")
    # Import from the checkout root, not this script's directory, whose
    # module names would shadow others.
    sys.path[0] = ROOT
    from perfbench import ops

    if args.workload not in ops.WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; one of {sorted(ops.WORKLOADS)}")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
