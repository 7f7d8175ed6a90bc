#!/usr/bin/env python3
"""Benchmark of the validation engine: one workload per invocation.

    python3 perfbench/run.py --workload tokens_flagship --seed 1 --seconds 8 --trace 0

One driver process and Spark local[nproc], one client submitting jobs one
after another (a closed loop).  The input is generated from --seed and
cached before any timing; an oracle computes the expected outputs once,
untimed.  After WARMUP_OPS unmeasured warm-up runs, the workload's complete
validation (every output forced) repeats for --seconds, then its pass/fail verdict
repeats for VERDICT_S; every action is checked against the oracle through
DataFrame.observe.  Metrics are medians.

--trace 0 prints the end-to-end metrics; --trace 1 additionally tags jobs
by layer, keeps spans, writes a Spark event log, runs one isolated call per
layer, and prints the per-layer table.  The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}.  See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"
ENGINE = ROOT / "json_schema_modern_spark" / "__init__.py"

SETUP_REPEATS = 3      # open + compile repeats inside set-up; the median counts
MIN_OPS = 2            # complete validations per untraced run, even past --seconds
WARMUP_VERDICT_S = 1.0 # unmeasured verdicts before each kind switch: at least one, this long
WARMUP_OPS = 1         # unmeasured complete validations inside set-up
VERDICT_S = 3.0        # measured verdicts run for this long ...
MIN_VERDICTS = 5       # ... and at least this many times

END_TO_END_UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "verdict_s": "s",
                    "peak_rss_mb": "MB"}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate_environment() -> None:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(CACHE / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python workers import the engine too, whatever directory they start in
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)


def _start_spark(cpus: int, event_dir: Path | None):
    from json_schema_modern_spark import get_spark

    tmp = CACHE / "tmp"
    conf = {
        # a 2 GB heap (the engine defaults to 16 GB) keeps the benchmark's
        # memory small on a shared host; peak_rss_mb is measured under it
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(CACHE / "spark-local"),
        "spark.sql.warehouse.dir": str(CACHE / "warehouse"),
        # C1 only: with C2 the times keep falling for several operations
        # after the first, so a run's medians depend on how far the JIT got
        # (see README.md); end-to-end figures are C1 figures.  C1 alone
        # reserves a 48 MB code cache, which a flagship run fills by its
        # third validation, after which the JVM compiles nothing more; the
        # tiered default of 240 MB keeps the compiler on for the whole run
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData "
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{event_dir}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark(app_name="perfbench", master=f"local[{cpus}]",
                     shuffle_partitions=cpus, extra_conf=conf)


def _parents() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                stat = Path(f"/proc/{entry}/stat").read_text(encoding="utf-8")
            except OSError:
                continue
            out[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def _descendants(root: int | None = None) -> set[int]:
    """Every process below `root` (default: this one), such as the JVM, the
    Python workers it starts and the multiprocessing helpers."""
    parents = _parents()
    found, frontier = set(), [os.getpid() if root is None else root]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, p in parents.items() if p == pid and c not in found]
        found.update(kids)
        frontier += kids
    return found


def _alive(pid: int) -> bool:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text(encoding="utf-8")
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"  # a zombie has ended


def _end(pids: set[int], grace_s: float) -> None:
    """Wait for `pids` to end, then SIGTERM and at last SIGKILL the ones
    left; return only when none is alive.  Reaps the ones that are our
    own children."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for pid in pids:
            if sig is not None and _alive(pid):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        until = time.monotonic() + wait_s
        while True:
            for pid in pids:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:  # not ours, or already reaped
                    pass
            pids = {p for p in pids if _alive(p)}
            if not pids or time.monotonic() > until:
                break
            time.sleep(0.05)
        if not pids:
            return


def _stop_spark(spark) -> None:
    """Stop the session and its JVM and wait until both, and every Python
    worker the JVM started, have ended.  spark.stop() alone leaves the JVM
    running until this process exits."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        jvm_tree = {proc.pid} | _descendants(proc.pid) if proc is not None else set()
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # the JVM may already be going
                pass
        if proc is not None:
            # the JVM exits when its stdin reaches end of file
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                pass
        _end(jvm_tree, grace_s=5.0)


def _end_all_processes() -> None:
    """Last step on every path out: stop multiprocessing's resource tracker
    (the host stamp's pools start it; it ignores SIGTERM and would outlive
    this process) and end whatever else this process started."""
    from multiprocessing import resource_tracker

    try:
        resource_tracker._resource_tracker._stop()
    except Exception:
        pass
    _end(_descendants(), grace_s=10.0)


def _median(xs):
    return statistics.median(xs) if xs else None


def _unmeasured_verdicts(w) -> None:
    until = time.perf_counter() + WARMUP_VERDICT_S
    w.verdict()
    while time.perf_counter() < until:
        w.verdict()


class _Loop:
    """Timed attempts of one kind; an attempt that raises or whose result
    the oracle rejects is counted as failed and its time is dropped."""

    def __init__(self, tracer, span: str, group: str, settle):
        self.tracer, self.span, self.group, self.settle = tracer, span, group, settle
        self.samples: list[float] = []
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def attempt(self, call, judge) -> None:
        from perfbench.trace import no_count

        self.attempted += 1
        self.settle()
        t = time.perf_counter()
        try:
            with no_count(), self.tracer.span(self.span, group=self.group):
                result = call()
        except Exception as exc:  # a failed operation is counted, not fatal
            self.failed += 1
            self.problems.append(f"{self.span} raised {type(exc).__name__}: {exc}")
            return
        elapsed = time.perf_counter() - t
        bad = judge(result)
        if bad:
            self.failed += 1
            self.problems.extend(bad)
        else:
            self.samples.append(elapsed)


def _measure(w, seconds: float, tracer, min_ops: int) -> dict:
    """Closed loop: complete validations until `seconds` have passed and at
    least `min_ops` ran, then verdicts for VERDICT_S, at least MIN_VERDICTS."""
    jvm = w.spark.sparkContext._jvm

    def settle():
        # untimed full collections, so that no sample pays for the garbage
        # an earlier one left behind
        gc.collect()
        jvm.System.gc()

    ops = _Loop(tracer, "e2e.op", "e2e", settle)
    verdicts = _Loop(tracer, "e2e.verdict", "e2e.verdict", lambda: None)

    def judge_verdict(v):
        return [] if v == w.expected_verdict else [f"verdict {v}, expected {w.expected_verdict}"]

    deadline = time.perf_counter() + seconds
    while ops.attempted < min_ops or time.perf_counter() < deadline:
        ops.attempt(w.op, w.check)
    # the first verdicts after a run of operations are slow and speed up
    # over about a second; they pass unmeasured
    _unmeasured_verdicts(w)
    deadline = time.perf_counter() + VERDICT_S
    while verdicts.attempted < MIN_VERDICTS or time.perf_counter() < deadline:
        verdicts.attempt(w.verdict, judge_verdict)
    rows = w.manifest["rows"]
    return {"attempted": ops.attempted + verdicts.attempted,
            "failed": ops.failed + verdicts.failed,
            "problems": ops.problems + verdicts.problems,
            "ops": ops.attempted, "op_s": ops.samples, "verdict_s": verdicts.samples,
            "rows_per_s": _median([rows / s for s in ops.samples]),
            "verdict_median_s": _median(verdicts.samples)}


def main(argv=None) -> int:
    try:
        return _main(argv)
    finally:
        _end_all_processes()


def _main(argv) -> int:
    args = _parse(argv)
    if not ENGINE.is_file():
        print(f"perfbench: no engine package at {ENGINE.parent}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    _isolate_environment()

    from perfbench import inputs, trace
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    run_id = uuid.uuid4().hex[:12]
    traced = args.trace == 1

    t = time.perf_counter()
    stamp_before = trace.host_stamp(cpus)
    stamp_call_s = time.perf_counter() - t
    t_session = time.perf_counter()
    event_dir = CACHE / "eventlog" / run_id if traced else None
    spark = None
    try:
        spark = _start_spark(cpus, event_dir)
        session_s = time.perf_counter() - t_session
        # process start (interpreter imports included) up to a ready session,
        # minus the whole contention-stamp call (pool start, warm-up, burn,
        # join), which is context and not set-up
        start_to_session = (time.perf_counter() - T_START) - stamp_call_s
        data_dir, manifest = inputs.ensure_input(spark, CACHE, args.workload, args.seed, cls.rows)
        w = cls(spark, data_dir, manifest, args.seed)
        tracer = trace.Tracer(spark, run_id, enabled=traced)

        open_s = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            with tracer.span("setup.open_compile"):
                w.open()
            open_s.append(time.perf_counter() - t)

        t = time.perf_counter()
        w.prepare_oracle()
        oracle_s = time.perf_counter() - t

        t = time.perf_counter()
        setup_problems: list[str] = []
        warmup_failed = 0
        with trace.no_count(), tracer.span("setup.warmup", group="setup"):
            # verdicts first: the first operation after a switch from the
            # other kind runs slower, so the timed operations follow the
            # warm-up operations directly
            _unmeasured_verdicts(w)
            for _ in range(WARMUP_OPS):
                bad = w.check(w.op())
                warmup_failed += bool(bad)
                setup_problems += bad
        warmup_s = time.perf_counter() - t
        setup_s = start_to_session + statistics.median(open_s) + warmup_s

        # a traced run is for the per-layer probes; its rows_per_s only
        # feeds the tracing-overhead line, so it keeps within 180 s
        m = _measure(w, args.seconds, tracer, 1 if traced else MIN_OPS)
        rss = trace.peak_rss_mb()

        layer = {}
        if traced:
            from perfbench import probes

            layer = probes.run(w, tracer, CACHE / "checkpoints" / run_id)
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            _stop_spark(spark)
    stamp_after = trace.host_stamp(cpus)

    # the warm-up operations are checked against the oracle too
    attempted = m["attempted"] + WARMUP_OPS
    failed = m["failed"] + warmup_failed
    problems = setup_problems + m["problems"]
    correct = failed == 0
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "run_id": run_id, "cpus": cpus, "input": manifest,
        "host_stamp_s": {"before": stamp_before, "after": stamp_after},
        "session_s": session_s, "open_compile_s": open_s, "warmup_s": warmup_s,
        "oracle_s": oracle_s, "op_s": m["op_s"], "verdict_s": m["verdict_s"],
        "problems": problems[:50],
    }
    end_to_end = {"setup_s": setup_s, "rows_per_s": m["rows_per_s"],
                  "verdict_s": m["verdict_median_s"], "peak_rss_mb": rss}
    print(f"perfbench {args.workload} seed={args.seed} rows={manifest['rows']} "
          f"input={manifest['digest']} cpus={cpus} run_id={run_id}")
    print(f"  host stamp (s, {cpus} procs, fixed CPU burn): "
          f"before {stamp_before:.3f} after {stamp_after:.3f}")
    print(f"  complete validations: {len(m['op_s'])} timed (median), "
          f"verdicts: {len(m['verdict_s'])} timed (median), oracle {oracle_s:.2f} s untimed")
    print(f"  error_rate: {failed / attempted:.4f} ratio ({failed} of {attempted})")
    for name, value in end_to_end.items():
        print(f"  {name:>12} {value if value is not None else float('nan'):14.4f} "
              f"{END_TO_END_UNITS[name]}")
    for p in problems[:20]:
        print(f"  PROBLEM {p}")

    if traced:
        from perfbench import probes

        metrics = probes.finish(layer, tracer, event_dir / app_id, w, m, CACHE, result)
        result["spans"] = tracer.to_json()
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in end_to_end.items()}
    result["metrics"] = metrics

    out = CACHE / "results" / f"{args.workload}-s{args.seed}-trace{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(result, indent=1, default=sorted))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
