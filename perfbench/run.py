"""spark-vc benchmark: one workload, one seed, one Spark application.

    python3 perfbench/run.py --workload germline_archive --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench_work/`` (untimed), expectations are computed with DuckDB
(untimed), then the workload runs as a closed loop with one client on
``local[N]``: the next iteration starts when the previous one returns, and
every iteration's output is checked.

``--trace 0`` reports the end-to-end metrics (iter_s.p50, iter_s.tail,
records_per_s, setup_s, peak_rss_mb); ``--trace 1`` is a separate traced
run that reports the per-layer metrics. Human-readable lines go to stdout
first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# local[N]: one core stays free for the driver, JIT and GC threads
CPUS = max(1, min(3, (os.cpu_count() or 1) - 1))
HEAP = "2g"  # pinned as both -Xmx and -Xms, so no run pays heap growth
WARMUP_ITERS = 2  # setup_s ends when the last of these returns
MAX_CONSECUTIVE_FAILURES = 5


# ---- process bookkeeping (/proc) -----------------------------------------


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _proc_kb(path: str, field: str) -> float:
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(field):
                    return float(line.split()[1])
    except OSError:
        pass
    return 0.0


class RssSampler(threading.Thread):
    """Peak resident memory of the Spark JVM (VmRSS) plus its Python
    workers. The workers are forked from one daemon and share pages, so
    they count by proportional share (Pss), not by RSS."""

    def __init__(self, jvm_pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.jvm_pid, self.period = jvm_pid, period
        self.peak = 0.0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            kb = _proc_kb(f"/proc/{self.jvm_pid}/status", "VmRSS:") + sum(
                _proc_kb(f"/proc/{p}/smaps_rollup", "Pss:") for p in descendants(self.jvm_pid)
            )
            self.peak = max(self.peak, kb / 1024.0)
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak


# ---- session -------------------------------------------------------------


def session_configs(work: str, event_log_dir: str | None) -> dict[str, str]:
    """Keep every file Spark writes inside the work directory."""
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -Xms{HEAP}"
        ),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",  # one plain JSON-lines file
            }
        )
    return conf


def start_session(conf: dict[str, str]):
    from variantcalling_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_configs=conf)


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = gw.proc
    kids = descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 15
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ---- loop ----------------------------------------------------------------


class Loop:
    """Runs checked iterations of one workload and counts outcomes. An
    iteration runs the workload's pipelines back to back under one timer."""

    def __init__(self, inputs: dict, expected: dict, work: str):
        from checks import CHECK
        from workloads import PIPELINES

        self.pipelines = [(p, PIPELINES[p], CHECK[p]) for p in inputs]
        self.inputs, self.expected, self.work = inputs, expected, work
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def once(self, ctx, spark, after=None):
        """One timed iteration, then its (untimed) checks; a raise or a
        failed check counts in ``failed``. Returns the seconds the
        pipelines took, or None when they raised."""
        self.attempted += 1
        out_dir = os.path.join(self.work, "iter", str(self.attempted))
        dt = None
        try:
            t0 = time.perf_counter()
            outs = {}
            for name, pipeline, _ in self.pipelines:
                os.makedirs(os.path.join(out_dir, name))
                outs[name] = pipeline(ctx, spark, self.inputs[name], os.path.join(out_dir, name))
            dt = time.perf_counter() - t0
            if after:
                after(outs)
            errs = [e for name, _, check in self.pipelines for e in check(self.expected[name], outs[name])]
        except Exception as exc:  # a failing iteration is counted, the loop goes on
            errs = [f"{type(exc).__name__}: {(str(exc).splitlines() or [''])[0]}"]
        spark.catalog.clearCache()  # iterations are independent pipeline runs
        shutil.rmtree(out_dir, ignore_errors=True)
        if errs:
            self.failed += 1
            self.errors.append(f"iteration {self.attempted}: {'; '.join(errs)}")
        return dt

    def timed(self, ctx, spark, seconds: float) -> list[float]:
        """Iterate for ``seconds``: an iteration starts while at least half
        the median iteration so far fits before the deadline, so a run
        overshoots ``seconds`` by at most about half an iteration."""
        samples, streak = [], 0
        deadline = time.perf_counter() + seconds
        while deadline - time.perf_counter() > (statistics.median(samples) / 2 if samples else 0.0):
            dt = self.once(ctx, spark)
            if dt is None:
                streak += 1
                if streak >= MAX_CONSECUTIVE_FAILURES:
                    break
                continue
            streak = 0
            samples.append(dt)
        return samples

    def warm_up(self, ctx, spark) -> None:
        for _ in range(WARMUP_ITERS):
            self.once(ctx, spark)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least 10
    samples beyond it and lies above the median; with fewer than 21
    samples no such percentile exists and the maximum is reported."""
    s = sorted(samples)
    k = len(s) - 11
    if k < len(s) // 2:
        return s[-1], 100.0
    return s[k], 100.0 * (k + 1) / len(s)


def versions(spark) -> dict:
    import pyspark

    return {
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


# ---- the two runs ----------------------------------------------------------


def run_untraced(loop: Loop, work: str, seconds: float, records: int, record: dict) -> dict:
    from workloads import Direct

    t0 = time.perf_counter()
    spark = start_session(session_configs(work, None))
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()
    loop.warm_up(Direct(), spark)
    setup = time.perf_counter() - t0
    samples = loop.timed(Direct(), spark, seconds)
    peak = sampler.stop()
    record.update(versions(spark))
    stop_session(spark)
    if not samples:
        return {}
    t_val, t_pct = tail(samples)
    record.update(samples=len(samples), tail_percentile=round(t_pct, 1),
                  iter_s=[round(s, 3) for s in samples])
    return {
        "iter_s.p50": (statistics.median(samples), "s"),
        "iter_s.tail": (t_val, "s"),
        "records_per_s": (records * len(samples) / sum(samples), "records/s"),
        "setup_s": (setup, "s"),
        "peak_rss_mb": (peak, "MB"),
    }


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, part files) under ``path``."""
    size = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            size += os.path.getsize(os.path.join(d, f))
            files += f.startswith("part-")
    return size, files


UNITS = {
    "self_s": "s", "stages": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "gc_s": "s", "tasks_retried": "count", "rows_per_s": "rows/s", "mb_per_s": "MB/s",
    "rows_out": "rows", "runs_out": "rows", "records_per_s": "records/s",
    "blocks_out": "rows", "bytes_per_input_byte": "ratio", "files_written": "count",
    "candidate_pairs": "pairs", "verified_pairs": "pairs", "verify_yield": "ratio",
    "planted_recall": "ratio", "input_bytes_per_input_byte": "ratio", "overhead_s": "s",
}


def run_traced(loop: Loop, work: str, seconds: float, record: dict) -> dict:
    """Untraced and traced iterations alternate in one session with the
    event log on. Per-layer numbers come from the traced ones; the signed
    tracing overhead is median(traced) - median(untraced); the engine's
    bytes scanned per input byte come from the untraced ones."""
    import checks
    from tracing import Tracer, find_event_log, layer_metrics, parse_event_log, span_medians
    from workloads import NESTED_CALLS, Direct

    log_dir = os.path.join(work, "eventlog")
    t0 = time.perf_counter()
    spark = start_session(session_configs(work, log_dir))
    tracer = Tracer(spark)
    tracer.spans.append({"id": "session", "name": "session.start", "parent": None,
                         "iter": None, "rows": 0, "start": t0, "end": time.perf_counter()})
    record.update(versions(spark))
    loop.warm_up(Direct(), spark)
    traced, untraced, untraced_groups = [], [], []
    written = {"vcf_bytes": [], "upsert_bytes": [], "upsert_files": [], "recall": []}

    def after_traced(outs):
        if "gvcf_archive" in outs:
            out = outs["gvcf_archive"]
            written["vcf_bytes"].append(_dir_stats(out["vcf_dir"])[0])
            size, files = _dir_stats(out["catalog_dir"])
            written["upsert_bytes"].append(size)
            written["upsert_files"].append(files)
        if "neardup_curation" in outs:
            exp = loop.expected["neardup_curation"]
            written["recall"].append(checks.planted_recall(exp, outs["neardup_curation"]["pairs"]))

    deadline = time.perf_counter() + seconds
    steps: list[float] = []  # one untraced + one traced iteration each
    i = 0
    while not traced or deadline - time.perf_counter() > statistics.median(steps):
        t_step = time.perf_counter()
        i += 1
        spark.sparkContext.setJobGroup(f"u{i}", "untraced iteration")
        dt = loop.once(Direct(), spark)
        if dt is not None:
            untraced.append(dt)
            untraced_groups.append(f"u{i}")
        tracer.iteration = i
        # the package's nested layer calls are wrapped in traced iterations only
        with tracer.wrapped(NESTED_CALLS), tracer.span("iteration"):
            dt = loop.once(tracer, spark, after_traced)
        if dt is not None:
            traced.append(dt)
        steps.append(time.perf_counter() - t_step)
        if loop.failed >= MAX_CONSECUTIVE_FAILURES:
            break
    stop_session(spark)
    engine = parse_event_log(find_event_log(log_dir))
    if not traced or not untraced:
        return {}

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def per_s(amount, dur):
        return amount / dur if dur else 0.0

    spans = tracer.spans
    gvcf = loop.inputs.get("gvcf_archive")
    all_bytes = sum(inp.input_bytes for inp in loop.inputs.values())
    cands = span_medians(spans, "operators.dedup.candidates")[0]
    verified = span_medians(spans, "operators.dedup.verify")[0]
    blocks, gvcf_dur = span_medians(spans, "operators.kernels.gvcf")
    extras = {
        "sources.vcf.read.rows_per_s": per_s(*span_medians(spans, "sources.vcf.read")),
        "sources.reads.read.rows_per_s": per_s(*span_medians(spans, "sources.reads.read")),
        "sources.vcf.write.mb_per_s": per_s(
            med(written["vcf_bytes"]) / 1e6, span_medians(spans, "sources.vcf.write")[1]
        ),
        "operators.interval_join.rows_out": span_medians(spans, "operators.interval_join")[0],
        "operators.pileup.runs_out": span_medians(spans, "operators.pileup")[0],
        "operators.kernels.gvcf.records_per_s": per_s(gvcf.records if gvcf else 0, gvcf_dur),
        "operators.kernels.gvcf.blocks_out": blocks,
        "pipelines.results.upsert.bytes_per_input_byte": (
            med(written["upsert_bytes"]) / gvcf.input_bytes if gvcf else 0.0
        ),
        "pipelines.results.upsert.files_written": med(written["upsert_files"]),
        "operators.dedup.candidates.candidate_pairs": cands,
        "operators.dedup.verify.verified_pairs": verified,
        "operators.dedup.verify.verify_yield": verified / cands if cands else 0.0,
        "operators.dedup.verify.planted_recall": med(written["recall"]),
        "engine.input_bytes_per_input_byte": (
            med([engine.get(g, {}).get("input_bytes", 0.0) for g in untraced_groups]) / all_bytes
        ),
        "tracing.overhead_s": med(traced) - med(untraced),
    }
    record.update(traced_iterations=len(traced), untraced_iterations=len(untraced),
                  traced_iter_s=round(med(traced), 3), untraced_iter_s=round(med(untraced), 3))
    metrics = layer_metrics(spans, engine, extras)
    return {k: (v, UNITS[k.rsplit(".", 1)[1]]) for k, v in metrics.items()}


# ---- main ----------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "variantcalling_spark")):
        print(f"run.py: no variantcalling_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything the run, both JVMs and the Python workers write stays in `work`
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    sys.path[:0] = [ROOT, HERE]
    import tempfile

    tempfile.tempdir = tmp
    try:
        import checks
        import gen
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"run.py: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
                  file=sys.stderr)
            return 2
        inputs = {
            p: gen.generate(p, args.seed, os.path.join(work, "inputs", p))
            for p in WORKLOADS[args.workload]
        }
        expected = {p: checks.EXPECT[p](inp) for p, inp in inputs.items()}
        records = sum(inp.records for inp in inputs.values())
        record = {
            "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
            "local_n": CPUS, "heap": HEAP, "input_records": records,
            "input_bytes": sum(inp.input_bytes for inp in inputs.values()),
        }
        loop = Loop(inputs, expected, work)
        if args.trace:
            metrics = run_traced(loop, work, args.seconds, record)
        else:
            metrics = run_untraced(loop, work, args.seconds, records, record)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for e in loop.errors[:20]:
        print(f"FAIL {e}", file=sys.stderr)
    if not metrics:
        print("run.py: no iteration succeeded; no metrics", file=sys.stderr)
        return 1
    print("record " + json.dumps(record, sort_keys=True))
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(f"fail_frac = {loop.failed / loop.attempted:.6g} ratio "
          f"({loop.failed} of {loop.attempted} iterations)")
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {
            k: {"value": v if math.isfinite(v) else 0.0, "unit": u}
            for k, (v, u) in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
