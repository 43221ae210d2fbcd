"""Repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Runs one of the workloads described in BENCHMARK.json through the
library's public functions on ``local[<cores>]`` and checks every output.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run. The
full record (host stamp, every sample, spans, stage metrics, failures) is
written to ``.perfbench_work/results/`` and never truncated.

Everything the run writes stays under ``.perfbench_work/`` at the root of
the tree it runs from.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
from statistics import median
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ["extract_mixed", "extract_blobs"]
SETUPS = 3  # set-ups per untraced run; setup_s is their median
# the timed plan is still warming up (JIT, G1 sizing) on its first two
# calls after the check pass (each about 15% slower than the calls after
# them); those calls are checked but not timed
WARM_CALLS = 2
MIN_ITERATIONS = 3
# a traced run reports no end-to-end metrics: one set-up, and two untraced
# iterations as the baseline for the tracing overhead
TRACED_BASELINE_ITERATIONS = 2
TRACED_ITERATIONS = 1


PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


def _become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process instead of
    init: the Python workers' daemon outlives the JVM that forked it, and
    ``_reap_descendants`` must be able to stop and wait for it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _exit_on_signal(signum, frame) -> None:
    # unwinds through every ``finally``, so the clean-up below still runs
    raise SystemExit(128 + signum)


def _reap_descendants(grace: float = 10.0) -> None:
    """Stop every process this one started, directly or not, and wait until
    each has ended: SIGTERM first, SIGKILL after ``grace`` seconds."""
    from multiprocessing import resource_tracker
    from tracing import descendants

    # the reference pool's resource tracker ignores SIGTERM; it exits when
    # its pipe closes
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        try:
            stop()
        except OSError:
            pass
    deadline = time.monotonic() + grace
    while True:
        pids = descendants(os.getpid())
        if not pids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        time.sleep(0.05)
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break


def _confine_to_tree() -> None:
    """Point every scratch location of Spark, the JVM and Python workers
    into WORK, and let the workers import the library and this directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    # no hsperfdata files under /tmp from the launcher or the Spark JVM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


class Context:
    def __init__(self, workload: str, seed: int, size: str, trace: bool):
        from tracing import Tracer, nproc
        import workloads

        self.workload = workload
        self.seed = seed
        self.cores = nproc()
        self.sizes = workloads.SIZES[size]
        self.tracer = Tracer(trace)
        self.trace = trace
        self.data_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.spark = None

    def stop(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            spark, self.spark = self.spark, None
            try:
                spark.stop()
            except Exception:  # a call into the JVM was cut short; stop it anyway
                traceback.print_exc()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def start(self, warm_path: str) -> float:
        """(Re)start the Spark session and run the warm-up job; returns the
        set-up time."""
        from pdf_parser_spark.pipeline import extract_turns, get_spark, run_metrics

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        os.environ["SPARK_GRAFT_UI"] = "true" if self.trace else "false"
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]", shuffle_partitions=self.cores,
            extra_conf={"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                        "spark.ui.showConsoleProgress": "false"})
        self.spark.sparkContext.setLogLevel("ERROR")
        # one task per core: enough to start every Python worker
        run_metrics(extract_turns(self.spark.read.parquet(warm_path), include_blocks=False,
                                  partitions=self.cores)).collect()
        return time.perf_counter() - t0


def _measure(ctx, st, out, seconds: float, min_iter: int) -> tuple[list[float], list[int]]:
    import workloads

    for _ in range(WARM_CALLS):
        workloads.call_extract(ctx, st, out)
    walls, rows = [], []
    t_end = time.perf_counter() + seconds
    while len(walls) < min_iter or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        n = workloads.call_extract(ctx, st, out)
        walls.append(time.perf_counter() - t0)
        rows.append(n)
    return walls, rows


def _layers(ctx, st: dict, untraced_wall: float, out) -> tuple[dict, dict]:
    """Traced iterations plus every layer's metrics. The runner and the
    operator suite, which the extraction workloads do not call, are
    measured on small seeded probe inputs, so every traced run reports
    every layer."""
    import corpora
    import pyarrow.parquet as pq
    import workloads
    from tracing import StageLog, jvm_gc_ms, stage_metrics

    log = StageLog(ctx.spark.sparkContext.uiWebUrl)
    rec: dict[str, float] = {}
    traced, stages = [], []
    gc0 = jvm_gc_ms(ctx.spark)
    for _ in range(TRACED_ITERATIONS):
        log.mark()
        t0 = time.perf_counter()
        with ctx.tracer.span(ctx.workload):
            workloads.call_extract(ctx, st, out)
        traced.append(time.perf_counter() - t0)
        stages = log.new_stages()
    rec.update(stage_metrics(stages))
    rec["trace.overhead_s"] = median(traced) - untraced_wall
    extra = {"traced_wall_s": traced, "stages": [
        {k: s.get(k) for k in ("stageId", "name", "numTasks", "executorRunTime", "executorCpuTime",
                                "jvmGcTime", "shuffleReadBytes", "shuffleWriteBytes", "inputBytes",
                                "task_run_ms_p50", "task_run_ms_max")} for s in stages]}
    with ctx.tracer.span("pipeline"):
        rec.update(workloads.pipeline_layers(ctx, st["path"], untraced_wall))
    # JVM GC time over every extraction of the workload's corpus in this
    # phase; one iteration alone often collects nothing
    rec["spark.gc_ms"] = jvm_gc_ms(ctx.spark) - gc0
    with ctx.tracer.span("kernels"):
        rec.update(workloads.kernel_layers(ctx, st["table"], st["ref"].payload_types))

    probe = ctx.sizes["probe"]
    path = workloads.write_mixed(ctx, "probe_runner", probe["runner_turns"])
    pst = {"path": path, "ref": corpora.Reference(pq.read_table(path), workers=ctx.cores)}
    with ctx.tracer.span("runner"):
        workloads.call_resume(ctx, pst, out, rec)
    pst = workloads.prepare_suite(ctx, probe["docs"], probe["vecs"])
    with ctx.tracer.span("dataops"):
        workloads.suite_probe(ctx, pst, out, rec)
    extra["split_tolerance"] = workloads.SPLIT_TOLERANCE
    extra["split_within_tolerance"] = rec["pipeline.split_gap"] <= workloads.SPLIT_TOLERANCE
    return rec, extra


def run(args) -> dict:
    import corpora
    import workloads
    from tracing import RssSampler, host_stamp, jvm_gc_ms

    ctx = Context(args.workload, args.seed, args.size, bool(args.trace))
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "size": args.size, "host": host_stamp(ROOT),
              "sizes": ctx.sizes[args.workload],
              "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    os.makedirs(ctx.data_dir, exist_ok=True)
    try:
        warm = os.path.join(ctx.data_dir, "warm.parquet")
        corpora.write_parquet(corpora.warmup_table(ctx.seed), warm)
        setups = [ctx.start(warm) for _ in range(1 if args.trace else SETUPS)]
        st = workloads.prepare(ctx, args.workload)
        record["input"] = st["input"]
        out = workloads.Outcome()
        workloads.check_extract(ctx, st, out)
        gc0 = jvm_gc_ms(ctx.spark)
        with RssSampler() as rss:
            if args.trace:
                walls, rows = _measure(ctx, st, out, 0, TRACED_BASELINE_ITERATIONS)
            else:
                walls, rows = _measure(ctx, st, out, args.seconds, MIN_ITERATIONS)
        rss_mb = {k: v / 1024.0 for k, v in rss.peak_kb_by_kind.items()}
        metrics = {
            "wall_s": median(walls),
            "rows_per_s": median([n / w for n, w in zip(rows, walls)]),
            "setup_s": median(setups),
            "worker_rss_mb": rss_mb.get("python", 0.0),
        }
        record.update({"setup_s_samples": setups, "wall_s_samples": walls, "rows_samples": rows,
                       "jvm_gc_ms_timed": jvm_gc_ms(ctx.spark) - gc0,
                       "peak_rss_mb": rss.peak_kb / 1024.0, "peak_rss_mb_by_kind": rss_mb,
                       "end_to_end": metrics})
        if args.trace:
            layers, extra = _layers(ctx, st, metrics["wall_s"], out)
            layers["mem.peak_rss_mb"] = rss.peak_kb / 1024.0
            layers["mem.jvm_rss_mb"] = rss_mb.get("java", 0.0)
            record.update({"per_layer": layers, "trace_detail": extra,
                           "spans": ctx.tracer.spans, "self_times": ctx.tracer.self_times()})
        record.update({"attempted": out.attempted, "failed": out.failed, "checked_rows": out.rows,
                       "mismatched_rows": out.mismatched,
                       "mismatch_share": out.mismatched / max(out.rows, 1),
                       "failed_share": out.failed / max(out.attempted, 1),
                       "errors": out.errors[:50]})
    finally:
        ctx.stop()
        shutil.rmtree(ctx.data_dir, ignore_errors=True)
    return record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "toy"], default="full",
                    help="input sizes; 'toy' is for the benchmark's own tests")
    args = ap.parse_args(argv)
    _confine_to_tree()
    sys.path.insert(0, ROOT)
    try:
        import pdf_parser_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the library under test from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(pdf_parser_spark.__file__))) != ROOT:
        print(f"perfbench: the library was imported from {pdf_parser_spark.__file__}, "
              f"not from the tree under test {ROOT}", file=sys.stderr)
        return 2
    record = run(args)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}-{os.getpid()}"
    path = os.path.join(results, name + ".json")
    with open(path + ".tmp", "w") as f:
        json.dump(record, f, indent=1, default=str)
    os.replace(path + ".tmp", path)
    print(f"perfbench: full record in {os.path.relpath(path, ROOT)}")
    chosen = record["per_layer"] if args.trace else record["end_to_end"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(units) != set(chosen):
        raise RuntimeError(f"metrics {sorted(set(chosen) ^ set(units))} differ from BENCHMARK.json")
    line = {
        "correct": record["mismatched_rows"] == 0 and record["failed"] == 0,
        "attempted": max(int(record["attempted"]), 1),
        "failed": int(record["failed"]),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in chosen.items()},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    _become_subreaper()
    for signum in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(signum, _exit_on_signal)
    code = 1
    try:
        code = main()
    except SystemExit as exc:
        code = exc.code if isinstance(exc.code, int) else 1
    except Exception:
        traceback.print_exc()
    finally:
        for signum in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(signum, signal.SIG_IGN)
        _reap_descendants()
    sys.exit(code)
