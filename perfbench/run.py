"""Benchmark of the go_html_transform_spark engine.

    python3 perfbench/run.py --workload feature_pipeline --seed 1 --seconds 8 --trace 0

Runs one workload (see ``workloads.py``) from a single driver process on
``local[<cores>]`` against the engine's public API, and prints, as its last
stdout line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. Lines before it print every metric with its unit, the
correctness counters included.

* ``--trace 0`` reports the end-to-end metrics: set-up time, the median
  wall time of one warmed unit of work, throughput and committed bytes per
  row. Only warmed passes are timed, and a JVM GC is forced before each.
* ``--trace 1`` reports per-layer metrics: each engine layer's call runs
  on its own, inside a span whose Spark jobs carry a job group, and
  per-stage task metrics are read back from the JVM status store. Spans
  are written to ``perfbench/.traces/`` when the run ends.
* ``--smoke`` shrinks the inputs to a few thousand rows; the benchmark's
  own tests use it.

Every pass's output is checked off the clock; a failed pass or check counts
in ``failed`` and makes ``correct`` false. Load and hypervisor steal are
printed per run as diagnostics; the run does not wait for a quiet machine.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}

# Untimed warm-up rounds run until their time stops falling: until a round
# is no more than WARM_TOL faster than the median of the two rounds before
# it, with at least the workload's warm_min and at most its warm_max rounds.
# The median keeps one noisy round from ending the warm-up early. A round is
# warm_threads units run at once: a unit that leaves cores idle warms the
# JIT in fewer seconds that way.
WARM_TOL = 0.05
# The idle gap after the forced GC before a timed pass lets the context
# cleaner, which the GC wakes, and the JIT compiler threads finish; both
# compete with the task threads for the cores.
SETTLE_S = 0.5
DRIVER_MEM = "3g"
# dup_recall measured 0.75-0.85 on the probe corpus (0.764 at 20k docs in
# tools/bench_prepare.py); below this floor the near-dup stage has lost its
# signal, not just drifted
MIN_DUP_RECALL = 0.6
MIN_NONDUP_KEPT = 0.99

LAYERS = (
    "tables", "pipeline", "asof", "window", "sink", "text", "kernels",
    "dedup", "prepare", "incremental", "lineage",
)
# A layer's stage metrics are its own job group's minus those of the pass
# it repeats: parquet write minus noop pass, run_stage minus parquet write.
BENEATH = {"sink": "compute", "lineage": "sink"}


def proc_stat() -> tuple[float, float]:
    """(busy, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [float(x) for x in f.readline().split()[1:]]
    idle = vals[3] + vals[4]
    return sum(vals) - idle, vals[7]


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(c) for c in f.read().split()]
                out += kids
                todo += kids
        except FileNotFoundError:
            continue
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the driver JVM plus its live Python workers."""
    total = 0.0
    for pid in [jvm_pid] + descendants(jvm_pid):
        try:
            total += vm_hwm_mb(pid)
        except FileNotFoundError:
            pass
    return total


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, list] = {"mismatch_rows": [], "leak_rows": []}
        self.gc_ms: list[float] = []
        self.check_s = 0.0

    def start_session(self) -> None:
        from go_html_transform_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            cores=cores,
            shuffle_partitions=2 * cores,
            extra_conf={
                # AQE would pack the 8 shuffle partitions into 4-7 tasks
                # depending on the seed's key layout, and on 4 cores that
                # splits pass times by seed (one wave or two); a fixed task
                # count keeps the seed out of the measurement.
                "spark.sql.adaptive.coalescePartitions.enabled": "false",
                "spark.driver.memory": DRIVER_MEM,
                "spark.ui.showConsoleProgress": "false",
                # a heap fixed at its maximum: heap resizing otherwise
                # shifts pass times from run to run
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={self.work}/tmp"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def record_check(self, name: str, value, ok: bool) -> None:
        self.attempted += 1
        self.checks.setdefault(name, []).append(value)
        if not ok:
            self.failed += 1
            print(f"# check failed: {name} = {value}", file=sys.stderr)

    def record_checks(self, found: dict) -> None:
        for name, value in found.items():
            if name == "dup_recall":
                ok = value >= MIN_DUP_RECALL
            elif name == "nondup_kept_frac":
                ok = value >= MIN_NONDUP_KEPT
            else:
                ok = value == 0
            self.record_check(name, value, ok)

    def run_pass(self, wl, i: int, tracer, traced: bool):
        """One timed unit of work, after a forced GC and an idle gap;
        returns (seconds, result), or (None, None) if the unit raised."""
        self.spark.sparkContext._jvm.System.gc()
        time.sleep(SETTLE_S)
        self.attempted += 1
        gc0 = self.jvm_probe.gc_ms()
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.span("unit", trace_id=i):
                    res = wl.unit(i)
            else:
                res = wl.unit(i)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            if self.failed > 3:
                raise
            return None, None
        dt = time.perf_counter() - t0
        self.gc_ms.append(self.jvm_probe.gc_ms() - gc0)
        return dt, res

    def warm_round(self, wl, ids) -> float:
        """Untimed units ``ids``, run at once; returns the round's wall time."""
        t0 = time.perf_counter()
        with ThreadPoolExecutor(len(ids)) as pool:
            futures = [pool.submit(wl.unit, i) for i in ids]
        dt = time.perf_counter() - t0
        for f in futures:
            self.attempted += 1
            try:
                wl.discard(f.result())
            except Exception:
                self.failed += 1
                traceback.print_exc()
                if self.failed > 3:
                    raise
        return dt

    def check_pass(self, wl, res: dict) -> None:
        t0 = time.perf_counter()
        try:
            found = wl.check(res)
        except Exception:
            traceback.print_exc()
            self.record_check("check_error", 1, False)
            return
        finally:
            self.check_s += time.perf_counter() - t0
        self.record_checks(found)

    def main(self) -> dict:
        from pyspark import SparkContext

        from spans import JvmProbe, Tracer
        from workloads import WORKLOADS, dir_stats, parquet_rows

        args = self.args
        load0 = os.getloadavg()
        busy0, steal0 = proc_stat()
        # set-up: JVM launch, session start, input generation and caching
        t0 = time.perf_counter()
        self.start_session()
        wl = WORKLOADS[args.workload](self.spark, self.work, args.seed, args.smoke)
        wl.setup()
        setup_s = time.perf_counter() - t0
        tracer = Tracer(self.spark, enabled=bool(args.trace))
        self.jvm_probe = JvmProbe(self.spark)

        warm: list[float] = []
        i = 0
        while len(warm) < wl.warm_min or (
            len(warm) < wl.warm_max and warm[-1] < (1 - WARM_TOL) * statistics.median(warm[-3:-1])
        ):
            warm.append(self.warm_round(wl, range(i, i + wl.warm_threads)))
            i += wl.warm_threads

        # a traced run alternates untraced and traced units, so the two
        # medians give the tracing overhead
        times, traced_times, done, last = [], [], [], None
        self.gc_ms.clear()
        self.jvm_probe.reset_heap_peak()
        while (
            len(times) + len(traced_times) < wl.min_timed
            or sum(times) + sum(traced_times) < args.seconds
        ):
            traced = bool(args.trace) and len(times) > len(traced_times)
            dt, res = self.run_pass(wl, i, tracer, traced)
            i += 1
            if dt is None:
                continue
            (traced_times if traced else times).append(dt)
            if last is not None:
                done.append(last)
            last = res
        # outputs are checked once the timed passes are over, so that the
        # checks do not run between them
        for res in done + [last]:
            self.check_pass(wl, res)
            if res is not last:
                wl.discard(res)
        out_bytes, _ = dir_stats(last["out"])
        out_rows = parquet_rows(last["out"])
        rss = peak_rss_mb(SparkContext._gateway.proc.pid)
        heap_peak = self.jvm_probe.heap_peak_mb()
        try:
            leak = wl.leak_rows(last)
        except Exception:
            traceback.print_exc()
            leak = -1
        self.record_check("leak_rows", leak, leak == 0)

        job_s = statistics.median(times)
        info = {
            "setup_s": setup_s,
            "warmup_s": warm,
            "warmup_capped": len(warm) == wl.warm_max,
            "timed_s": times,
            "input_rows": wl.input_rows,
            "out_rows": out_rows,
            "check_s": self.check_s,
            **wl.info(),
        }
        if args.trace:
            metrics = self.layer_metrics(wl, tracer, job_s, traced_times, heap_peak, rss)
        else:
            metrics = {
                "setup_s": setup_s,
                "job_s": job_s,
                "rows_per_s": wl.input_rows / job_s,
                "out_bytes_per_row": out_bytes / out_rows,
            }
        wl.close()
        busy1, steal1 = proc_stat()
        info["load_start"] = load0[0]
        info["load_end"] = os.getloadavg()[0]
        info["steal_pct"] = 100.0 * (steal1 - steal0) / max(1.0, busy1 - busy0)
        if args.trace:
            os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
            tracer.write(
                os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "info": info, "metrics": metrics},
            )
        return self.report(metrics, info)

    def layer_metrics(self, wl, tracer, job_s, traced_times, heap_peak, rss) -> dict:
        from spans import STAGE_FIELDS

        m = dict.fromkeys((p["name"] for p in BENCH["per_layer"]), 0.0)
        m["jvm.gc_ms"] = statistics.median(self.gc_ms)
        m["jvm.heap_peak_mb"] = heap_peak
        m["jvm.peak_rss_mb"] = rss
        m["trace.overhead_frac"] = statistics.median(traced_times) / job_s - 1.0
        layers, checks = wl.layers(tracer)
        m.update(layers)
        self.record_checks(checks)
        stages = tracer.stage_metrics()
        for layer in LAYERS:
            got = stages.get(layer, {})
            # the sink and lineage passes also redo the work beneath them
            base = stages.get(BENEATH.get(layer), {}) if got else {}
            for f in STAGE_FIELDS:
                m[f"{layer}.{f}"] = got.get(f, 0.0) - base.get(f, 0.0)
        for layer in ("asof", "window"):
            run = m[f"{layer}.run_ms"]
            m[f"{layer}.cpu_frac"] = m[f"{layer}.cpu_ms"] / run if run else 0.0
        return m

    def report(self, metrics: dict, info: dict) -> dict:
        for k, v in info.items():
            print(f"# {k}: {v}")
        counters = {
            "mismatch_rows": (sum(self.checks["mismatch_rows"]), "rows"),
            "leak_rows": (sum(self.checks["leak_rows"]), "rows"),
            "failed_frac": (self.failed / self.attempted, "fraction"),
        }
        for name in ("dup_recall", "nondup_kept_frac"):
            if self.checks.get(name):
                counters[name] = (self.checks[name][-1], "fraction")
        for name, v in metrics.items():
            print(f"{name} = {v} {UNITS[name]}")
        for name, (v, unit) in counters.items():
            print(f"{name} = {v} {unit}")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                name: {"value": float(v), "unit": UNITS[name]} for name, v in metrics.items()
            },
        }


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in BENCH["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=BENCH["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's tests")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import go_html_transform_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    # everything the run writes stays under perfbench/.work
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = f"{work}/local"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    runner = Runner(args, work)
    try:
        result = runner.main()
    finally:
        runner.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
