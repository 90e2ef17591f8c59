#!/usr/bin/env python3
"""bisque_spark benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload crawl-wide --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout. Starts a ``local[<cores>]`` Spark
session with AQE off and the v2 file committer (the settings bench.py
uses) three times, warms the workload up (a tiny call, or the first
epoch of each crawl), then runs timed calls back to back (a closed
loop with one caller) until ``--seconds`` is used up. ``setup_s`` is
the median session start plus the warm-up. Every call's output is
checked. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

``--trace 1`` turns on Spark's event log (uncompressed, non-rolling),
folds it into per-call, per-job, per-stage and per-layer rows
(``ledger.py``), runs the in-process layer pass (``layers.py``) and
writes the whole ledger to ``.perfbench_work/ledger-<workload>-<seed>.json``.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout; the per-run directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

SETUP_REPS = 3

class TreeMemory:
    """Samples the summed proportional set size (PSS: shared pages
    split between the processes that map them) of this process and all
    its descendants — the JVM and its Python workers — from /proc, and
    keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_pss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return total

    def _sample(self):
        self.peak = max(self.peak, self._tree_pss())

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM
    (and with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — must not leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _load_json(path: str, default):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return default


def _save_json(path: str, obj) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
    os.replace(tmp, path)


def run(args) -> dict:
    import workloads

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the Python side's temp files too (py4j gateway files, tempfile)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    digests_path = os.path.join(WORK_ROOT, "digests.json")
    digests = _load_json(digests_path, {})
    wl = workloads.WORKLOADS[args.workload](args.seed, args.scale, work, digests)
    try:
        return _run(args, wl, work)
    finally:
        _save_json(digests_path, {**_load_json(digests_path, {}), **digests})
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, work: str) -> dict:
    from bisque_spark.session import get_spark
    from bisque_spark.util import release_caches

    cores = _cores()
    # a 3 GB driver heap: the process tree (JVM + Python workers) stays
    # well inside a shared 16 GB box
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    conf = _session_conf(work, args.trace)
    # session start, SETUP_REPS times: the first launches the JVM, the
    # later ones rebuild the session inside it
    starts = []
    spark = None
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{wl.name}", master=f"local[{cores}]",
            shuffle_partitions=cores, extra_conf=conf,
        )
        spark.range(1).count()
        starts.append(time.perf_counter() - t)
    try:
        t = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm(spark)
        release_caches()
        warm_s = time.perf_counter() - t

        calls = []
        with TreeMemory() as mem:
            t0 = time.perf_counter()
            while True:
                calls.append(wl.call(spark, len(calls)))
                release_caches()
                used = time.perf_counter() - t0
                per_call = used / len(calls)
                if used + per_call > args.seconds:
                    break
        tput, step, named = wl.e2e(calls)
        warm_s += calls[0].warm_s
        attempted = sum(c.attempted for c in calls)
        failed = sum(c.failed for c in calls)
        report = {
            "workload": wl.name, "seed": args.seed, "scale": args.scale,
            "cores": cores, "sizes": wl.sizes(), "calls": len(calls),
            "setup_s": statistics.median(starts) + warm_s,
            "session.start_s": starts,
            "prepare_s": prepare_s, "warmup_s": warm_s,
            "measured_s": time.perf_counter() - t0,
            **named,
            "mem.peak_pss_mb": mem.peak / 2**20,
            "ops.failed_frac": failed / attempted,
            "problems": [p for c in calls for p in c.problems][:20],
        }
        result = {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "e2e": {"setup_s": report["setup_s"], "throughput_per_s": tput,
                    "step_p50_s": step, "peak_pss_mb": report["mem.peak_pss_mb"]},
        }
        if args.trace:
            layer = wl.layer_pass(spark)
            app_id = spark.sparkContext.applicationId
            _stop_jvm(spark)
            spark = None
            result["layer"] = _trace(args, wl, work, app_id, calls, tput, layer, report)
        else:
            _record_untraced(_history_key(wl), tput)
        print(json.dumps({"report": report}, default=str), flush=True)
        return result
    finally:
        if spark is not None:
            _stop_jvm(spark)


def _history_key(wl) -> str:
    return f"{wl.name}|{json.dumps(wl.sizes(), sort_keys=True)}"


def _record_untraced(key: str, tput: float) -> None:
    path = os.path.join(WORK_ROOT, "untraced.json")
    hist = _load_json(path, {})
    hist[key] = (hist.get(key, []) + [tput])[-25:]
    _save_json(path, hist)


def _public(obj):
    """``obj`` without the ``_``-prefixed working keys of the fold."""
    if isinstance(obj, dict):
        return {k: _public(v) for k, v in obj.items() if not k.startswith("_")}
    if isinstance(obj, list):
        return [_public(v) for v in obj]
    return obj


def metric_spec(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of the ``end_to_end`` or ``per_layer`` metrics
    declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def _trace(args, wl, work, app_id, calls, tput, layer, report) -> dict:
    import ledger

    log = ledger.Log(ledger.load_events(os.path.join(work, "eventlog", app_id)))
    traced = wl.trace(log, calls)
    folds = traced.pop("_folds")
    # tracing overhead: this run's throughput against the median of
    # the untraced runs of the same workload made in this checkout
    untraced = _load_json(os.path.join(WORK_ROOT, "untraced.json"), {}).get(
        _history_key(wl)
    )
    overhead = (statistics.median(untraced) / tput - 1.0) if untraced else 0.0
    # a layer the workload does not exercise reports 0
    metrics = {name: 0.0 for name, _unit in metric_spec("per_layer")}
    metrics.update({k: float(v) for k, v in {**traced, **layer}.items() if k in metrics})
    metrics["trace.calls"] = float(len(calls))
    metrics["trace.overhead_frac"] = overhead
    _save_json(
        os.path.join(WORK_ROOT, f"ledger-{wl.name}-{args.seed}.json"),
        {"report": report, "per_layer": metrics,
         "untraced_runs": len(untraced or ()), "calls": _public(folds)},
    )
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the smoke tests")
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import bisque_spark  # noqa: F401
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    values = result["layer"] if args.trace else result["e2e"]
    metrics = {
        k: {"value": values[k], "unit": u}
        for k, u in metric_spec("per_layer" if args.trace else "end_to_end")
    }
    print(json.dumps({
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"], "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
