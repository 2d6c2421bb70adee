"""Run one lakebench workload and print its metrics.

    python3 lakebench/run.py --workload lake --seed 1 --seconds 16 --trace 0

Run from the repository root. The run builds its inputs from the seed in
a fresh directory under ``.lakebench_tmp/`` and removes it at the end.
With ``--trace 0`` it measures the closed loop for ``--seconds`` and
reports the end-to-end metrics. With ``--trace 1`` it measures an
untraced phase and then a traced phase of half of ``--seconds`` each, and
reports the per-layer metrics of the traced phase, read from the layer
spans and from the run's Spark event log, plus the tracing overhead
against the untraced phase. The spans are written to ``.lakebench_out/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it gives every operation kind's median and tail latency.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _start_spark(workdir: str, event_dir: str):
    from pyspark.sql import SparkSession
    cores = len(os.sched_getaffinity(0))
    local = os.path.join(workdir, "spark-local")
    os.makedirs(local, exist_ok=True)
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("lakebench")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.driver.memory", "2g")
         .config("spark.local.dir", local)
         # a fixed heap and young generation, so the JVM's resident set
         # does not depend on when the collector grew the heap
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={local} -XX:-UsePerfData "
                 "-Xms2g -Xmn512m")
         .config("spark.sql.warehouse.dir",
                 os.path.join(workdir, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) end."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — escalate to a kill
            proc.kill()
            proc.wait(timeout=30)


def _loop(wl, clock, seconds: float, lat, counts) -> None:
    """Closed loop for ``seconds``, ending at the next cycle boundary."""
    end = time.perf_counter() + seconds
    while time.perf_counter() < end or not wl.at_boundary():
        counts["attempted"] += 1
        try:
            kind, secs, ok = wl.step(clock)
        except Exception as e:  # noqa: BLE001 — a failed op is counted
            print(f"lakebench: operation failed: {e!r}", file=sys.stderr)
            counts["failed"] += 1
            continue
        if ok:
            lat.setdefault(kind, []).append(secs)
        else:
            print(f"lakebench: wrong result from {kind}", file=sys.stderr)
            counts["failed"] += 1


def _end_to_end(lat, setups, rss_mb, counts) -> dict:
    from lakebench import stats
    if not lat:
        raise RuntimeError("no operation completed")
    # a cycle's operations at each kind's median latency over the run
    p50s = [stats.median(xs) for xs in lat.values()]
    return {
        "setup_s": (stats.median(setups), "s"),
        "ops_per_s": (len(p50s) / sum(p50s), "1/s"),
        "ok_ratio": (1.0 - counts["failed"] / counts["attempted"], "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def _e2e_kind_metrics(lat, extra) -> dict:
    """The per-kind latencies and workload ratios named in the layer map."""
    from lakebench import stats
    groups = {"scan": ("scan",), "warm_scan": ("warm_scan",),
              "time_travel": ("time_travel",),
              "append": ("append",), "merge": ("merge",),
              "dml": ("delete", "update"), "cdf_read": ("cdf",),
              "minhash": ("minhash",), "cosine_topk": ("cosine_topk",),
              "phash": ("phash",)}
    out = {}
    for name, kinds in groups.items():
        xs = [x for k in kinds for x in lat.get(k, ())]
        out[f"e2e.{name}_p50_s"] = stats.median(xs) if xs else 0.0
    out["e2e.write_amp"] = extra.get("write_amp", 0.0)
    out["e2e.space_amp"] = extra.get("space_amp", 0.0)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "connectors_spark",
                                       "__init__.py")):
        print("lakebench: connectors_spark/ not found next to lakebench/",
              file=sys.stderr)
        return 2
    # the package is imported from the root, so its module names (trace,
    # stats) cannot shadow the standard library's
    if sys.path and os.path.abspath(sys.path[0]) == HERE:
        sys.path.pop(0)
    sys.path.insert(0, ROOT)
    from lakebench import layers, stats
    from lakebench.trace import Recorder
    from lakebench.workloads import WORKLOADS, Clock
    if args.workload not in WORKLOADS:
        print(f"lakebench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".lakebench_tmp",
                           f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    os.environ["TMPDIR"] = workdir
    event_dir = os.path.join(workdir, "events") if args.trace else ""
    spark = None
    phases = {}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now
    try:
        spark, cores = _start_spark(workdir, event_dir)
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle
                      .current().pid())
        wl = WORKLOADS[args.workload](spark, workdir, args.seed)
        setups = []
        for _ in range(wl.setup_repeats):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        phase("start_and_setup")
        wrong = wl.warmup()
        phase("warmup")

        # a wrong warm-up result counts as one failed operation
        counts = {"attempted": wrong, "failed": wrong}
        lat: dict = {}
        # a traced run splits --seconds between its two phases, so it
        # lasts about as long as an untraced one
        seconds = args.seconds / 2 if args.trace else args.seconds
        _loop(wl, Clock(), seconds, lat, counts)
        phase("measure")
        rec = None
        if args.trace:
            rec = Recorder(spark)
            rec.install()
            traced_lat: dict = {}
            try:
                _loop(wl, Clock(rec), seconds, traced_lat, counts)
            finally:
                rec.uninstall()
            phase("traced")
        final_ok, extra = wl.finish()
        rss = {"python": stats.vm_hwm_mb(os.getpid()),
               "jvm": stats.vm_hwm_mb(jvm_pid)}
        phase("finish")
        _stop_spark(spark)
        spark = None
        phase("stop")

        if not final_ok:
            print("lakebench: final table state differs from the model",
                  file=sys.stderr)
            counts["failed"] += 1
            counts["attempted"] += 1
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "setup_s": setups, "phases_s": phases,
                          "peak_rss_mb": rss,
                          "kinds": stats.summarize(lat), **extra}))
        if args.trace:
            logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
            with open(logs[0]) as f:
                events = layers.read_event_log(f)
            metrics = layers.layer_metrics(rec.ops, rec.spans, events, cores)
            metrics.update(_e2e_kind_metrics(lat, extra))
            base = stats.summarize(lat)
            traced = stats.summarize(traced_lat)
            common = [k for k in base if k in traced]
            metrics["trace.overhead_ratio"] = (
                sum(traced[k]["p50_s"] for k in common)
                / sum(base[k]["p50_s"] for k in common) - 1.0
                if common else 0.0)
            units = dict(layers.PER_LAYER)
            out = {k: {"value": metrics[k], "unit": units[k]}
                   for k, _ in layers.PER_LAYER}
            out_dir = os.path.join(ROOT, ".lakebench_out")
            os.makedirs(out_dir, exist_ok=True)
            rec.dump(os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        else:
            e2e = _end_to_end(lat, setups, sum(rss.values()), counts)
            out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        correct = counts["failed"] == 0
        print(json.dumps({"correct": correct,
                          "attempted": counts["attempted"],
                          "failed": counts["failed"], "metrics": out}))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:     # another run's directory is still there
            pass


if __name__ == "__main__":
    sys.exit(main())
