"""Benchmark entry point.

Usage (from the repository root)::

    python3 perfbench/run.py --workload kg_populate --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` measures the
workload once untraced and once traced and reports the per-layer metrics and
the tracing overhead. Human-readable lines come first; the last line of
standard output is one JSON object. The exit code is nonzero when any answer
fails its check, and 2 when the program under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUP_REPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work_dir: str, cores: int, traced: bool):
    """A local SparkSession whose warehouse and temporary files stay under
    ``work_dir``; the UI (and its REST API) is on only when tracing."""
    from bio2bel_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        warehouse=os.path.join(work_dir, "spark-warehouse"),
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.driver.extraJavaOptions":
                f"-Xms1g -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if traced else "false",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, shut its JVM down, and wait until every process this one
    started (the JVM, Python workers) has ended."""
    from pyspark import SparkContext

    from tracing import process_tree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(process_tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)


def measure(args, cores: int, work_dir: str) -> tuple[dict, list, int, list]:
    """Set up, warm up and measure one workload. Returns (metrics, printable
    rows, attempted, failures).

    Declared wall-clock figures are scaled by the share of CPU time the host
    did not steal from the benchmark's machine during the phase they cover (see
    ``HostCpu``); the raw figures are printed alongside."""
    import spec
    from tracing import HostCpu, RssSampler, Tracer, attribute_engine, by_name, tree_cpu_s
    from workloads import WORKLOADS

    traced = bool(args.trace)
    tracer = Tracer(enabled=False)
    wl = WORKLOADS[args.workload](args.seed, work_dir, tracer)
    with RssSampler() as rss:
        # set-up = session start (once: it launches the JVM) + the median of
        # three rounds of input generation and pre-populate + one warm-up
        host = HostCpu()
        t0 = time.perf_counter()
        tracer.enabled = traced  # the session span; set-up is otherwise untraced
        with tracer.span("session.get_spark"):
            spark = start_session(work_dir, cores, traced)
        tracer.enabled = False
        session_s = time.perf_counter() - t0
        rep_times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(spark, rep)
            rep_times.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                wl.teardown()
                shutil.rmtree(wl.rep_dir(rep))
        setup_steal = host.steal_share()
        wl.truth()
        host = HostCpu()
        t0 = time.perf_counter()
        checked = [wl.warmup()]
        warm_s = time.perf_counter() - t0
        warm_steal = host.steal_share()
        rep_s = statistics.median(rep_times)
        setup_raw = session_s + rep_s + warm_s
        setup_s = (session_s + rep_s) * (1 - setup_steal) + warm_s * (1 - warm_steal)

        host, cpu0 = HostCpu(), tree_cpu_s()
        run = wl.run(args.seconds)
        steal, cpu_s = host.steal_share(), tree_cpu_s() - cpu0
        checked.append(run)
        raw, lat_s, n_lat = wl.summary(run)
        throughput = raw / (1 - steal)
        rows = [("setup_s", setup_s, "s", SETUP_REPS),
                ("setup.raw_s", setup_raw, "s", SETUP_REPS),
                ("setup.session_s", session_s, "s", 1),
                ("setup.populate_s", rep_s, "s", SETUP_REPS),
                ("setup.warmup_s", warm_s, "s", 1)]
        rows += [(n, v, u, k) for n, (v, u, k) in wl.headline(run).items()]
        rows += [("host.cpu_steal_share", steal, "ratio", 1),
                 ("cpu_s_per_unit", cpu_s / run.work, "s", 1),
                 ("throughput_per_s.raw", raw, "1/s", 1),
                 ("throughput_per_s", throughput, "1/s", 1)]
        if not traced:
            metrics = {
                "throughput_per_s": throughput,
                "latency_ms.p50": lat_s * 1e3 * (1 - steal),
                "setup_s": setup_s,
            }
            rows.append(("latency_ms.p50.raw", lat_s * 1e3, "ms", n_lat))
            rows.append(("latency_ms.p50", metrics["latency_ms.p50"], "ms", n_lat))
        else:
            tracer.enabled, tracer.sc = True, spark.sparkContext
            wl.start_tracing()
            host = HostCpu()
            traced_run = wl.run(args.seconds)
            traced_throughput = wl.summary(traced_run)[0] / (1 - host.steal_share())
            checked.append(traced_run)
            engine = attribute_engine(tracer, spark.sparkContext, cores)
            tracer.enabled, tracer.sc = False, None
            spans = by_name(tracer.spans)
            metrics = {"session.get_spark.s": session_s}
            metrics.update(wl.layer_metrics(traced_run, spans))
            n_ops = sum(len(v) for v in traced_run.latencies.values())
            metrics.update({f"engine.{m}": v for m, v in engine.items()})
            metrics["engine.jobs_per_op"] = engine["jobs"] / max(1, n_ops)
            metrics["tracing.spans"] = len(tracer.spans)
            metrics["tracing.overhead_ratio"] = throughput / traced_throughput - 1
            rows.append(("tracing.traced_throughput_per_s", traced_throughput, "1/s", 1))
            for name in spec.LAYER_MAP:
                metrics.setdefault(name, 0.0)  # a layer this workload never calls
            os.makedirs(WORK, exist_ok=True)
            tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        wl.teardown()
        stop_session(spark)
    if not traced:
        metrics["peak_rss_mb"] = rss.peak / 2**20
        rows.append(("peak_rss_mb", metrics["peak_rss_mb"], "MB", 1))
    attempted = sum(r.attempted for r in checked)
    failures = [f for r in checked for f in r.failures]
    return metrics, rows, attempted, failures


def run_all(args) -> int:
    """Run every workload in its own process and print all their figures."""
    from workloads import WORKLOADS

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        print(f"== {name}", flush=True)
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        code = code or proc.returncode
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            merged["correct"] = False
            continue
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for m, v in res["metrics"].items():
            merged["metrics"][f"{name}.{m}"] = v
    print(json.dumps(merged))
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import bio2bel_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    import spec

    if args.workload == "all":
        return run_all(args)
    names = [w["name"] for w in spec.WORKLOADS]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r} (one of {names} or all)",
              file=sys.stderr)
        return 2
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # few malloc arenas keep the JVM's native memory, and so peak RSS, steady
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    work_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    # every scratch file of this process and its children stays in work_dir
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    tempfile.tempdir = None
    try:
        metrics, rows, attempted, failures = measure(args, cores, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    load1, _, _ = os.getloadavg()
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} nproc={os.cpu_count()} spark_cores={cores} "
          f"loadavg_1m={load1:.2f}")
    units = {m["name"]: m["unit"] for m in spec.END_TO_END + spec.PER_LAYER}
    for name, value, unit, n in rows:
        shown = "n/a (fewer than 10 samples beyond p90)" if value is None else f"{value:.6g}"
        print(f"  {name:44s} {shown} {unit}  (samples={n})")
    print(f"  {'error_rate':44s} {len(failures) / max(1, attempted):.6g} ratio  "
          f"(failed={len(failures)} attempted={attempted})")
    for f in failures[:50]:
        print(f"  CHECK FAILED: {f}")
    result = {
        "correct": not failures,
        "attempted": max(1, attempted),
        "failed": len(failures),
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in sorted(metrics.items())},
    }
    print(json.dumps(result))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    raise SystemExit(main())
