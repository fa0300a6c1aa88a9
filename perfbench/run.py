#!/usr/bin/env python3
"""Benchmark of the Terraform engine: one closed-loop client, one workload.

    python3 perfbench/run.py --workload tf_config_scan --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Everything runs in one process on
``local[<cores>]``; the client sends the next op only after the previous one
returned and its output was checked. The seed fixes the generated corpus and
the op sequence; the package sees only the generated files.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics (see layers.py). The last stdout line is the JSON result;
the line before it carries the run's environment, host noise and op counts.
All scratch files live under ``perfbench_out/`` in the checkout and are
removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PREP_REPS = 3  # set-up runs this many times; setup_s reports the median
JOB_FLOOR_REPS = 3
_ENV_KEYS = ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "PYTHONPATH", "PYSPARK_SUBMIT_ARGS", "JAVA_TOOL_OPTIONS")


def _env(work: str, trace: bool) -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gib = int(f.readline().split()[1]) / 2**20
    # local[N] keeps all executors in the driver JVM; a sixteenth of the box
    # (1g to 2g) holds these corpora with room for other tenants
    driver_gb = max(1, min(2, round(mem_gib / 16)))
    submit = [
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={work}/warehouse",
        # the heap is committed up front, so peak RSS does not hinge on when
        # the collector chose to grow it
        f'--driver-java-options "-XX:+AlwaysPreTouch -Xms{driver_gb}g"',
    ]
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{work}/events",
            # one plain JSON-lines file, readable without a codec
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.eventLog.compress=false",
        ]
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_gb}g",
        # Python workers import the package from the checkout, whatever the cwd
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": f"{work}/tmp",
        # every JVM, the spark-submit launcher included, keeps its temp and
        # perf-data files out of /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "PYSPARK_SUBMIT_ARGS": " ".join(submit) + " pyspark-shell",
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def run(args, work: str) -> dict:
    sys.path[:0] = [HERE, ROOT]
    from steampipe_plugin_terraform_spark.session import get_spark
    import layers as T
    import workloads as W

    if args.workload not in W.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; expected one of {sorted(W.WORKLOADS)}")
    t_setup = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t_setup
    floors = []
    for _ in range(JOB_FLOOR_REPS + 1):
        t0 = time.perf_counter()
        W.noop(spark.range(1))
        floors.append(time.perf_counter() - t0)
    session_s = time.perf_counter() - t_setup
    tracer = T.Tracer(spark)
    if args.trace:
        tracer.install()
        tracer.active = True
    try:
        wl = W.WORKLOADS[args.workload](spark, work, args.seed)
        prep = []
        for k in range(PREP_REPS):
            t0 = time.perf_counter()
            wl.prepare(k)
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for j in range(wl.warmup_ops):
            if not wl.check(j, wl.op(j)):
                raise RuntimeError(f"{args.workload}: warm-up op does not match the corpus model")
        tracer.active = False
        setup_s = session_s + statistics.median(prep) + time.perf_counter() - t0

        lat: list[float] = []
        traced_lat: list[float] = []
        failed = 0
        host0 = T.read_cpu()
        t_start = time.perf_counter()
        # op ids continue after the warm-up ops, so cyclic op mixes go on
        # where the warm-up left them
        first = i = wl.warmup_ops
        while True:
            now = time.perf_counter() - t_start
            # a traced run traces every other op, so the two halves see the
            # same warm-up state and their difference is the tracing overhead
            tracer.active = bool(args.trace) and (i - first) % 2 == 1
            if now >= args.seconds and (not args.trace or i - first >= 2):
                break
            t0 = time.perf_counter()
            try:
                with tracer.op_scope(i):
                    out = wl.op(i)
            except Exception as e:  # a failed op counts into error_rate; the loop goes on
                print(f"perfbench: op {i} raised {type(e).__name__}: {e}", file=sys.stderr)
                failed += 1
                i += 1
                continue
            dt = time.perf_counter() - t0
            (traced_lat if tracer.active else lat).append(dt)
            try:
                ok = wl.check(i, out)
            except Exception as e:
                print(f"perfbench: check {i} raised {type(e).__name__}: {e}", file=sys.stderr)
                ok = False
            if not ok:
                print(f"perfbench: op {i} output does not match the model", file=sys.stderr)
                failed += 1
            if tracer.active:
                wl.trace_counts(tracer, i, out)
            i += 1
        wall = time.perf_counter() - t_start
        host1 = T.read_cpu()
        attempted = i - first
        rss = T.peak_rss_mb(os.getpid())
        tracer.active = False

        all_lat = lat + traced_lat
        if not all_lat:
            raise RuntimeError("no op completed")
        host = T.host_delta(host0, host1)
        detail = {
            "workload": args.workload, "seed": args.seed, "ops": len(all_lat), "attempted": attempted,
            "failed": failed, "error_rate": failed / max(attempted, 1),
            "window_s": wall, "host": host, "files": len(wl.corpus.files), "corpus_bytes": wl.corpus.n_bytes,
            "setup_reps_s": prep, "op_ms": [round(x * 1e3, 1) for x in all_lat],
            "env": {k: v for k, v in os.environ.items() if k in _ENV_KEYS},
        }
        if not args.trace:
            metrics = {
                "op_p50_ms": (statistics.median(lat) * 1e3, "ms"),
                # scan and watch runs make 4 to 11 ops, too few for any
                # percentile to have 10 ops beyond it, so the tail is the
                # slowest op
                "op_tail_ms": (max(lat) * 1e3, "ms"),
                "ops_per_s": (len(lat) / wall, "1/s"),
                # a scan op reads every file; a warm op covers the whole
                # cached corpus, so the same rate is files covered per second
                "files_per_s": (len(wl.corpus.files) * len(lat) / sum(lat), "1/s"),
                "peak_rss_mb": (rss, "MB"),
                "setup_s": (setup_s, "s"),
            }
        else:
            detail["spans"] = tracer.summary()
            metrics = layer_metrics(tracer, wl, start_s, floors, lat, traced_lat, host)
    except BaseException:
        _stop(spark)
        raise
    _stop(spark)
    if args.trace:
        groups = {f"perfbench-op-{op}" for op in tracer.jobs}
        for k, v in T.parse_event_log(f"{work}/events", groups).items():
            metrics[k] = (v, "s" if k.endswith("_s") else "bytes")
    return {
        "detail": detail,
        "result": {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def layer_metrics(tracer, wl, start_s, floors, lat, traced_lat, host) -> dict:
    import layers as T
    import workloads as W

    med = T.median
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    jobs = list(tracer.jobs.values())
    m = {
        "session.start_s": (start_s, "s"),
        "session.job_floor_ms": (med(floors[1:]) * 1e3, "ms"),
        "discover.calls": (tracer.count_per_op("discover.calls"), "count"),
        "discover.files": (tracer.count_per_op("discover.files"), "count"),
        "discover.busy_s": (med(tracer.per_op("discover")), "s"),
        "engine.construct_s": (med(tracer.per_op("engine.construct")), "s"),
        "sql.register_views_s": (tracer.setup_span("sql.register_views") / PREP_REPS, "s"),
        "sql.jobs_per_op": (sum(j[0] for j in jobs) / len(jobs), "count"),
        "sql.stages_per_op": (sum(j[1] for j in jobs) / len(jobs), "count"),
        "sql.tasks_per_op": (sum(j[2] for j in jobs) / len(jobs), "count"),
    }
    for q in W.QUERY_MIX:
        m[f"sql.{q}_ms"] = (tracer.count_per_op(f"sql.{q}_ms"), "ms")
    # scan layers: the op is the scan; the binaryFile read alone is timed
    # after the window on the same files; the parse layers come from a
    # serial replay
    scan_s = med(traced_lat) if wl.scans else 0.0
    read_s = 0.0
    replay = T.replay([])
    if wl.scans:
        eng = wl.engine()
        reader = wl.spark.read.format("binaryFile")
        reads = []
        for _ in range(3):
            t0 = time.perf_counter()
            W.noop(reader.load([p for p, _ in eng.files]))
            reads.append(time.perf_counter() - t0)
        read_s = med(reads)
        replay = T.replay(eng.files)
    serial = replay["rows.build_config_s"] + replay["rows.build_state_s"] + replay["rows.build_plan_s"]
    m.update({
        "engine.read_s": (read_s, "s"),
        "engine.scan_s": (scan_s, "s"),
        "engine.tasks": (sum(j[2] for j in jobs) / len(jobs) if wl.scans else 0.0, "count"),
        "engine.overhead_s": (scan_s - read_s - serial / cpus if wl.scans else 0.0, "s"),
    })
    units = {"hcl.bytes_per_s": "B/s", "rows.rows_built": "count", "jsonpos.calls": "count",
             "jsonpos.lines_per_call": "lines"}
    m.update({k: (v, units.get(k, "s")) for k, v in replay.items()})
    poll, refresh = tracer.per_op("watch.poll"), tracer.per_op("engine.refresh")
    m.update({
        "watch.poll_s": (med(poll), "s"),
        "engine.refresh_s": (med(refresh), "s"),
        "watch.detect_s": (med([p - r for p, r in zip(poll, refresh)]), "s"),
        "watch.changed_files": (tracer.count_per_op("watch.changed_files"), "count"),
        "engine.refresh_rows": (tracer.count_per_op("engine.refresh_rows"), "count"),
        "engine.refresh_useful_ratio": (tracer.count_per_op("engine.refresh_useful"), "ratio"),
        "host.steal_ticks": (host["steal_ticks"], "count"),
        "host.cpu_busy_frac": (host["cpu_busy_frac"], "ratio"),
        "trace.overhead_ms": ((med(traced_lat) - med(lat)) * 1e3, "ms"),
    })
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, "perfbench_out", f"run-{os.getpid()}")
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(_env(work, bool(args.trace)))
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print("perfbench detail: " + json.dumps(out["detail"], sort_keys=True))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
