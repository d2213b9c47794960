"""Benchmark runner for the ingestor service.

    python3 ingestor_bench/run.py --workload climate_api --seed 1 --seconds 10 --trace 0

Run from the repository root. One run: generate seeded inputs, start one
Spark session (``local[4]``, a pre-touched 2 GiB heap), run every request
of the workload's mix twice to warm it, drive the closed-loop clients
through the run's rounds, check every executed operation against
DuckDB, stop Spark and wait for its processes, and delete the run's
files. Spark and worker output go to stderr; stdout carries two lines:
a context record, then the result JSON. With ``--trace 0`` the result
holds the end-to-end metrics, with ``--trace 1`` the per-layer metrics
(the layer wrappers are installed only then). The exit code is 0 only
when every check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
MASTER = "local[4]"
HEAP = "2g"


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when there are too few samples."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def per_kind(ops: list[dict]) -> dict[str, dict]:
    kinds: dict[str, list[float]] = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["latency_s"])
    return {k: {"n": len(v), "p50_s": statistics.median(v), "min_s": min(v),
                "max_s": max(v)}
            for k, v in sorted(kinds.items())}


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def source_sha() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "pygeoapi_ingestor_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    """HEAD of the checkout, or None when it is not a git work tree root."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def stream_stats(ops: list[dict]) -> dict[str, float]:
    """Rows/s from progress events: input rows over ``triggerExecution``
    of the non-empty batches."""
    rows = ms = 0
    for o in ops:
        for p in o.get("progress", []):
            if p.get("numInputRows", 0) > 0:
                rows += p["numInputRows"]
                ms += p["durationMs"].get("triggerExecution", 0)
    return {"stream_rows_per_s": rows / (ms / 1000.0) if ms else 0.0}


def workload_stats(ops: list[dict]) -> dict[str, float]:
    ingests = [o for o in ops if o["kind"] == "ingest" and o["ok"]]
    ticks = [o for o in ops if o["kind"] == "tick" and o["ok"]]
    out = {
        "ingest_p50_s": statistics.median(o["latency_s"] for o in ingests) if ingests else 0.0,
        "ingest_rows_per_s": (sum(o["rows"] for o in ingests)
                              / sum(o["latency_s"] for o in ingests)) if ingests else 0.0,
        "tick_p50_s": statistics.median(o["latency_s"] for o in ticks) if ticks else 0.0,
    }
    out.update(stream_stats(ticks))
    return out


def stop_spark(spark) -> None:
    """Stop the SparkContext and wait until the driver JVM and every
    process it started have exited (escalating to signals)."""
    from pyspark import SparkContext

    from ingestor_bench import probes

    started = {p: probes._stat_fields(p)[19] for p in probes.descendants(os.getpid())
               if probes._stat_fields(p)}
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 20
        sent = None
        while True:
            alive = []
            for pid, start in started.items():
                f = probes._stat_fields(pid)
                if f and f[19] == start and f[0] != "Z":
                    alive.append(pid)
            if not alive:
                return
            left = deadline - time.monotonic()
            sig = signal.SIGKILL if left < 5 else signal.SIGTERM if left < 15 else None
            if sig is not None and sig != sent:
                for pid in alive:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
                sent = sig
            if left < 0:
                raise RuntimeError(f"processes still alive after teardown: {alive}")
            time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # keep Spark, log4j and Python-worker output off the result stream
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # no JVM hsperfdata under /tmp: a run writes only inside the checkout
    os.environ.update(TMPDIR=work, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
                      SPARK_LAUNCHER_OPTS="-XX:-UsePerfData", TZ="UTC")
    time.tzset()
    import tempfile

    tempfile.tempdir = work
    sys.path.insert(0, ROOT)
    spark = sampler = patches = None
    try:
        from ingestor_bench import datagen, probes, workloads

        proc_start = probes.process_start_epoch(os.getpid())
        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"expected one of {sorted(workloads.WORKLOADS)}")
        from pygeoapi_ingestor_spark import session

        spans, counters = probes.Spans(), {}
        if args.trace:
            patches = probes.install_layer_spans(spans, counters)
        sf_dir = os.path.join(work, "sf")
        phases = {"imports": time.time() - proc_start}
        datagen.write_tables(sf_dir, args.seed)
        phases["inputs"] = time.time() - proc_start
        spark = session.get_spark(
            app_name=f"ingestor_bench-{args.workload}", master=MASTER,
            shuffle_partitions=4,
            extra_conf={
                "spark.driver.memory": HEAP,
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(work, "local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                # a pre-touched heap keeps the JVM's share of peak PSS from
                # depending on when G1 happens to grow the heap: without it,
                # peak PSS spread 0.20 over ten seeds on ingest_ticks. The
                # price: peak PSS cannot see how much of the heap is used
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={work} -XX:-UsePerfData "
                    f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        sampler = probes.TreeSampler(
            0.05 if args.trace else 0.2,
            storage=(lambda: probes.storage_mb(spark)) if args.trace else None,
        ).start()
        env = workloads.Env(spark, work, sf_dir, args.seed, bool(args.trace))
        workload = workloads.WORKLOADS[args.workload](env)
        phases["session"] = time.time() - proc_start
        workload.setup()
        phases["warm"] = time.time() - proc_start

        # ---- timed window
        first_job_id = probes.next_job_id(spark) if args.trace else 0
        sampler.sample()
        sampler.reset_peaks()
        workers_before = set(sampler.worker_pids)
        jvm = sampler.jvm_pid()
        steal0, total0 = probes.cpu_times()
        cpu0, py0 = sampler.tree_cpu_s(), sampler.python_cpu_s()
        jvm0 = probes.proc_cpu_s(jvm, children=False)
        gc0 = probes.jvm_gc_s(spark) if args.trace else 0.0
        setup_s = time.time() - proc_start
        ops, w0, w1 = workloads.run_window(workload, args.seconds, args.seed, first_job_id)
        cpu1, py1 = sampler.tree_cpu_s(), sampler.python_cpu_s()
        jvm1 = probes.proc_cpu_s(jvm, children=False)
        steal1, total1 = probes.cpu_times()
        sampler.sample()
        peak_pss = sampler.peak_pss_mb
        if args.trace:
            gc1 = probes.jvm_gc_s(spark)
            storage_end, storage_peak = probes.storage_mb(spark), sampler.storage_peak_mb
        workers_started = len(sampler.worker_pids - workers_before)

        # ---- checks
        errors = [o for o in ops if "error" in o]
        failures = [f"{o['kind']}: {o['error']}" for o in errors]
        failures += workload.check([o for o in ops if "error" not in o])
    finally:
        if patches is not None:
            patches.restore()
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    n = len(ops)
    window_s = w1 - w0
    lat = [o["latency_s"] for o in ops]
    tail_s, tail_pct, tail_n = tail(lat)
    kinds = per_kind(ops)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (n / window_s, "1/s"),
        "op_p50_s": (geomean(k["p50_s"] for k in kinds.values()), "s"),
        "cpu_s_per_op": ((cpu1 - cpu0) / n, "s"),
        "peak_pss_mb": (peak_pss, "MB"),
    }
    extra = workload_stats(ops)
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": MASTER, "driver_heap": HEAP, "git_commit": git_commit(),
        "source_sha": source_sha(),
        "steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "setup_phases_end_s": phases, "window_s": window_s, "ops": n,
        "tail_s": tail_s, "tail_percentile": tail_pct, "tail_n": tail_n,
        "failed_frac": len(failures) / n, "failures": failures[:10],
        "per_kind": kinds,
        "ops_in_order": [[o["kind"], o["latency_s"]] for o in sorted(ops, key=lambda o: o["t0"])],
        "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
        **extra,
    }
    if args.trace:
        t = spans.totals(w0, w1)
        whole = spans.totals(0.0, float("inf"))

        def tot(name, field="total_s", agg=t):
            return agg.get(name, {}).get(field, 0.0)

        def counted(name):
            return sum(a for ts, a in counters.get(name, []) if w0 <= ts <= w1)

        spark_counts = [c for o in ops for c in o["spark"]]
        ticks = [o for o in ops if o["kind"] == "tick"]
        progress = [p for o in ticks for p in o.get("progress", [])]
        state = [s.get("numRowsTotal", 0) for s in (progress[-1].get("stateOperators", [])
                                                    if progress else [])]

        def dur(key):
            return sum(p["durationMs"].get(key, 0) for p in progress) / 1000.0 / n

        metrics = {
            "session.get_spark_s": (tot("session.get_spark", agg=whole), "s"),
            "session.ship_s": (tot("session.ship", agg=whole), "s"),
            "session.jvm_gc_s": ((gc1 - gc0) / n, "s/op"),
            "session.jvm_cpu_s_per_op": ((jvm1 - jvm0) / n, "s/op"),
            "plans.build_s": (tot("plans.build") / n, "s/op"),
            "plans.spark_jobs_per_op": (sum(c[0] for c in spark_counts) / n, "1/op"),
            "plans.spark_stages_per_op": (sum(c[1] for c in spark_counts) / n, "1/op"),
            "plans.spark_tasks_per_op": (sum(c[2] for c in spark_counts) / n, "1/op"),
            "operators.python_cpu_s_per_op": ((py1 - py0) / n, "s/op"),
            "operators.python_workers_started_per_op": (workers_started / n, "1/op"),
            "api.queue_wait_s": (sum(o.get("queue_wait_s", 0.0) for o in ops) / n, "s/op"),
            "api.execute_self_s": (tot("api.execute", "self_s") / n, "s/op"),
            "api.items_s": (tot("api.items") / n, "s/op"),
            "scheduler.finalize_s": (tot("scheduler.finalize") / n, "s/op"),
            "scheduler.finalize_calls": (tot("scheduler.finalize", "n") / n, "1/op"),
            "scheduler.cached_mb_peak": (storage_peak, "MB"),
            "scheduler.cached_mb_end": (storage_end, "MB"),
            "processes.execute_self_s": (tot("processes.execute", "self_s") / n, "s/op"),
            "processes.ingest_p50_s": (extra["ingest_p50_s"], "s"),
            "processes.ingest_rows_per_s": (extra["ingest_rows_per_s"], "1/s"),
            "sources.fetch_s": (tot("sources.fetch") / n, "s/op"),
            "sources.staged_bytes": (counted("sources.staged_bytes") / n, "B/op"),
            "sinks.write_s": (tot("sinks.write") / n, "s/op"),
            "sinks.extents_s": (tot("sinks.extents") / n, "s/op"),
            "sinks.register_s": (tot("sinks.register") / n, "s/op"),
            "sinks.bytes_written": (counted("sinks.bytes_written") / n, "B/op"),
            "sinks.files_written": (counted("sinks.files_written") / n, "1/op"),
            "streaming.tick_s": (tot("streaming.tick") / n, "s/op"),
            "streaming.tick_p50_s": (extra["tick_p50_s"], "s"),
            "streaming.stream_rows_per_s": (extra["stream_rows_per_s"], "1/s"),
            "streaming.batches_per_tick": (len(progress) / len(ticks) if ticks else 0.0,
                                           "count"),
            "streaming.add_batch_s": (dur("addBatch"), "s/op"),
            "streaming.query_planning_s": (dur("queryPlanning"), "s/op"),
            "streaming.wal_commit_s": (dur("walCommit"), "s/op"),
            "streaming.latest_offset_s": (dur("latestOffset"), "s/op"),
            "streaming.state_rows": (float(sum(state)), "count"),
        }
    else:
        metrics = end_to_end
    correct = not failures
    result = {
        "correct": correct, "attempted": n, "failed": min(len(failures), n),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    result_out.write(json.dumps({"context": context}) + "\n")
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
