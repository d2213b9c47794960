"""The three closed-loop workloads.

Every client waits for its reply before sending its next request. A run
is a whole number of rounds; a round is a seeded permutation of the
workload's full request mix, and the clients take its requests in order
from one shared queue. The number of rounds is ``--seconds`` over the
workload's nominal round length at the commit that defined the
benchmark (``round_s``), rounded, at least one: every run does the same
work, so sample counts and the tail percentile are the same in every run.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from ingestor_bench import checks, datagen, probes

POLL_S = 0.002
WARM_WORKERS = 4
# the JIT is still speeding requests up after their first run: a second
# warm-up pass keeps that drift out of the timed window
WARM_PASSES = 2
TERMINAL = ("successful", "failed", "dismissed", "not-found")

# reference-parity keys whose plans run no Python worker. Left out:
# danger_levels_weekly, whose round(x, 6) disagrees with its DuckDB twin
# when x sits just below a decimal tie (Spark rounds the shortest decimal
# repr half-up, DuckDB the binary value): seed 204 gives 130.8484375 ->
# 130.848438 vs 130.848437.
CLIMATE_KEYS = [
    "resample_daily_sum", "resample_monthly_scaled", "zonal_stats",
    "ensemble_quantiles", "bias_correction_qmap", "threshold_categorize",
    "rating_curve_interp", "precip_deficit_cumsum",
    "regrid_snap_agg", "select_time_range",
]
# oracled keys whose plans run mapInPandas/applyInPandas kernels
KERNEL_KEYS = [
    "embedding_quantize_int8", "sim_search_ivf", "dedup_minhash_lsh",
    "dedup_simhash", "semdedup_clusters",
]
GRID = {"nx": 96, "ny": 64, "nt": 30}  # 184,320 cells
TICK_ROWS = 12_500
INGEST_ID = "cds_grid"
STREAM_ID = "event_windows"


class Env:
    """What a workload needs from the runner: the session, the run's work
    directory and inputs, and whether layer tracing is on."""

    def __init__(self, spark, work: str, sf_dir: str, seed: int, trace: bool):
        self.spark, self.work, self.sf_dir = spark, work, sf_dir
        self.seed, self.trace = seed, trace
        self._n = 0
        self._lock = threading.Lock()

    def group(self) -> str:
        with self._lock:
            self._n += 1
            return f"bench-op-{self._n:06d}"

    def in_group(self, group: str | None, fn, *args, **kwargs):
        """Run ``fn`` under Spark job group ``group`` (traced runs only),
        so the status tracker can attribute its jobs to one operation."""
        if group is None:
            return fn(*args, **kwargs)
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            return fn(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)


class Workload:
    name = ""
    clients = 1
    round_s = 1.0  # nominal round length on the 4-core host (see run_window)

    def __init__(self, env: Env):
        self.env = env

    def mix(self) -> list[dict]:
        raise NotImplementedError

    def setup(self) -> None:
        """Build the service objects and warm every request of the mix."""

    def execute(self, req: dict) -> dict:
        """Run one request; returns its op record (``kind``, ``ok``,
        ``groups`` and whatever the checks need)."""
        raise NotImplementedError

    def check(self, ops: list[dict]) -> list[str]:
        raise NotImplementedError


def run_window(workload: Workload, seconds: float, seed: int,
               first_job_id: int) -> tuple[list[dict], float, float]:
    """Drive ``workload.clients`` closed-loop clients through the run's
    rounds. Traced runs count per op only the Spark jobs with an id of at
    least ``first_job_id``: set-up may have used the same job groups.
    Returns (op records, window start, window end)."""
    mix = workload.mix()
    rng = random.Random(seed)
    rounds = max(1, round(seconds / workload.round_s))
    queue = [req for _ in range(rounds) for req in rng.sample(mix, len(mix))]
    queue.reverse()
    ops: list[dict] = []
    lock = threading.Lock()

    def client(i: int) -> None:
        while True:
            with lock:
                if not queue:
                    return
                req = queue.pop()
            t0 = time.perf_counter()
            try:
                rec = workload.execute(req)
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                rec = {"kind": req["kind"], "ok": False, "error": repr(e)[:300],
                       "groups": []}
            rec.update(t0=t0, t1=time.perf_counter(), client=i)
            rec["latency_s"] = rec["t1"] - t0
            if workload.env.trace:
                # read now: the status tracker keeps only the last 200 jobs
                rec["spark"] = [probes.group_task_counts(workload.env.spark, g, first_job_id)
                                for g in rec["groups"]]
            with lock:
                ops.append(rec)

    t_start = time.perf_counter()
    with ThreadPoolExecutor(workload.clients) as pool:
        for fut in [pool.submit(client, i) for i in range(workload.clients)]:
            fut.result()
    return ops, t_start, time.perf_counter()


# ---------------------------------------------------------------- API


class _ApiWorkload(Workload):
    keys: list[str] = []
    max_workers = 4

    def setup(self) -> None:
        from pygeoapi_ingestor_spark.api import JobManager, ProcessAPI
        from pygeoapi_ingestor_spark.plans import ORACLES

        missing = [k for k in self.keys if k not in ORACLES]
        if missing:
            raise RuntimeError(f"keys without a DuckDB twin cannot be checked: {missing}")
        self.oracles = ORACLES
        self.api = ProcessAPI(default_sf_dir=self.env.sf_dir)
        # warm every catalog request, one per core at a time. This manager
        # numbers its jobs (the Spark job groups) like the timed one, so
        # the window counts only Spark jobs newer than its first_job_id
        warm = JobManager(self.api, max_workers=WARM_WORKERS)
        for _ in range(WARM_PASSES):
            for jid in [warm.submit(self.env.spark, k, {}) for k in self.keys]:
                while warm.status(jid)["status"] not in TERMINAL:
                    time.sleep(POLL_S)
                res = warm.result(jid)
                if res is None or res.get("status") != "successful":
                    raise RuntimeError(f"warm-up job failed: {res}")
        self.jobs = JobManager(self.api, max_workers=self.max_workers)

    def mix(self) -> list[dict]:
        return [{"kind": k, "type": "job"} for k in self.keys]

    def execute(self, req: dict) -> dict:
        key = req["kind"]
        t0 = time.perf_counter()
        jid = self.jobs.submit(self.env.spark, key, {})
        started = None
        while True:
            st = self.jobs.status(jid)["status"]
            if started is None and st != "accepted":
                started = time.perf_counter()
            if st in TERMINAL:
                break
            time.sleep(POLL_S)
        res = self.jobs.result(jid)
        return {"kind": key, "type": "job", "key": key, "result": res,
                "ok": res is not None and res.get("status") == "successful",
                "queue_wait_s": started - t0, "groups": [jid]}

    def check(self, ops: list[dict]) -> list[str]:
        con = checks.connect(self.env.sf_dir)
        try:
            jobs = [o for o in ops if o["type"] == "job"]
            return checks.check_catalog_jobs(con, self.oracles, jobs)
        finally:
            con.close()


class ClimateApi(_ApiWorkload):
    """REST read surface: 2 clients, ``JobManager(max_workers=2)``, the
    climate catalog keys plus keyset item pages over a day-partitioned
    collection."""

    name = "climate_api"
    round_s = 5.4
    clients = 2
    max_workers = 2
    keys = CLIMATE_KEYS

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from pygeoapi_ingestor_spark.sinks import collections as sinks

        spark = self.env.spark
        self.collection = os.path.join(self.env.work, "collections", "events_by_day")
        events = spark.read.parquet(f"{self.env.sf_dir}/events.parquet")
        sinks.write_collection(
            events.select(
                "*",
                (F.lit(-10.0) + (F.col("user_id") % 10) * 2.5).alias("lon"),
                (F.lit(35.0) + ((F.col("user_id") / 10).cast("long") % 10) * 1.5)
                .alias("lat"),
                F.to_date("ts").alias("day"),
            ),
            self.collection, partition_by=["day"],
        )
        super().setup()
        for req in self.items_requests():
            self._items(req)

    def items_requests(self) -> list[dict]:
        rng = random.Random(self.env.seed)
        d = rng.randint(1, 20)
        t = rng.choice(datagen.EVENT_TYPES)
        base = {"sort_col": "event_id", "limit": 100}
        return [
            dict(base, name="first_page_day_type",
                 datetime_range=(f"2024-01-{d:02d}", f"2024-01-{d + 3:02d}"),
                 properties={"event_type": t}, after=None),
            dict(base, name="keyset_bbox_week",
                 datetime_range=(f"2024-01-{d:02d}", f"2024-01-{d + 7:02d}"),
                 bbox=(-10.0, 35.0, 2.5, 41.0),
                 after=rng.randrange(20_000, 60_000)),
            dict(base, name="keyset_deep_type", properties={"event_type": t},
                 after=rng.randrange(60_000, 95_000)),
        ]

    def mix(self) -> list[dict]:
        return super().mix() + [
            {"kind": f"items:{r['name']}", "type": "items", "request": r}
            for r in self.items_requests()
        ]

    def _items(self, req: dict) -> dict:
        kwargs = {k: req.get(k) for k in
                  ("datetime_range", "bbox", "properties", "sort_col", "limit", "after")}
        return self.api.items(self.env.spark, self.collection, **kwargs)

    def execute(self, req: dict) -> dict:
        if req["type"] == "job":
            return super().execute(req)
        group = self.env.group() if self.env.trace else None
        resp = self.env.in_group(group, self._items, req["request"])
        return {"kind": req["kind"], "type": "items", "request": req["request"],
                "response": resp, "ok": True, "groups": [group] if group else []}

    def check(self, ops: list[dict]) -> list[str]:
        failures = super().check(ops)
        con = checks.connect(self.env.sf_dir)
        try:
            pages = [o for o in ops if o["type"] == "items"]
            return failures + checks.check_items_pages(con, self.collection, pages)
        finally:
            con.close()


class KernelJobs(_ApiWorkload):
    """1 client on ``JobManager``: the keys whose plans run Python kernels."""

    name = "kernel_jobs"
    round_s = 9.3
    clients = 1
    keys = KERNEL_KEYS


# ---------------------------------------------------------------- ingest


class IngestTicks(Workload):
    """1 client; a round is a forced CDS-grid re-ingest and a stream tick."""

    name = "ingest_ticks"
    round_s = 4.5
    clients = 1

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from pygeoapi_ingestor_spark.processes import IngestProcess
        from pygeoapi_ingestor_spark.sinks.collections import CollectionCatalog
        from pygeoapi_ingestor_spark.sources import external

        w = self.env.work
        self.catalog = CollectionCatalog(os.path.join(w, "catalog.json"))
        self.ingest_out = os.path.join(w, "collections", INGEST_ID)
        self.stream_out = os.path.join(w, "collections", STREAM_ID)
        self.drop_dir = os.path.join(w, "drop")
        self.checkpoint = os.path.join(w, "checkpoints", STREAM_ID)
        staging = os.path.join(w, "staging")
        seed = self.env.seed

        def fetch(spark):
            return external.ingest(
                spark, "cds", staging,
                fetch_fn=lambda d: external.fetch_cds_gridded(d, seed=seed, **GRID))

        def transform(df):
            return df.filter(F.col("tp") >= 0).withColumn("day", F.to_date("time"))

        self.proc = IngestProcess(
            INGEST_ID, fetch, transform, self.ingest_out, self.catalog,
            partition_by=["day"], ts_col="time", value_cols=["tp"],
        )
        self.params = {"token": os.environ.get(IngestProcess.TOKEN_ENV) or "bench"}
        self.ticks = 0
        self.ingests: list = []
        self.watermark = None
        with ThreadPoolExecutor(2) as pool:
            for _ in range(WARM_PASSES):
                warm = [pool.submit(self.execute, {"kind": k}) for k in ("ingest", "tick")]
                for fut in warm:
                    rec = fut.result()
                    if not rec["ok"]:
                        raise RuntimeError(f"warm-up {rec['kind']} failed: {rec}")

    def mix(self) -> list[dict]:
        return [{"kind": "ingest"}, {"kind": "tick"}]

    def execute(self, req: dict) -> dict:
        group = self.env.group() if self.env.trace else None
        if req["kind"] == "ingest":
            res = self.env.in_group(
                group, self.proc.execute, self.env.spark, self.params, force=True)
            self.ingests.append(res)
            rows = (res.extents or {}).get("n_rows", 0)
            return {"kind": "ingest", "ok": res.status == "OK", "rows": rows,
                    "groups": [group] if group else []}
        from pygeoapi_ingestor_spark.streaming import pipeline

        tick = self.ticks
        self.ticks += 1
        datagen.land_event_slice(self.drop_dir, self.env.seed, tick, TICK_ROWS)
        spark = self.env.spark
        q = self.env.in_group(
            group, pipeline.run_to_collection,
            pipeline.windowed_agg(pipeline.read_event_stream(spark, self.drop_dir)),
            STREAM_ID, self.stream_out, self.checkpoint, self.catalog,
            ts_col="window_start",
        )
        progress = [json.loads(p.json) for p in q.recentProgress]
        ok = q.exception() is None
        wm = [p.get("eventTime", {}).get("watermark") for p in progress]
        wm = [x for x in wm if x]
        if wm:
            self.watermark = max(wm)
        return {"kind": "tick", "ok": ok, "progress": progress,
                "groups": ([group] if group else []) + [str(q.runId)]}

    def check(self, ops: list[dict]) -> list[str]:
        con = checks.connect(self.env.sf_dir)
        try:
            failures = checks.check_ingests(
                con, self.ingest_out, self.ingests, "time", ["tp"])
            if self.watermark is None:
                return failures + ["stream: no progress event reported a watermark"]
            wm = self.watermark.replace("T", " ").rstrip("Z")
            return failures + checks.check_stream(con, self.drop_dir, self.stream_out, wm)
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (ClimateApi, KernelJobs, IngestTicks)}
