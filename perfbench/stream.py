"""``medallion_stream``: an open loop through the always-on runner.

Seeded 2,000-row slices land in ``landing/`` once a second (atomic
link) while the four hops run on 1 s processing-time triggers.  After
an untimed warm-up, a timed window feeds ``seconds`` slices; each
slice's freshness is the time from when it was due to the end of the
serving-hop micro-batch whose cumulative input covers its gold rows.
Then bursts of slices are dropped at once, one after another, each
timed until the serving store covers all of it.

The expected per-slice row counts and the final serving state come
from the batch twins (parse → dedup → silver → gold → latest) over the
same slices, computed during set-up.
"""

from __future__ import annotations

import concurrent.futures
import math
import os
import time

import numpy as np
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.obs import ProgressLog, attribute, engine_stats, pctl, status_snapshot
from telemetry_streaming_datalake_spark import datamodel as dm
from telemetry_streaming_datalake_spark.ingest.bronze import dedup_exact, parse_bronze
from telemetry_streaming_datalake_spark.ingest.silver import to_silver
from telemetry_streaming_datalake_spark.operators.latest import latest_metric
from telemetry_streaming_datalake_spark.operators.temporal import enrich_gold
from telemetry_streaming_datalake_spark.session import load_table, normalize_nano_ts
from telemetry_streaming_datalake_spark.streaming import runner as RN
from telemetry_streaming_datalake_spark.streaming.sinks import ParquetUpsertStore

#: the open-loop feed of the warm-up and the timed window: the
#: ``gen.Traffic`` defaults, 2,000-row slices at 1/s
TRAFFIC = gen.Traffic()
RATE = TRAFFIC.slices_per_s
#: the first slices of a fresh topology are served two to three times
#: slower than later ones; these are waited on before the window opens
WARMUP_SLICES = 4
#: after the window, BURSTS times 8,000 rows dropped at once.  Each
#: hop takes a burst on its next trigger, so a catch-up is a whole
#: number of trigger intervals plus the serving batch, one interval
#: more when a hop's batch overruns its interval; the mean of three
#: bursts keeps that step from deciding a run's figure
BURSTS = 3
BURST_SLICES = 4
#: the hops' processing-time triggers fire on whole epoch seconds.
#: Timed slices and bursts are published half a second past one, so
#: the phase between feeder and triggers, which moves a slice's
#: freshness by up to a whole interval, is the same in every run
PHASE_S = 0.5
#: every wait for the serving store ends by then (after the first
#: slice lands), so a stalled topology still ends the run with a result
RUN_BUDGET_S = 90.0
STORE_COLS = ["id", "remote_id", "metric_id", "provider_id", "unix_ts",
              "event_id", "value_double", "value_string", "category_id"]


def _twin(spark, inp: gen.StreamInputs):
    """Per-slice row counts each hop must read, and the expected final
    serving store, from the batch twins over every slice fed."""
    schema = load_table(spark, inp.sf_dir, "events").schema
    raw = normalize_nano_ts(
        spark.read.schema(schema).parquet(*inp.slice_paths), "ts")
    silver = to_silver(dedup_exact(parse_bronze(raw)), dm.metric_mapping(spark)).localCheckpoint()
    history = dm.remote_history(spark, load_table(spark, inp.sf_dir, "customer"))
    gold = enrich_gold(silver, history).localCheckpoint()
    bounds = np.array(inp.first_event_id)
    n = len(bounds)

    def per_slice(df) -> np.ndarray:
        ids = df.select("event_id").toPandas()["event_id"].to_numpy()
        return np.bincount(np.searchsorted(bounds, ids, side="right") - 1, minlength=n)

    silver_rows = per_slice(silver)
    gold_rows = per_slice(gold)
    expected = (
        latest_metric(gold)
        .withColumn("id", F.concat_ws("|", "remote_id", "metric_id", "provider_id"))
        .select(*STORE_COLS)
        .toPandas()
    )
    return {
        RN.BRONZE_QUERY: np.cumsum(inp.slice_rows),
        RN.SILVER_QUERY: np.cumsum(np.full(n, TRAFFIC.slice_rows)),
        RN.GOLD_QUERY: np.cumsum(silver_rows),
        RN.SERVING_QUERY: np.cumsum(gold_rows),
    }, expected


def _wait_served(log: ProgressLog, cum: np.ndarray, idx: int, deadline: float) -> bool:
    need = [int(cum[idx])]
    while time.time() < deadline:
        if attribute(log.of(RN.SERVING_QUERY), need)[0] is not None:
            return True
        time.sleep(0.05)
    return False


def _land(path: str, landing: str) -> float:
    """Publish a slice into ``landing`` atomically.  A hard link, not a
    rename, so the batch twins (running beside the warm-up) can still
    read the original."""
    os.utime(path)
    os.link(path, os.path.join(landing, os.path.basename(path)))
    return time.time()


def _at_phase(t: float) -> float:
    """The first time at or after ``t`` that is ``PHASE_S`` past a
    whole second."""
    return math.ceil(t - PHASE_S) + PHASE_S


def run(spark, work: str, seed: int, seconds: int, tracer) -> dict:
    from tools.crosscheck import compare_frames

    n_warm = WARMUP_SLICES
    n_win = int(round(RATE * seconds))
    n = n_warm + n_win + BURSTS * BURST_SLICES
    t = time.perf_counter()
    inp = gen.stream_inputs(os.path.join(work, "inputs"), seed, n, TRAFFIC)
    gen_s = time.perf_counter() - t

    t_warm = time.perf_counter()
    log = ProgressLog(None if tracer.enabled else {RN.SERVING_QUERY}, tracer)
    spark.streams.addListener(log)
    runner = RN.AlwaysOnRunner(spark, inp.sf_dir, os.path.join(work, "topology"), "1 second")
    served = False
    fed_at: list[float] = []
    due: list[float] = []
    # set-up overlaps the batch twins with the runner's start and warm-up
    # slices; the timed window opens only once both are done
    pool = concurrent.futures.ThreadPoolExecutor(1)
    try:
        twin = pool.submit(_twin, spark, inp)
        with tracer.span("setup.runner_start"):
            runner.start()
        t0 = time.time()
        deadline = t0 + RUN_BUDGET_S
        with tracer.span("setup.warmup_slices"):
            for i in range(n_warm):
                d = t0 + i / RATE
                time.sleep(max(0.0, d - time.time()))
                fed_at.append(_land(inp.slice_paths[i], runner.landing_dir))
                due.append(d)
            cum, expected = twin.result()
            warm_ok = _wait_served(log, cum[RN.SERVING_QUERY], n_warm - 1, deadline)
        warmup_s = time.perf_counter() - t_warm

        # timed window: open loop, each slice timed from when it was due
        w0 = _at_phase(time.time() + 0.2)
        for k in range(n_win):
            d = w0 + k / RATE
            time.sleep(max(0.0, d - time.time()))
            fed_at.append(_land(inp.slice_paths[n_warm + k], runner.landing_dir))
            due.append(d)
        last_win = n_warm + n_win - 1
        win_ok = _wait_served(log, cum[RN.SERVING_QUERY], last_win, deadline)
        w1 = time.time()

        served = warm_ok and win_ok
        # bursts: each lands at once and is waited on until served
        bursts = []
        for b in range(BURSTS):
            tb = _at_phase(time.time())
            time.sleep(max(0.0, tb - time.time()))
            last = last_win + (b + 1) * BURST_SLICES
            for i in range(last - BURST_SLICES + 1, last + 1):
                fed_at.append(_land(inp.slice_paths[i], runner.landing_dir))
                due.append(tb)
            bursts.append((tb, last))
            served = _wait_served(log, cum[RN.SERVING_QUERY], last, deadline) and served
    finally:
        pool.shutdown()
        runner.stop()
        spark.streams.removeListener(log)

    serve_end = attribute(log.of(RN.SERVING_QUERY), [int(c) for c in cum[RN.SERVING_QUERY]])
    win = range(n_warm, n_warm + n_win)
    fresh = [serve_end[i] - due[i] for i in win if serve_end[i] is not None]
    # a burst never fully served reads as the whole wait (and fails)
    catchup = [(serve_end[last] or time.time()) - tb for tb, last in bursts]

    got = ParquetUpsertStore(spark, runner.serving_dir, key="id").read()
    got = None if got is None else got.select(*STORE_COLS).toPandas()

    def check() -> dict:
        problems = ["empty store"] if got is None else compare_frames(got, expected)
        return {"failed": 1 if problems else 0, "store_check": problems[:3]}

    out = {
        "attempted": n + 1,
        "failed": sum(1 for e in serve_end if e is None),
        "check": check,
        "detail": {"served": served, "catchup_s": catchup},
        "setup_parts": {"gen_s": gen_s, "warmup_s": warmup_s},
        "e2e": {
            "latency_p50_s": pctl(fresh, 50),
            "latency_p90_s": pctl(fresh, 90),
            "bulk_s": float(np.mean(catchup)),
        },
        # slices served by one micro-batch share its end time, so the
        # freshness sample holds as many independent values as there
        # are serving batches behind it
        "layers": {"bench.timed_slices": len(fresh),
                   "bench.timed_serving_batches": len({serve_end[i] for i in win} - {None}),
                   "bench.gen_late_p90_ms": pctl([(fed_at[i] - due[i]) * 1e3 for i in win], 90)},
    }
    if tracer.enabled:
        t = time.perf_counter()
        jobs, stages = status_snapshot(spark)
        out["layers"].update(_runner_layers(log, cum, due, win, w0, w1, jobs, stages))
        out["progress"] = log.batches
        tracer.overhead_s += time.perf_counter() - t
    return out


def _runner_layers(log, cum, due, win, w0, w1, jobs, stages) -> dict:
    lay: dict = {}
    for hop in cum:
        bs = [b for b in log.of(hop) if w0 <= b["start"] <= w1]
        ms = [b["ms"] for b in bs]
        ends = attribute(log.of(hop), [int(c) for c in cum[hop]])
        lag = [ends[i] - due[i] for i in win if ends[i] is not None]
        p = f"runner.{hop}."
        lay[p + "batches"] = len(bs)
        lay[p + "rows_in"] = sum(b["rows"] for b in bs)
        lay[p + "trigger_p50_ms"] = pctl([m.get("triggerExecution", 0) for m in ms], 50)
        lay[p + "addbatch_p50_ms"] = pctl([m.get("addBatch", 0) for m in ms], 50)
        lay[p + "plan_p50_ms"] = pctl([m.get("queryPlanning", 0) for m in ms], 50)
        lay[p + "list_p50_ms"] = pctl([m.get("latestOffset", 0) + m.get("getBatch", 0) for m in ms], 50)
        lay[p + "commit_p50_ms"] = pctl([m.get("walCommit", 0) + m.get("commitOffsets", 0) for m in ms], 50)
        lay[p + "lag_p50_s"] = pctl(lag, 50)
    eng = engine_stats(jobs, stages, w0, w1)
    lay["runner.jobs"] = eng["jobs"]
    lay["runner.executor_run_s"] = eng["executor_run_s"]
    lay["runner.executor_cpu_s"] = eng["executor_cpu_s"]
    lay["runner.driver_gap_frac"] = eng["driver_gap_s"] / max(w1 - w0, 1e-9)
    return lay
