"""``medallion_batch``: the history reload, one of the registry's
drain-and-exit curation jobs, then analyst reads over the stored
tables, all in one JVM.

- Backfill: a seeded event history of half the sf0.1 size (50,000
  events over two weeks) runs through the batch twins with every hop materialized
  (bronze lake, exploded silver lake, gold in a
  ``VersionedParquetStore`` partitioned by datestamp, hour/day/month
  rollups, the custom metric, and ``latest_metric`` in a
  ``ParquetUpsertStore``).
- Curation: the ``streaming_cusum`` drain through ``queries()`` over a
  smaller seeded history dir, run to completion with its result
  collected.
- Reads: one client in a closed loop of rounds for about ``seconds``
  over the stored tables; a round is one ``adhoc_gold_slice``,
  ``gap_detect``, ``orphan_usage`` and partition-pruned point read of
  gold, and the read latency is the wall of a round.

Every stored table, read and job is compared with its DuckDB twin
after the timed region.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from perfbench import gen
from perfbench.names import CURATION, PHASES, READS
from perfbench.obs import engine_stats, pctl, status_snapshot
from telemetry_streaming_datalake_spark import datamodel as dm
from telemetry_streaming_datalake_spark.ingest import bronze as B
from telemetry_streaming_datalake_spark.ingest import silver as S
from telemetry_streaming_datalake_spark.operators import custom_metric as CM
from telemetry_streaming_datalake_spark.operators import detect as DT
from telemetry_streaming_datalake_spark.operators import latest as L
from telemetry_streaming_datalake_spark.operators import rollup as R
from telemetry_streaming_datalake_spark.operators import temporal as T
from telemetry_streaming_datalake_spark.queries import tpch as Q
from telemetry_streaming_datalake_spark.session import load_table
from telemetry_streaming_datalake_spark.storage.versioned import VersionedParquetStore
from telemetry_streaming_datalake_spark.streaming import runner as RN
from telemetry_streaming_datalake_spark.streaming.sinks import ParquetUpsertStore

#: half the sf0.1 events table's 100,000 events, over two weeks
HISTORY_EVENTS = 50_000
HISTORY_DAYS = 14
#: the drain's input: 3,000 events over 30 days (the sf0.1 span)
DRAIN_EVENTS = 3_000
DRAIN_DAYS = 30
#: a read round's nominal wall: the timed loop runs
#: ``seconds / ROUND_S`` whole rounds.  A fixed count, not a deadline,
#: because rounds still get faster through a run (JIT), so a loop
#: that fitted one round more or less would shift the percentiles
ROUND_S = 2.5
#: the point read is a one-day, one-remote slice of the
#: datestamp-partitioned gold store
POINT_DAY, POINT_REMOTE = "2024-01-12", 11
ROLLUPS = {"hour": (R.rollup_hour, "unix_ts - unix_ts % 3600", "bucket_ts"),
           "day": (R.rollup_day, "unix_ts - unix_ts % 86400", "bucket_ts"),
           "month": (R.rollup_month, "substr(datestamp, 1, 7)", "bucket_month")}


class Lake:
    """Where one backfill puts each materialized hop."""

    def __init__(self, root: str) -> None:
        self.bronze = os.path.join(root, "bronze_lake")
        self.silver = os.path.join(root, "silver_lake")
        self.gold = os.path.join(root, "gold_store")
        self.rollup = os.path.join(root, "rollup_{}")
        self.custom = os.path.join(root, "custom_metric")
        self.serving = os.path.join(root, "serving_store")


def backfill(spark, sf_dir: str, lake: Lake, tracer) -> None:
    """The history reload, one span per phase."""
    mapping = dm.metric_mapping(spark)
    with tracer.span("ingest.bronze"):
        B.dedup_exact(B.parse_bronze_payload(load_table(spark, sf_dir, "events"))) \
            .write.parquet(lake.bronze)
    with tracer.span("ingest.silver"):
        S.to_silver_exploded(spark.read.parquet(lake.bronze), mapping).write.parquet(lake.silver)
    gold_store = VersionedParquetStore(spark, lake.gold)
    with tracer.span("operators.temporal"):
        history = dm.remote_history(spark, load_table(spark, sf_dir, "customer"))
        gold_store.write(T.enrich_gold(spark.read.parquet(lake.silver), history),
                         mode="overwrite", partition_col="datestamp")
    with tracer.span("operators.rollup"):
        gold = gold_store.read()
        for name, (fn, _, _) in ROLLUPS.items():
            fn(gold).write.parquet(lake.rollup.format(name))
    with tracer.span("operators.custom_metric"):
        CM.custom_metric_sum(gold, dm.custom_metric_mapping(spark)).write.parquet(lake.custom)
    with tracer.span("streaming.sinks"):
        latest = L.latest_metric(gold).withColumn(
            "id", F.concat_ws("|", "remote_id", "metric_id", "provider_id"))
        ParquetUpsertStore(spark, lake.serving, key="id").apply_batch(latest, 0)


def _read(spark, kind: str, sf_dir: str, lake: Lake):
    if kind == "queries.tpch.adhoc_gold_slice":
        return Q.adhoc_gold_slice(VersionedParquetStore(spark, lake.gold).read())
    if kind == "operators.detect.gap_detect":
        return DT.gap_detect(spark.read.parquet(lake.silver))
    if kind == "operators.detect.orphan_usage":
        return DT.orphan_usage(
            spark.read.parquet(lake.bronze),
            dm.remote_history(spark, load_table(spark, sf_dir, "customer")),
            dm.metric_mapping(spark))
    return VersionedParquetStore(spark, lake.gold).read().filter(
        (F.col("datestamp") == POINT_DAY) & (F.col("remote_id") == POINT_REMOTE))


def _oracles(con) -> dict:
    """DuckDB twins of every stored table and read, keyed like the
    results they check.  Silver and gold are materialized once in
    ``con`` and every twin reads them from there."""
    import __spark_entry__ as E

    silver = S.silver_explode_oracle(B.BRONZE_PAYLOAD_ORACLE)
    if T.silver_oracle() not in T.GOLD_ORACLE:
        raise RuntimeError("gold oracle no longer composes from silver_oracle()")
    con.execute(f"CREATE TABLE oracle_silver AS {silver}")
    con.execute("CREATE TABLE oracle_gold AS "
                + T.GOLD_ORACLE.replace(T.silver_oracle(), "SELECT * FROM oracle_silver"))
    silver, gold = "SELECT * FROM oracle_silver", "SELECT * FROM oracle_gold"
    out = {f"rollup_{k}": R.rollup_oracle(gold, b, n) for k, (_, b, n) in ROLLUPS.items()}
    out["custom_metric"] = CM.custom_metric_sum_oracle(gold)
    out["serving_store"] = RN.always_on_topology_oracle(gold)
    out["queries.tpch.adhoc_gold_slice"] = Q.adhoc_gold_slice_oracle(gold)
    out["operators.detect.gap_detect"] = DT.gap_detect_oracle(silver)
    out["operators.detect.orphan_usage"] = E.oracle_sql()["orphan_usage"]
    out["storage.versioned.point_read"] = (
        f"{gold} WHERE datestamp = '{POINT_DAY}' AND remote_id = {POINT_REMOTE}")
    return out


def _duck(sf_dir: str):
    """A DuckDB connection with a view per table file in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, f)}')")
    return con


def run(spark, work: str, seed: int, seconds: int, tracer) -> dict:
    import __spark_entry__ as E
    from tools.crosscheck import compare_frames

    traffic = gen.Traffic()
    inputs = os.path.join(work, "inputs")
    t = time.perf_counter()
    hist = gen.history_inputs(inputs, seed, HISTORY_EVENTS, HISTORY_DAYS, traffic)
    drain_in = gen.history_inputs(inputs, seed, DRAIN_EVENTS, DRAIN_DAYS, traffic)
    gen_s = time.perf_counter() - t

    # the backfill is the first work of the JVM and the drain follows
    # it, so both pay their first-use costs (class loading, JIT, code
    # generation) in the timed region: an untimed pass of each would
    # cost as much as the timed one, which the run time cannot afford
    lake = Lake(os.path.join(work, "lake"))
    with tracer.span("backfill") as bf:
        backfill(spark, hist, lake, tracer)
    backfill_s = bf["end"] - bf["start"]

    qs = E.queries()
    attempted = 0
    failed_ops: dict[str, str] = {}
    results = {}
    with tracer.span("curation") as cur:
        for key, prefix in CURATION.items():
            attempted += 1
            with tracer.span(prefix):
                try:
                    results[key] = qs[key](spark, drain_in).toPandas()
                except Exception as exc:  # noqa: BLE001 - a failed job is a failed operation
                    failed_ops[key] = repr(exc)[:200]
    curation_s = cur["end"] - cur["start"]

    # one untimed round: the first plan of each read costs about half
    # as much again as later ones and would set the p90
    t_warm = time.perf_counter()
    for kind in READS:
        _read(spark, kind, hist, lake).toPandas()
    warmup_s = time.perf_counter() - t_warm

    # whole rounds, each read kind once, for about ``seconds``
    lat: dict[str, list[float]] = {k: [] for k in READS}
    rounds: list[float] = []
    for r in range(max(1, round(seconds / ROUND_S))):
        ok = True
        with tracer.span("reads.round") as rd:
            for kind in READS:
                attempted += 1
                with tracer.span(kind) as sp:
                    try:
                        results[kind] = _read(spark, kind, hist, lake).toPandas()
                    except Exception as exc:  # noqa: BLE001 - a failed read is a failed operation
                        failed_ops[f"{kind}#{r}"] = repr(exc)[:200]
                        ok = False
                        continue
                lat[kind].append(sp["end"] - sp["start"])
        if ok:
            rounds.append(rd["end"] - rd["start"])

    # correctness, outside the timed regions: the stored tables are read
    # back here, and compared with their twins once Spark is stopping
    results.update({f"rollup_{k}": spark.read.parquet(lake.rollup.format(k)).toPandas()
                    for k in ROLLUPS})
    results["custom_metric"] = spark.read.parquet(lake.custom).toPandas()
    results["serving_store"] = ParquetUpsertStore(spark, lake.serving, key="id").read().toPandas()
    attempted += len(ROLLUPS) + 2

    def check() -> dict:
        t_check = time.perf_counter()
        checks = {}
        con = _duck(hist)
        for name, sql in _oracles(con).items():
            if name in results:
                checks[name] = compare_frames(results[name], con.execute(sql).fetch_df())
        con.close()
        con = _duck(drain_in)
        oracles = E.oracle_sql()
        for key in CURATION:
            if key in results:
                checks[key] = compare_frames(results[key], con.execute(oracles[key]).fetch_df())
        con.close()
        bad = {k: v[:2] for k, v in checks.items() if v}
        # a read kind that fails its check fails every time it ran
        return {"failed": sum(len(lat.get(k, [])) or 1 for k in bad), "checks": bad,
                "check_s": time.perf_counter() - t_check}

    out = {
        "attempted": attempted,
        "failed": len(failed_ops),
        "check": check,
        "detail": {"failed_ops": failed_ops, "rounds": len(rounds)},
        "setup_parts": {"gen_s": gen_s, "warmup_s": warmup_s},
        "e2e": {
            "latency_p50_s": pctl(rounds, 50),
            "latency_p90_s": pctl(rounds, 90),
            "bulk_s": backfill_s + curation_s,
        },
        "layers": {"backfill.s": backfill_s, "curation.s": curation_s},
    }
    if tracer.enabled:
        t = time.perf_counter()
        out["layers"].update(_layers(spark, tracer, lake, hist, lat))
        tracer.overhead_s += time.perf_counter() - t
    return out


def _layers(spark, tracer, lake: Lake, hist: str, lat: dict) -> dict:
    jobs, stages = status_snapshot(spark)
    spans = {}
    for s in tracer.spans:
        spans.setdefault(s["name"], []).append(s)
    lay: dict = {}
    for ph in PHASES:
        sp = spans[ph][-1]
        eng = engine_stats(jobs, stages, sp["start"], sp["end"])
        lay[f"{ph}.s"] = sp["end"] - sp["start"]
        for k in ("jobs", "executor_cpu_s", "shuffle_mb", "spill_mb", "driver_gap_s"):
            lay[f"{ph}.{k}"] = eng[k]
    n_events = spark.read.parquet(os.path.join(hist, "events.parquet")).count()
    n_silver = spark.read.parquet(lake.silver).count()
    lay["ingest.bronze.keep_ratio"] = spark.read.parquet(lake.bronze).count() / n_events
    lay["operators.temporal.match_ratio"] = (
        VersionedParquetStore(spark, lake.gold).read().count() / n_silver)
    in_mb, n_reads = 0.0, 0
    for kind in READS:
        lay[f"{kind}.p50_s"] = pctl(lat[kind], 50)
        for sp in spans.get(kind, []):
            in_mb += engine_stats(jobs, stages, sp["start"], sp["end"])["input_mb"]
            n_reads += 1
    lay["reads.input_mb_per_query"] = in_mb / max(n_reads, 1)
    for prefix in CURATION.values():
        sp = spans[prefix][-1]
        eng = engine_stats(jobs, stages, sp["start"], sp["end"])
        lay[f"{prefix}.s"] = sp["end"] - sp["start"]
        lay[f"{prefix}.jobs"] = eng["jobs"]
        lay[f"{prefix}.driver_gap_s"] = eng["driver_gap_s"]
        lay[f"{prefix}.executor_cpu_s"] = eng["executor_cpu_s"]
        lay[f"{prefix}.python_s"] = max(0.0, eng["executor_run_s"] - eng["executor_cpu_s"])
    return lay
