"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload medallion_stream --seed 1 --seconds 6 --trace 0

Run from the repository root.  Each run owns a work dir (and the
``TMPDIR``, Spark local dirs and JVM temp dir inside it) under
``.perfbench/`` and removes it on exit; traced runs also write their
spans, progress records and metrics to ``.perfbench/out/``.

With ``--trace 0`` the metrics are the end-to-end ones; ``--trace 1``
reports the per-layer ones (spans, listener progress, status-store
job/stage diffs).  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("medallion_stream", "medallion_batch")
#: driver heap for a 15 GB, 4-core host shared with other jobs
DRIVER_MEM = "4g"
MAX_CPUS = 4


def _env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(min(MAX_CPUS, os.cpu_count() or 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell")
    import tempfile

    tempfile.tempdir = None


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for each process to exit."""
    from pyspark import SparkContext

    from perfbench.obs import process_tree

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a stuck JVM is killed, not left running
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    _env(work)
    sys.path.insert(0, ROOT)
    try:
        from perfbench import batch, names, stream
        from perfbench.obs import Tracer, peak_rss_mb
        from telemetry_streaming_datalake_spark.session import get_spark

        tracer = Tracer(bool(args.trace))
        spark = get_spark(f"perfbench-{args.workload}")
        try:
            spark.range(1).count()
            session_s = time.monotonic() - T_START
            mod = stream if args.workload == "medallion_stream" else batch
            res = mod.run(spark, work, args.seed, args.seconds, tracer)
            rss_mb = peak_rss_mb(os.getpid())
        except BaseException:
            _stop_spark(spark)
            raise
        # the outputs are compared with their twins (pandas and DuckDB,
        # no Spark) while the JVM shuts down
        stopping = threading.Thread(target=_stop_spark, args=(spark,))
        stopping.start()
        try:
            checked = res.pop("check")()
        finally:
            stopping.join()
        res["failed"] += checked.pop("failed")
        res["detail"].update(checked)
        tmp = os.path.join(work, "tmp")
        leaked = sum(1 for d in os.listdir(tmp) if d.startswith("tsdl_"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)  # only when no trace output was kept

    setup_s = session_s + res["setup_parts"]["gen_s"] + res["setup_parts"]["warmup_s"]
    if args.trace:
        units = names.per_layer()
        vals = {k: 0 for k in units}
        vals.update(res["layers"])
        vals["bench.leaked_tmp_dirs"] = leaked
        vals["bench.peak_rss_mb"] = rss_mb
        vals["bench.trace_overhead_frac"] = tracer.overhead_s / max(time.monotonic() - T_START, 1e-9)
        out_dir = os.path.join(base, "out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json"), "w") as fh:
            json.dump({"spans": tracer.spans, "progress": res.get("progress", []),
                       "metrics": vals, "detail": res["detail"]}, fh)
    else:
        units = names.END_TO_END
        vals = dict(res["e2e"], setup_s=setup_s)
    missing = set(units) - set(vals)
    if missing:
        raise RuntimeError(f"metrics not produced: {sorted(missing)}")
    print(json.dumps({"detail": res["detail"], "setup_parts": dict(res["setup_parts"], session_s=session_s)}),
          file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": vals[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
