"""Benchmark entry point.

    python3 perfbench/run.py --workload fleet|pipeline --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The benchmark generates its
inputs from ``--seed`` under ``.perfbench_work/`` in the checkout, starts
the program cold (import, Spark session, first job: the set-up time),
warms up, measures for ``--seconds`` seconds, checks the outputs, and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
taken from traced passes that alternate with untraced ones (the
difference is reported as ``trace.overhead_s``). ``--smoke`` shrinks
every input for a quick self-test. The process exits non-zero when an
output check fails or the program is missing.
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
# The engine configuration is fixed here, so the command alone determines
# it: local[CORES] and the driver heap, whatever the shell exports.
CORES = 4
DRIVER_MEM = "3g"


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


class Context:
    def __init__(self, args, work: str, spec: dict) -> None:
        from spans import Tracer

        self.seed, self.seconds, self.trace, self.smoke = args.seed, args.seconds, bool(args.trace), args.smoke
        # fleet passes per run. A traced run alternates untraced and traced
        # passes, so that traced pass 3 lies between untraced passes 2 and 4.
        self.min_passes = 5 if self.trace else 3
        self.spec = spec
        self.work = work
        self.event_log_dir = os.path.join(work, "eventlog")
        self.tracer = Tracer()
        self.listener = None
        self.spark = None
        self.attempted = 0
        self.errors: list[str] = []

    def fail(self, msg: str) -> None:
        self.errors.append(msg)
        print(f"[perfbench] FAIL {msg}", file=sys.stderr)

    def scale(self, x):
        """Input sizes: unchanged, or shrunk for ``--smoke``."""
        if not self.smoke:
            return x
        return x / 10 if isinstance(x, float) else max(1, x // 5)

    def event_log(self):
        from spans import EventLog

        time.sleep(1.0)  # the event log is written by an asynchronous listener
        return EventLog(self.event_log_dir)


def _session_conf(ctx: Context) -> dict[str, str]:
    tmp = os.path.join(ctx.work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.trace:
        os.makedirs(ctx.event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ctx.event_log_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def _setup(ctx: Context) -> dict[str, float]:
    """The program's cold start: import it, build its session through
    ``session.get_spark`` (which launches the JVM) and run a first job.

    It happens once per run. A JVM can be launched only once per Python
    process, so a second cold start would need a fresh process, and one
    costs 10-17 s on a 4-vCPU VM; a restart on the running JVM measures
    none of the JVM launch, class loading and JIT that make up the cold
    start."""
    t0 = time.perf_counter()
    import __spark_entry__  # noqa: F401 - importing the program is part of its start

    from kafka_pyspark_bigdata_spark import session

    t1 = time.perf_counter()
    ctx.spark = session.get_spark("perfbench", extra_conf=_session_conf(ctx))
    t2 = time.perf_counter()
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.spark.range(1000).selectExpr("sum(id)").collect()
    return {"setup_s": time.perf_counter() - t0, "session.get_spark_s": t2 - t1}


def _install_tracing(ctx: Context) -> None:
    from pyspark.sql.classic.dataframe import DataFrame

    from kafka_pyspark_bigdata_spark.ml import serving, trainer
    from kafka_pyspark_bigdata_spark.streaming import batcher

    t = ctx.tracer
    t.wrap(batcher.CountBatcher, "process_batch", "batcher.process_batch")
    t.wrap(batcher.CountBatcher, "flush", "batcher.flush")
    t.wrap(trainer, "train", "trainer.train")
    for fn in ("predict_one", "sensitivity_sweep", "optimal_time", "result_json"):
        t.wrap(serving, fn, f"serving.{fn}")
    t.wrap(DataFrame, "collect", "spark.action")


def _stop_spark(ctx: Context) -> None:
    """Stop the session, then the JVM that PySpark launched, and wait."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["fleet", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs for a self-test")
    args = ap.parse_args()

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        bench = _load(os.path.join(ROOT, "BENCHMARK.json"))
        for f in ("__spark_entry__.py", "kafka_pyspark_bigdata_spark", "tools/check_oracle.py"):
            if not os.path.exists(os.path.join(ROOT, f)):
                raise OSError(f"{f} is missing")
    except OSError as exc:
        print(f"[perfbench] program not found under {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    # Everything the program and the engine write goes under the work dir.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    import tempfile

    tempfile.tempdir = None

    ctx = Context(args, work, _load(os.path.join(HERE, "spec.json")))
    try:
        import fleet
        import pipeline
        from spans import make_progress_listener

        setup = _setup(ctx)
        # Streaming progress feeds the ingest output check, so the listener
        # is on in every run, traced or not.
        ctx.listener = make_progress_listener()
        ctx.spark.streams.addListener(ctx.listener)
        if ctx.trace:
            _install_tracing(ctx)
        metrics = {"fleet": fleet, "pipeline": pipeline}[args.workload].run(ctx)
        metrics.update(setup)
        if ctx.trace:
            ctx.tracer.write(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json"))
    finally:
        ctx.tracer.unwrap_all()
        _stop_spark(ctx)
        shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if ctx.trace else "end_to_end"
    owner = {k: v["workload"] for k, v in ctx.spec["per_layer"].items()}
    out = {}
    for m in bench[section]:
        if owner.get(m["name"], args.workload) not in ("all", args.workload):
            metrics[m["name"]] = 0.0  # a layer this workload does not drive
        if m["name"] not in metrics:
            ctx.fail(f"metric {m['name']} was not measured")
            continue
        out[m["name"]] = {"value": float(metrics[m["name"]]), "unit": m["unit"]}
    correct = not ctx.errors
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, ctx.attempted),
        "failed": len(ctx.errors),
        "metrics": out,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
