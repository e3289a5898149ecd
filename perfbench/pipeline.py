"""``pipeline``: the reference's path, offline once, then online.

1. ingest: seeded bike-trip JSON lines (with malformed ones) in several
   files are read by a text-file stream, one file per trigger, decoded by
   ``streaming.kafka.decode_json_stream`` (the broker-free stand-in for
   ``kafka_source``) and cut into count-based CSV batch files by
   ``streaming.batcher.run_count_batched_stream``;
2. train: ``ml.trainer.train_incremental`` builds v1..v3 on the growing
   unions of the batch files;
3. publish: ``ml.api.create_app`` over the version → model dict;
4. serve: after one warm-up block of the mix, for the measured seconds,
   one closed-loop client sends a seeded request mix through the app's
   Flask test client, each request waiting for the previous reply.

One pass is steps 1-3 plus the warm-up block and ``requests_measured``
requests of step 4, a fixed amount of work; the requests are the
operations. Outputs are checked afterwards, outside the timed regions.
"""

from __future__ import annotations

import csv
import glob
import os
import random
import time
from collections import Counter

import pyarrow.parquet as pq

import gen
from spans import median, tree_cpu_s

ROUTES = {
    "predict": "/predict/duration/{v}",
    "sensitivity": "/analyze/sensitivity/{v}",
    "optimal_time": "/suggest/optimal-time/{v}",
}
RESPONSE_KEYS = {
    "predict": {"model_version_used", "input_features", "predicted_duration", "missing_features_defaulted"},
    "sensitivity": {"model_version_used", "analysis_results"},
    "optimal_time": {"model_version_used", "target_duration_min", "target_duration_max", "suggestions"},
}
STREAM_PHASES = ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")


def _schema():
    from pyspark.sql.types import FloatType, StructField, StructType

    from kafka_pyspark_bigdata_spark.ml import trainer

    return StructType([StructField(c, FloatType()) for c in trainer.BIKE_FEATURES + [trainer.BIKE_LABEL]])


def _requests(spec: dict, seed: int, n_blocks: int) -> list[tuple[str, str, dict]]:
    """(kind, model version, body): blocks of the fixed per-block mix, each
    block in its own seeded order."""
    rng = random.Random(seed)
    kinds = []
    for _ in range(n_blocks):
        block = [k for k, n in spec["requests_per_block"].items() for _ in range(n)]
        rng.shuffle(block)
        kinds += block
    return [
        (kind, str(rng.randint(1, spec["max_batches"])), body)
        for kind, body in gen.request_mix(seed, kinds, spec["omit_share"])
    ]


def run(ctx) -> dict:
    from kafka_pyspark_bigdata_spark.ml import api, trainer
    from kafka_pyspark_bigdata_spark.streaming import batcher, kafka

    spark, tracer, spec = ctx.spark, ctx.tracer, ctx.spec["pipeline"]
    bs = ctx.scale(spec["batch_size"])
    n_valid = bs * spec["max_batches"] + spec["leftover"]
    lines, valid, n_malformed = gen.bike_lines(ctx.seed, n_valid, spec["malformed_share"])
    gen.write_bike_files(os.path.join(ctx.work, "in"), lines, spec["files"])
    requests = _requests(spec, ctx.seed, 100)
    rec: dict = {}

    tracer.enabled = ctx.trace
    c0 = tree_cpu_s()
    start = time.perf_counter()
    with tracer.span("pipeline.ingest"):
        raw = spark.readStream.option("maxFilesPerTrigger", 1).text(os.path.join(ctx.work, "in"))
        b = batcher.run_count_batched_stream(
            kafka.decode_json_stream(raw, _schema()),
            out_dir=os.path.join(ctx.work, "out"),
            checkpoint_dir=os.path.join(ctx.work, "ckpt"),
            batch_size=bs,
            max_batches=spec["max_batches"],
            fmt="csv",
        )
    t1 = time.perf_counter()
    paths = sorted(glob.glob(os.path.join(b.data_dir, "batch_id=*")), key=lambda p: int(p.rsplit("=", 1)[1]))
    with tracer.span("pipeline.train"):
        models = trainer.train_incremental(spark, paths, trainer.BIKE_FEATURES, trainer.BIKE_LABEL, _schema())
    t2 = time.perf_counter()
    with tracer.span("pipeline.publish"):
        loaded = {str(v): model for v, model in models.items()}
        client = api.create_app(spark, loaded).test_client()
    t3 = time.perf_counter()
    rec.update(ingest=t1 - start, train=t2 - t1)

    # serve: closed loop; the first block of the mix warms the request
    # path, then requests run for the measured seconds and until at least
    # requests_measured ran. In a traced run every second request is traced.
    # One pass is the fixed work from stream start until the reply to the
    # last of the first n_min requests.
    n_warm = sum(spec["requests_per_block"].values())
    n_min = n_warm + spec["requests_measured"]
    done = []  # (kind, seconds, traced, status, json)
    t_end = None
    while t_end is None or time.perf_counter() < t_end or len(done) < n_min:
        if len(done) == n_warm:
            t_end = time.perf_counter() + ctx.seconds
        kind, version, body = requests[len(done) % len(requests)]
        traced = ctx.trace and len(done) % 2 == 1
        tracer.enabled, tracer.key = traced, f"r{len(done)}"
        ctx.attempted += 1
        r0 = time.perf_counter()
        with tracer.span("api.request"):
            resp = client.post(ROUTES[kind].format(v=version), json=body)
        r1 = time.perf_counter()
        done.append((kind, r1 - r0, traced, resp.status_code, resp.get_json(silent=True)))
        if len(done) == n_min:
            rec.update(pass_s=r1 - start, pass_cpu_s=tree_cpu_s() - c0)
    tracer.enabled, tracer.key = False, None

    rec["progress"] = ctx.listener.wait_settled(0, spec["files"])
    _check(ctx, bs, lines, valid, n_malformed, b, models, loaded, requests, done, rec)

    plain = [d for d in done[n_warm:] if not d[2]]
    metrics = {
        "pass_cpu_s": rec["pass_cpu_s"],
        "wall.pass_s": rec["pass_s"],
        "wall.op_ms": median(1000.0 * d[1] for d in plain),
        "wall.ops_per_s": len(plain) / sum(d[1] for d in plain),
    }
    if ctx.trace:
        metrics.update(_layer_metrics(ctx, bs, rec, done, n_warm))
    return metrics


def _landed_rows(path: str) -> list[tuple]:
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "*.csv"))):
        with open(f, newline="") as fh:
            rd = csv.reader(fh)
            if next(rd, None) is None:
                continue
            rows += [tuple(round(float(x), 2) for x in r) for r in rd]
    return rows


def _check(ctx, bs, lines, valid_recs, n_malformed, b, models, loaded, requests, done, rec) -> None:
    from kafka_pyspark_bigdata_spark.ml import serving, trainer

    spec = ctx.spec["pipeline"]
    cols = trainer.BIKE_FEATURES + [trainer.BIKE_LABEL]
    valid = Counter(tuple(r[c] for c in cols) for r in valid_recs)
    batches = glob.glob(os.path.join(b.data_dir, "batch_id=*"))
    if len(batches) != spec["max_batches"]:
        ctx.fail(f"pipeline: {len(batches)} batch dirs, want {spec['max_batches']}")
    for path in batches:
        rows = _landed_rows(path)
        if len(rows) != bs:
            ctx.fail(f"pipeline: {os.path.basename(path)} holds {len(rows)} rows, want {bs}")
        for r in rows:
            if valid[r] <= 0:
                ctx.fail(f"pipeline: landed row {r[:3]}... is not a generated valid record")
                break
            valid[r] -= 1
    if sorted(models) != list(range(1, spec["max_batches"] + 1)):
        ctx.fail(f"pipeline: model versions {sorted(models)}")
    for v, m in models.items():
        n_imp = len(m.stages[-1].featureImportances.toArray())
        if n_imp != len(trainer.BIKE_FEATURES):
            ctx.fail(f"pipeline: model v{v} has {n_imp} importances")

    checked = 0
    for j, (_, _, _, status, out) in enumerate(done):
        kind, version, body = requests[j % len(requests)]
        problem = None
        if status != 200 or not isinstance(out, dict):
            problem = f"status {status}"
        elif not RESPONSE_KEYS[kind] <= set(out):
            problem = f"keys {sorted(out)}"
        elif kind == "sensitivity" and len(out["analysis_results"]) != len(body["variation_values"]):
            problem = "sensitivity rows != values"
        elif kind == "optimal_time":
            preds = [s["predicted_duration"] for s in out["suggestions"]]
            if preds != sorted(preds) or len(preds) != len(body["hours_to_evaluate"]):
                problem = "optimal-time suggestions not sorted or incomplete"
        elif kind == "predict" and checked < spec["predict_checks"]:
            checked += 1
            want, _ = serving.predict_one(ctx.spark, loaded[version], body, trainer.BIKE_FEATURES)
            if want != out["predicted_duration"]:
                problem = f"predict {out['predicted_duration']} != direct {want}"
        if problem:
            ctx.fail(f"pipeline {kind}: {problem}")

    read = sum(p["rows"] for p in rec["progress"])
    pending = sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(b.pending_dir, "*.parquet")))
    rec["decode_dropped"] = read - bs * spec["max_batches"] - pending
    if read != len(lines) or rec["decode_dropped"] != n_malformed:
        ctx.fail(
            f"pipeline: stream read {read} lines and dropped {rec['decode_dropped']}; "
            f"want {len(lines)} and the {n_malformed} malformed"
        )


def _layer_metrics(ctx, bs, rec, done, n_warm) -> dict:
    tracer, log, spec = ctx.tracer, ctx.event_log(), ctx.spec["pipeline"]
    prog = rec["progress"]

    def secs(ss):
        return sum(s["end"] - s["start"] for s in ss)

    process, flush, fits = (tracer.closed(n) for n in ("batcher.process_batch", "batcher.flush", "trainer.train"))
    trig_ms = [x["durationMs"].get("triggerExecution", 0) for x in prog]
    m = {f"streaming.{k}_ms": float(sum(x["durationMs"].get(k, 0) for x in prog)) for k in STREAM_PHASES}
    m.update({
        "streaming.triggers": float(len(prog)),
        "streaming.trigger_p50_ms": median(trig_ms),
        "streaming.startup_ms": 1000.0 * (rec["ingest"] - secs(flush)) - sum(trig_ms),
        "streaming.decode_dropped": float(rec["decode_dropped"]),
        "streaming.rows_per_s": bs * spec["max_batches"] / rec["ingest"],
        "batcher.process_batch_s": secs(process),
        "batcher.flush_s": secs(flush),
        "batcher.jobs": log.window(process + flush)["jobs"],
        "trainer.train_s": rec["train"],
        "trainer.jobs": log.window(fits)["jobs"],
    })
    for v in range(1, spec["max_batches"] + 1):
        m[f"trainer.v{v}_s"] = secs(fits[v - 1:v])

    lat = {k: [] for k in ROUTES}
    jobs = {k: [] for k in ROUTES}
    api_self, serving_self, action_self = [], [], []
    by_key: dict[str, list[dict]] = {}
    for s in tracer.closed():
        by_key.setdefault(s["key"], []).append(s)
    for j, (kind, seconds, traced, _, _) in enumerate(done):
        if not traced or j < n_warm:
            continue
        req = by_key.get(f"r{j}", [])
        top = [s for s in req if s["name"] == "api.request"]
        lat[kind].append(1000.0 * seconds)
        jobs[kind].append(log.window(top)["jobs"])
        api_self.append(1000.0 * sum(tracer.self_time(s) for s in top))
        serving_self.append(1000.0 * sum(tracer.self_time(s) for s in req if s["name"].startswith("serving.")))
        action_self.append(1000.0 * sum(tracer.self_time(s) for s in req if s["name"] == "spark.action"))
    for kind in ROUTES:
        m[f"api.{kind}_p50_ms"] = median(lat[kind])
        m[f"serve.{kind}_jobs_per_request"] = median(jobs[kind])
    m["api.self_ms"] = median(api_self)
    m["serving.self_ms"] = median(serving_self)
    m["spark.action_ms"] = median(action_self)
    seq = [1000.0 * d[1] for d in done[n_warm:]]
    q = max(1, len(seq) // 4)
    m["serve.drift_ratio"] = median(seq[-q:]) / median(seq[:q])
    # Traced and untraced requests alternate, so the two halves hold
    # different kinds: compare them kind by kind.
    measured = done[n_warm:]
    m["trace.overhead_s"] = median(
        median(d[1] for d in measured if d[0] == kind and d[2])
        - median(d[1] for d in measured if d[0] == kind and not d[2])
        for kind in ROUTES
        if {d[2] for d in measured if d[0] == kind} == {True, False}
    )
    return m
