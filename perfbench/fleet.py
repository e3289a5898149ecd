"""``fleet``: registered query callables on generated fixtures.

The first pass runs every query once to a pandas frame and compares it
with its DuckDB oracle (``tools/check_oracle.compare``); it doubles as the
JIT and codegen warm-up. The measured passes then run the queries in a
seeded order per pass into the noop sink until the time is up and at
least three passes ran; each query's time is its fastest pass.

A traced pass splits each query into build (the callable), plan
(``queryExecution().executedPlan()``) and execute (the noop write), tags
the jobs each phase submitted back from the event log.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import gen
from spans import median, tree_cpu_s

FIXTURE_SEED = 42
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _check(name, qs, oracles, spark, sf_dir, con, compare) -> list[str]:
    sdf = qs[name](spark, sf_dir).toPandas()
    if name == "streaming_count_batcher":
        from kafka_pyspark_bigdata_spark.streaming import queries as sq

        n = pq.ParquetFile(os.path.join(sf_dir, "events.parquet")).metadata.num_rows
        full = min(n // sq.BATCH_SIZE, sq.MAX_BATCHES)
        rest = n - full * sq.BATCH_SIZE if full < sq.MAX_BATCHES else 0
        want = [sq.BATCH_SIZE] * full + ([rest] if rest else [])
        got = sdf.sort_values("batch_id")["n_rows"].tolist()
        return [] if got == want else [f"batch rows {got} != {want}"]
    if name not in oracles:
        return [f"no oracle for {name}"]
    return compare(name, sdf, con.execute(oracles[name]).df())


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(ctx) -> dict:
    import duckdb
    from check_oracle import compare

    import __spark_entry__ as entry

    spark = ctx.spark
    spec = ctx.spec["fleet"]
    plans, operators = spec["plans_queries"], spec["operator_queries"]
    queries = plans + operators
    # The fixtures are generated in the checkout (the benchmark reads
    # nothing outside it) with a fixed seed, so query costs that depend on
    # the data (iteration counts, candidate-set sizes) are the same in every
    # run; the run's seed orders the queries within each pass.
    sf_dir = gen.write_fixtures(os.path.join(ctx.work, "fixtures"), FIXTURE_SEED, ctx.scale(spec["sf"]))
    qs, oracles = entry.queries(), entry.oracle_sql()
    missing = [q for q in queries if q not in qs]
    if missing:
        raise SystemExit(f"fleet queries missing from the registry: {missing}")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for name in gen.query_orders(ctx.seed, queries, 1)[0]:
        ctx.attempted += 1
        try:
            problems = _check(name, qs, oracles, spark, sf_dir, con, compare)
        except Exception as exc:  # noqa: BLE001 - a raising query is a failure
            problems = [f"raised {type(exc).__name__}: {exc}"[:300]]
        if problems:
            ctx.fail(f"fleet {name}: " + "; ".join(problems))
    con.close()

    orders = gen.query_orders(ctx.seed + 1, queries, 1000)
    passes = []  # (traced, wall, {query: seconds}, (wall-clock start, end), {query: cpu seconds})
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or len(passes) < ctx.min_passes:
        i = len(passes)
        traced = ctx.trace and i % 2 == 1
        ctx.tracer.enabled = traced
        per, cpu = {}, {}
        w0, t_pass = time.time(), time.perf_counter()
        for name in orders[i]:
            ctx.attempted += 1
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                if traced:
                    _traced_query(ctx, qs[name], name, sf_dir)
                else:
                    _noop(qs[name](spark, sf_dir))
            except Exception as exc:  # noqa: BLE001
                ctx.fail(f"fleet {name} pass {i}: {type(exc).__name__}: {exc}"[:300])
            per[name] = time.perf_counter() - t0
            cpu[name] = tree_cpu_s() - c0
        passes.append((traced, time.perf_counter() - t_pass, per, (w0, time.time()), cpu))

    # Each query counts with its fastest pass (the min-of-passes protocol of
    # the repo's bench.py): the host's speed drifts from second to second,
    # and the fastest of several passes is the steadiest estimate of the
    # query's own cost. CPU time is the fastest of a fixed set of passes,
    # the first min_passes untraced ones without pass 0 (the warm-up pass
    # still compiles), so every run reports the same work however many
    # passes the time allowed.
    plain = [p for p in passes if not p[0]]
    best = {q: min(p[2][q] for p in plain) for q in queries}
    best_cpu = {q: min(p[4][q] for p in plain[1:ctx.min_passes]) for q in queries}
    metrics = {
        "pass_cpu_s": sum(best_cpu.values()),
        "wall.pass_s": sum(best.values()),
        "wall.op_ms": 1000.0 * sum(best.values()) / len(best),
        "wall.ops_per_s": len(best) / sum(best.values()),
        "fleet.plans_s": sum(best[q] for q in plans),
        "fleet.operators_s": sum(best[q] for q in operators),
    }
    if ctx.trace:
        metrics.update(_layer_metrics(ctx, passes, queries))
    return metrics


def _traced_query(ctx, fn, name, sf_dir) -> None:
    spark, tracer = ctx.spark, ctx.tracer
    tracer.key = name
    with tracer.span("fleet.query"):
        with tracer.span("fleet.build"):
            df = fn(spark, sf_dir)
        with tracer.span("fleet.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("fleet.execute"):
            _noop(df)
    tracer.key = None


def _layer_metrics(ctx, passes, queries) -> dict:
    tracer, log = ctx.tracer, ctx.event_log()
    per_pass: dict[str, list[float]] = {}

    def add(key, value):
        per_pass.setdefault(key, []).append(value)

    for traced, wall, _, (t0, t1), _ in passes:
        if not traced:
            continue
        spans = [s for s in tracer.closed() if t0 <= s["start"] <= t1]
        phase = {p: [s for s in spans if s["name"] == f"fleet.{p}"] for p in ("build", "plan", "execute")}
        for p, ss in phase.items():
            add(f"fleet.{p}_s", sum(s["end"] - s["start"] for s in ss))
        add("fleet.build_jobs", log.window(phase["build"])["jobs"])
        for k, v in log.window(phase["build"] + phase["plan"] + phase["execute"]).items():
            add(f"fleet.{k}", v)
        for q in queries:
            mine = {p: [s for s in ss if s["key"] == q] for p, ss in phase.items()}
            add(f"fleet.{q}.build_s", sum(s["end"] - s["start"] for s in mine["build"]))
            add(f"fleet.{q}.execute_s", sum(s["end"] - s["start"] for s in mine["execute"]))
            add(f"fleet.{q}.jobs", log.window(sum(mine.values(), []))["jobs"])
        add("fleet.residual_s", wall - sum(per_pass[f"fleet.{p}_s"][-1] for p in phase))
    m = {k: median(v) for k, v in per_pass.items()}
    # Passes get faster as the JIT warms up, so the overhead compares traced
    # and untraced passes from pass 2 on, where they interleave.
    m["trace.overhead_s"] = median(p[1] for p in passes[2:] if p[0]) - median(p[1] for p in passes[2:] if not p[0])
    return m
