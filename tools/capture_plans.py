"""Capture the optimized logical plan and `.explain("formatted")` for
named queries into plans/<round>/.

Usage: python tools/capture_plans.py <before|after> <query> [query ...]

Writes plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<suffix>.txt (round dir from
the env var so each optimization round's evidence lands in its own
directory instead of overwriting a past round's; an absolute path is used
as is), and next to it <query>_<suffix>_unpinned.txt: the same query built
with ``localCheckpoint`` returning its input, so the subtree every pin
hides (an iterative operator's rounds, a shared pair table) is part of the
evidence too. A builder that runs a job per round (the connected-components
loops behind ``dedup_clusters``) then runs it on a plan that holds every
earlier round, so such an unpinned build can take many minutes. Plans are built at sf0.1 (the bench SF) in ``bench.bench_session``,
the session the bench times in, so Exchange counts / join strategies match
what the timed runs execute (AQE initial plan).

Run-specific ids are stripped before writing (``normalize``), so a
before/after pair captured in two processes diffs only where the plan
does.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13"),
)

# Expression ids (vec_id#12L), plan ids and lambda-variable suffixes
# (lambda x_281 → lambda x) differ from run to run for the same plan; a
# pinned scan's RDD id (MapPartitionsRDD[84]), the common-subexpression
# numbering (_common_expr_4) and a literal's identity hash
# (UnsafeArrayData@7a50b5f7) depend on what the process built before.
_RUN_IDS = (
    (re.compile(r"#\d+L?\b"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\b_common_expr_\d+\b"), "_common_expr_"),
    (re.compile(r"\b([A-Z]\w*)@[0-9a-f]{6,8}\b"), r"\1@"),
)


def normalize(plan: str) -> str:
    """``plan`` with run-specific ids removed."""
    for pattern, repl in _RUN_IDS:
        plan = pattern.sub(repl, plan)
    return plan


@contextlib.contextmanager
def unpinned():
    """Builds inside see ``localCheckpoint`` as the identity. The
    ``dup_pairs`` memo is emptied on the way in and out, so an unpinned
    build never reuses a pinned pair table, nor a pinned build an
    unpinned one."""
    from pyspark.sql.classic.dataframe import DataFrame

    from kafka_pyspark_bigdata_spark.operators import dedup

    pin = DataFrame.localCheckpoint
    dedup._DUP_PAIRS_CACHE.clear()
    DataFrame.localCheckpoint = lambda self, *args, **kwargs: self
    try:
        yield
    finally:
        DataFrame.localCheckpoint = pin
        dedup._DUP_PAIRS_CACHE.clear()


def plan_text(df) -> str:
    """Optimized logical plan above the formatted physical plan, normalized."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    return normalize(
        f"== Optimized Logical Plan ==\n{optimized}\n\n{buf.getvalue()}"
    )


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT_DIR, exist_ok=True)
    spark, qs = bench.bench_session("capture-plans")
    for name in names:
        plans = {suffix: plan_text(qs[name](spark, SF_DIR))}
        with unpinned():
            plans[f"{suffix}_unpinned"] = plan_text(qs[name](spark, SF_DIR))
        for tag, plan in plans.items():
            path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
