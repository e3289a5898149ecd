"""Capture `.explain("formatted")` for named queries into plans/<round>/.

Usage: python tools/capture_plans.py <before|after> <query> [query ...]

Writes plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<suffix>.txt (round dir from
the env var so each optimization round's evidence lands in its own
directory instead of overwriting a past round's). Plans are built at sf0.1
(the bench SF) in ``bench.bench_session``, the session the bench times in,
so Exchange counts / join strategies match what the timed runs execute
(AQE initial plan).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13"),
)


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT_DIR, exist_ok=True)
    spark, qs = bench.bench_session("capture-plans")
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
