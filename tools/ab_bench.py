"""Paired A/B timing harness for individual queries (r12 protocol).

Usage: python tools/ab_bench.py <query> [query ...]

Fresh-JVM run of ``bench.time_queries`` over the named queries: warm-up at
sf0.001 (JIT + codegen cache), then min-of-2 whole-list noop-sink passes at
$SPARK_GRAFT_SF_DIR (default sf0.1). Prints one JSON line
{name: sec, ..., "_total": sec, "_cpu": {name: cpu_sec}}: wall seconds per
query, then the process-tree CPU seconds of the same runs (min-of-2 each).
If any query raised, the line also carries "_errors": {name: message} and
the exit code is 1.
Run back-to-back on the pre-edit (git stash) and post-edit tree to get a
paired comparison that controls for the full bench's session-state tax.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark, qs = bench.bench_session("ab-bench")
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    res = bench.time_queries(spark, qs, names, sf_dir, 2)
    out = dict(
        res["queries"], _total=round(sum(res["queries"].values()), 3), _cpu=res["cpu"]
    )
    if res["errors"]:
        out["_errors"] = res["errors"]
    print(json.dumps(out))
    return 1 if res["errors"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
