"""CLI front door: run, list, or explain any registered query.

A user of the reference pipeline gets a direct replacement surface:

    python -m kafka_pyspark_bigdata_spark list [substring]
    python -m kafka_pyspark_bigdata_spark run <query> [--sf-dir DIR] [-n N]
    python -m kafka_pyspark_bigdata_spark explain <query> [--sf-dir DIR]
    python -m kafka_pyspark_bigdata_spark oracle <query>

``run`` executes the query and prints the first N rows (default 20);
``explain`` prints the formatted physical plan (the thing to read before
pointing a query at 100 TB); ``oracle`` prints the query's DuckDB-SQL
oracle so the semantics are inspectable without reading source.
"""

from __future__ import annotations

import argparse
import os
import sys


def _entry():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    return entrymod


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="kafka_pyspark_bigdata_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("substring", nargs="?", default="")

    for name in ("run", "explain"):
        sp = sub.add_parser(name)
        sp.add_argument("query")
        sp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
        if name == "run":
            sp.add_argument("-n", type=int, default=20, help="rows to show")

    p_oracle = sub.add_parser("oracle", help="print the DuckDB oracle SQL")
    p_oracle.add_argument("query")

    args = p.parse_args(argv)
    entrymod = _entry()
    qs = entrymod.queries()

    if args.cmd == "list":
        names = [n for n in qs if args.substring in n]
        print("\n".join(names))
        print(f"-- {len(names)} queries", file=sys.stderr)
        return 0

    if args.cmd == "oracle":
        sql = entrymod.oracle_sql().get(args.query)
        if sql is None:
            print(
                f"{args.query}: no SQL oracle (rows-only contract)"
                if args.query in qs
                else f"unknown query: {args.query}",
                file=sys.stderr,
            )
            return 1
        print(sql.strip())
        return 0

    if args.query not in qs:
        print(f"unknown query: {args.query} (try `list`)", file=sys.stderr)
        return 1

    from .session import get_spark

    spark = get_spark("cli")
    spark.sparkContext.setLogLevel("ERROR")
    df = qs[args.query](spark, args.sf_dir)
    if args.cmd == "explain":
        df.explain("formatted")
    else:
        df.show(args.n, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
