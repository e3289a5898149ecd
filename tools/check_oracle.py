"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` SQL on DuckDB at the same sf, then compares row count,
column names/dtypes, and exact values (order-insensitive: columns sorted by
name, rows sorted by stringified tuple). Floats are compared bit-exactly —
the engine's decimal-exact aggregation makes that achievable — with a
max-abs-diff report when they differ.

With ``--hashes FILE`` it also writes one line per query: its name, the
sha256 of its oracle SQL (``-`` for a rows-only query) and the sha256 of
its Spark result (schema plus sorted rows; ``-`` if Spark raised). Two
checkouts' files then diff to the queries whose oracle SQL or result
changed.

Usage: python tools/check_oracle.py [--hashes FILE] [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            # DuckDB hands a NULL BOOLEAN to pandas as a float NaN in an
            # object column, Spark as None: both are NULL
            out[c] = s.map(
                lambda v: None if v is None or (isinstance(v, float) and v != v) else str(v)
            )
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        else:
            out[c] = s
    nd = pd.DataFrame(out)
    key = nd.apply(lambda r: tuple(str(v) for v in r), axis=1) if len(nd) else None
    if key is not None:
        nd = nd.iloc[key.sort_values().index].reset_index(drop=True)
    return nd


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    a, b = normalize(sdf), normalize(odf)
    if len(a) != len(b):
        return problems
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            an, bn = av.to_numpy(), bv.to_numpy()
            both_nan = np.isnan(an) & np.isnan(bn)
            neq = ~((an == bn) | both_nan)
            if neq.any():
                md = np.nanmax(np.abs(an[neq] - bn[neq]))
                problems.append(f"col {c}: {neq.sum()} float mismatches, maxdiff={md:.3e}")
        else:
            neq = ~(av.astype(str) == bv.astype(str))
            if neq.any():
                i = int(np.argmax(neq.to_numpy()))
                problems.append(
                    f"col {c}: {int(neq.sum())} mismatches, first row {i}: "
                    f"spark={av.iloc[i]!r} oracle={bv.iloc[i]!r}"
                )
    return problems


def sql_digest(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def _cell(v) -> str:
    if isinstance(v, np.ndarray):
        v = v.tolist()
    elif isinstance(v, np.generic):
        v = v.item()
    return repr(v)


def result_digest(schema: str, pdf: pd.DataFrame) -> str:
    """sha256 of ``schema`` and ``pdf``'s rows, sorted, each cell by its
    ``repr`` (floats bit-exact): independent of row order only."""
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    return hashlib.sha256("\n".join([schema, *rows]).encode()).hexdigest()


def main(argv: list[str] | None = None) -> int:
    args = list(sys.argv[1:] if argv is None else argv)
    hashes_path = None
    if args[:1] == ["--hashes"]:
        hashes_path, args = args[1], args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod

    if os.environ.get("ORACLE_BARE_SESSION"):
        # Driver-parity mode: the driver imports __spark_entry__ with its
        # OWN bare SparkSession — default confs, ANSI on, 200 shuffle
        # partitions, no engine factory. Sweeping in this mode proves no
        # query depends on session.get_spark's tuning.
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[32]").appName(
            "oracle-check-bare"
        ).getOrCreate()
    else:
        from kafka_pyspark_bigdata_spark.session import get_spark

        spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    items = list(qs.items())
    if os.environ.get("ORACLE_REVERSE"):
        # ordering-dependence shake: session state leaking between queries
        # (cached relations, registered names, observation managers) shows
        # up as a result that depends on sweep ORDER — run reversed to prove
        # there is none.
        items = items[::-1]
    n_ok = n_bad = 0
    digests = []
    for name, fn in items:
        if only and name not in only:
            continue
        sql_sha = sql_digest(oracles[name]) if name in oracles else "-"
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            sdf = df.toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised\n{traceback.format_exc()}")
            digests.append(f"{name}\t{sql_sha}\t-")
            n_bad += 1
            continue
        t_spark = time.time() - t0
        digests.append(
            f"{name}\t{sql_sha}\t{result_digest(df.schema.simpleString(), sdf)}"
        )
        if name not in oracles:
            print(f"ok   {name}: rows={len(sdf)} ({t_spark:.1f}s) [rows-only, no oracle]")
            n_ok += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: oracle raised\n{traceback.format_exc()}")
            n_bad += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_bad += 1
        else:
            print(f"ok   {name}: rows={len(sdf)} ({t_spark:.1f}s)")
            n_ok += 1
    if hashes_path:
        with open(hashes_path, "w") as fh:
            fh.write("".join(f"{line}\n" for line in sorted(digests)))
    print(f"\n{n_ok} ok, {n_bad} failed")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
