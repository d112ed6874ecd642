"""Fast differential oracle check — the inner dev loop.

Runs every registry query on Spark AND its oracle SQL on DuckDB over
the same parquet fixtures, canonicalizes both results, and reports
match/mismatch. Usage:

    python tools/check.py [--sf /root/testdata/sf0.001] [name-substring ...]

It runs from any directory, with or without PYTHONPATH: the checkout
root goes on the import path of the driver and the Python workers.
"""

from __future__ import annotations

import math
import os
import re
import sys
import time

import duckdb
import numpy as np
import pandas as pd


def canon_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (np.floating,)):
        return canon_cell(float(v))
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon_cell(x) for x in v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def canon_df(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = [tuple(canon_cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return rows


def _take_flag(argv: list[str], flag: str) -> tuple[list[str], str | None]:
    """Pop `--flag value` or `--flag=value`; exit with usage on a
    missing value (never a bare IndexError, never a silent no-op)."""
    out, val = [], None
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == flag:
            if i + 1 >= len(argv):
                sys.exit(f"usage: {flag} <value>")
            val = argv[i + 1]
            i += 2
            continue
        if a.startswith(flag + "="):
            val = a[len(flag) + 1 :]
            i += 1
            continue
        out.append(a)
        i += 1
    return out, val


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    # Python workers inherit the JVM's environment, which is ours
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    argv = sys.argv[1:]
    argv, json_out = _take_flag(argv, "--json")
    argv, sf_arg = _take_flag(argv, "--sf")
    sf_dir = sf_arg or "/root/testdata/sf0.001"
    args = argv

    from etl_everywhere_hub_spark.queries import REGISTRY
    from etl_everywhere_hub_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # selection: an arg that looks like a query id (q\d+) matches that
    # exact id only (so "q34" never selects q340 — ADVICE r10); any
    # other arg is a substring match over the registry name.
    def _selects(n: str, a: str) -> bool:
        if re.fullmatch(r"q\d+", a):
            return n.split("_")[0] == a
        return a in n

    selected = {
        n: q
        for n, q in REGISTRY.items()
        if not args or any(_selects(n, a) for a in args)
    }
    n_pass = n_fail = n_skip = 0
    results: dict[str, dict] = {}
    for name, q in sorted(selected.items()):
        t0 = time.time()
        try:
            sdf = q.spark(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            results[name] = {"match": False, "error": str(e)[:300]}
            n_fail += 1
            continue
        finally:
            # drop per-query persist()s so a full-registry sweep
            # doesn't accumulate executor memory
            spark.catalog.clearCache()
        if q.oracle is None:
            print(f"SKIP  {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            results[name] = {
                "match": None, "rows": len(sdf), "sec": round(time.time() - t0, 2),
            }
            n_skip += 1
            continue
        try:
            odf = con.sql(q.oracle).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {str(e)[:300]}")
            results[name] = {"match": False, "error": "oracle: " + str(e)[:300]}
            n_fail += 1
            continue
        s_rows, o_rows = canon_df(sdf), canon_df(odf)
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"FAIL  {name}: columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
            results[name] = {"match": False, "error": "column mismatch"}
            n_fail += 1
            continue
        if len(s_rows) != len(o_rows):
            print(f"FAIL  {name}: rowcount spark={len(s_rows)} oracle={len(o_rows)}")
            results[name] = {
                "match": False,
                "error": f"rowcount spark={len(s_rows)} oracle={len(o_rows)}",
            }
            n_fail += 1
            continue
        mismatch = None
        for i, (a, b) in enumerate(zip(s_rows, o_rows)):
            if a != b:
                mismatch = (i, a, b)
                break
        if mismatch:
            i, a, b = mismatch
            cols = sorted(sdf.columns)
            diffs = [
                f"{c}: spark={x!r} oracle={y!r}"
                for c, x, y in zip(cols, a, b)
                if x != y
            ]
            print(f"FAIL  {name}: row {i} differs → {'; '.join(diffs[:4])}")
            results[name] = {"match": False, "error": f"row {i}: {'; '.join(diffs[:2])[:200]}"}
            n_fail += 1
        else:
            print(f"PASS  {name} ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            results[name] = {
                "match": True, "rows": len(s_rows), "sec": round(time.time() - t0, 2),
            }
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "n_rows_only": n_skip,
                    "queries": results,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
