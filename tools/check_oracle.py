"""Local mimic of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, compares row count, column names, dtypes, and values
(order-insensitive). Reports EXACT (bit-identical AND dtype-aligned →
driver hash will match), APPROX (within 1e-9 — driver hash may FAIL,
fix the query), DTYPE (int-vs-float skew: values may be identical but
the driver hashes ``20028`` vs ``20028.0`` — cast the oracle column,
usually a DuckDB window-SUM HUGEINT leaking to pandas float64), or
MISMATCH.

Usage: python tools/check_oracle.py [--sf-dir DIR] [query ...]

--sf-dir (or env SPARK_GRAFT_ORACLE_SF) points both engines at another
parquet directory — the sf1/sf5 value-exactness ritual (BASELINE.md's
"EXACTNESS sweep" rows) runs this same gate on scaledata/sf{1,5} instead
of monkeypatching SF_DIR.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir or SF_DIR}/{t}.parquet')"
        )
    return con


def array_output_cols(df: pd.DataFrame) -> list[str]:
    """Columns holding array/map/set-shaped cells.

    The DRIVER's canonicalizer calls pandas ``sort_values`` on raw
    columns, which raises ``TypeError: unhashable type`` on such cells
    (proved by the 4 CORRECTNESS_r04 errs), so oracle-twinned keys must
    emit scalar-only output columns — ``array_join``/``to_json`` the
    structure instead. This guard makes the local gate reject what the
    driver cannot canonicalize.
    """
    bad = []
    for c in df.columns:
        if df[c].dtype != object:
            continue
        for v in df[c]:
            if v is None or (isinstance(v, float) and np.isnan(v)):
                continue
            if isinstance(v, (list, tuple, set, dict, np.ndarray)):
                bad.append(c)
            break
    return bad


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: str(sorted(v)) if isinstance(v, (list, np.ndarray, set)) else str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, ddf: pd.DataFrame) -> str:
    if sorted(sdf.columns) != sorted(ddf.columns):
        return f"COLS spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}"
    if len(sdf) != len(ddf):
        return f"ROWS spark={len(sdf)} duck={len(ddf)}"
    a, b = canon(sdf), canon(ddf)
    exact = True
    for c in a.columns:
        av, bv = a[c], b[c]
        # Driver-hash parity requires matching int-ness: the driver
        # canonicalizes each engine's pandas frame independently, so an
        # int64 Spark column vs a float64 oracle column (the DuckDB
        # HUGEINT window-SUM leak) hashes `20028` vs `20028.0` and FAILS
        # even when every value is identical. agg_winsorized_mean proved
        # in r7 that the float coercion below masks exactly this —
        # flag it before any coercion happens.
        if pd.api.types.is_integer_dtype(av) != pd.api.types.is_integer_dtype(bv):
            # Still compare values so a column with BOTH dtype skew and
            # real value differences reports DTYPE+MISMATCH, not just
            # DTYPE (which would understate the problem while debugging).
            try:
                avn = av.astype(float).to_numpy()
                bvn = bv.astype(float).to_numpy()
                vals_eq = bool(((avn == bvn) | (np.isnan(avn) & np.isnan(bvn))).all())
            except (TypeError, ValueError):
                vals_eq = False
            tag = "DTYPE" if vals_eq else "DTYPE+MISMATCH"
            return (
                f"{tag} col={c} spark={av.dtype} duck={bv.dtype} "
                f"(int-vs-float skew: driver hash WILL differ — cast the "
                f"oracle column, e.g. CAST(x AS BIGINT))"
            )
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            avn = av.astype(float).to_numpy()
            bvn = bv.astype(float).to_numpy()
            both_nan = np.isnan(avn) & np.isnan(bvn)
            eq = (avn == bvn) | both_nan
            if not eq.all():
                close = np.isclose(avn, bvn, rtol=1e-9, atol=1e-12, equal_nan=True)
                if close.all():
                    exact = False
                else:
                    i = int(np.argmin(close))
                    return f"VALUES col={c} row={i} spark={avn[i]!r} duck={bvn[i]!r}"
        else:
            if not (av.fillna("<NA>").astype(str) == bv.fillna("<NA>").astype(str)).all():
                neq = av.fillna("<NA>").astype(str) != bv.fillna("<NA>").astype(str)
                i = int(np.argmax(neq.to_numpy()))
                return f"VALUES col={c} row={i} spark={av.iloc[i]!r} duck={bv.iloc[i]!r}"
    return "EXACT" if exact else "APPROX"


class OracleTimeout(Exception):
    pass


def run_oracle(con, sql: str, timeout: float | None) -> pd.DataFrame:
    """Run the DuckDB twin, optionally with a wall budget.

    DuckDB holds the GIL-released C loop for the whole query, so a
    signal-based timeout never fires; instead the query runs in a worker
    thread and the main thread calls connection.interrupt() when the
    budget lapses (the documented cancellation API).
    """
    if timeout is None:
        return con.sql(sql).df()
    out: dict = {}

    def work():
        try:
            out["df"] = con.sql(sql).df()
        except Exception as ex:  # includes the InterruptException
            out["ex"] = ex

    import threading

    th = threading.Thread(target=work, daemon=True)
    th.start()
    th.join(timeout)
    if th.is_alive():
        con.interrupt()
        th.join(30)
        raise OracleTimeout()
    if "ex" in out:
        if "INTERRUPT" in str(out["ex"]).upper():
            raise OracleTimeout()
        raise out["ex"]
    return out["df"]


def main() -> None:
    import __spark_entry__ as e
    from varda_spark.session import get_spark

    global SF_DIR
    args = sys.argv[1:]
    if "--sf-dir" in args:
        i = args.index("--sf-dir")
        SF_DIR = args[i + 1]
        del args[i : i + 2]
    oracle_timeout = None
    if "--oracle-timeout" in args:
        i = args.index("--oracle-timeout")
        oracle_timeout = float(args[i + 1])
        del args[i : i + 2]
    only = set(args)
    spark = get_spark("check_oracle", shuffle_partitions=16)
    con = duck_con()
    qs, oracles = e.queries(), e.oracle_sql()
    failed = []
    timeouts = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"{name:24s} SPARK-ERROR {type(ex).__name__}: {str(ex)[:200]}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"{name:24s} rows-only   rows={len(sdf)}  ({time.time()-t0:.1f}s)")
            continue
        bad = array_output_cols(sdf)
        if bad:
            print(f"{name:24s} FAIL ARRAY-OUTPUT cols={bad} (driver cannot canonicalize)")
            failed.append(name)
            continue
        try:
            ddf = run_oracle(con, oracles[name], oracle_timeout)
        except OracleTimeout:
            # NOT a failure verdict: the ORACLE (DuckDB twin) exceeded
            # the budget at this sf — the slow-by-contract class
            # (all-pairs ground truths, WITH RECURSIVE row-walks).
            # Value equality for these keys is certified at sf0.01
            # (close sweeps) and, where one exists, by the sampled twin
            # at sf1; the line records Spark-side health + the skip.
            print(
                f"{name:24s} ORACLE_TIMEOUT(>{oracle_timeout:.0f}s) "
                f"spark_rows={len(sdf)}  ({time.time()-t0:.1f}s)"
            )
            timeouts.append(name)
            # a fresh connection: interrupt() can leave the old one
            # mid-transaction
            con = duck_con()
            continue
        except Exception as ex:
            print(f"{name:24s} DUCK-ERROR {type(ex).__name__}: {str(ex)[:200]}")
            failed.append(name)
            continue
        verdict = compare(name, sdf, ddf)
        status = verdict if verdict in ("EXACT", "APPROX") else f"FAIL {verdict}"
        if verdict not in ("EXACT",):
            failed.append(name)
        print(f"{name:24s} {status}  rows={len(sdf)}  ({time.time()-t0:.1f}s)")
    # Denominator = keys actually CHECKED this run (the r9 verdict's #2:
    # a filtered run used to print 453/453 even when only 10 keys ran).
    # Oracle timeouts are counted apart — they are neither EXACT nor
    # failed (the Spark side ran; the DuckDB twin exceeded its budget).
    tmo = f"; oracle-timeout: {timeouts}" if timeouts else ""
    print(
        f"\n{checked - len(failed) - len(timeouts)}/{checked} exact"
        f"{tmo}; non-exact: {failed or 'none'}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
