"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the same sf dir, then compares:
  - row count
  - column names (sorted)
  - values, order-insensitive (sorted by all columns), exact for
    ints/strings, bit-exact-first-then-1e-9-isclose for floats.

Usage:  python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import tempfile
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from variantcalling_spark.session import get_spark  # noqa: E402
from variantcalling_spark.sources.tables import TABLES  # noqa: E402

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    # spills go to the system temp dir, not the working directory's
    # .tmp/ (DuckDB creates the directory and removes it on close), and
    # stop short of filling the disk. The memory limit stays DuckDB's
    # default share of RAM: q422's oracle needs more than 6 GB at sf0.01
    spill = os.path.join(tempfile.gettempdir(), f"duckdb-spill-{os.getpid()}")
    con = duckdb.connect(
        config={"temp_directory": spill, "max_temp_directory_size": "8GB"}
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    sort_cols = list(df.columns)
    try:
        df = df.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    except TypeError:
        df = df.sort_values(
            sort_cols, kind="mergesort", key=lambda s: s.astype(str)
        ).reset_index(drop=True)
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        problems.append(f"columns spark={scols} duck={dcols}")
        return problems
    if problems:
        return problems
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
            a = sv.astype(float).to_numpy()
            b = dv.astype(float).to_numpy()
            both_nan = np.isnan(a) & np.isnan(b)
            # -0.0 == +0.0 is True, but the driver's byte-level value
            # hash sees the sign bit (r7 verdict: q207/q213 failed on
            # exactly this) — treat a signed-zero disagreement as a
            # hard mismatch so the local sweep sees what the hash sees
            zero_sign = (a == 0.0) & (b == 0.0) & (np.signbit(a) != np.signbit(b))
            exact = ((a == b) & ~zero_sign) | both_nan
            if zero_sign.any():
                i = int(np.argmax(zero_sign))
                problems.append(
                    f"col {c}: {int(zero_sign.sum())} signed-zero mismatches "
                    f"(spark {'-0.0' if np.signbit(a[i]) else '+0.0'} vs "
                    f"duck {'-0.0' if np.signbit(b[i]) else '+0.0'}) — "
                    f"driver byte-hash WILL fail"
                )
            if not exact.all():
                close = np.isclose(a, b, rtol=1e-9, atol=1e-9) | both_nan
                n_inexact = int((~exact).sum())
                if close.all():
                    i = int(np.argmax(~exact))
                    problems.append(
                        f"col {c}: {n_inexact} values not BIT-exact (close though), "
                        f"e.g. {a[i]!r} vs {b[i]!r} — driver hash may fail"
                    )
                else:
                    i = int(np.argmax(~close))
                    problems.append(
                        f"col {c}: {int((~close).sum())} values differ, "
                        f"e.g. {a[i]!r} vs {b[i]!r}"
                    )
        else:
            eq = (sv == dv) | (sv.isna() & dv.isna())
            if not eq.all():
                i = int(np.argmax(~eq.to_numpy()))
                problems.append(f"col {c}: mismatch e.g. {sv.iloc[i]!r} vs {dv.iloc[i]!r}")
    # dtype report (informational — driver compares schemas too)
    for c in s.columns:
        if str(s[c].dtype) != str(d[c].dtype):
            problems.append(f"DTYPE col {c}: spark={s[c].dtype} duck={d[c].dtype}")
    return problems


def main() -> int:
    args = sys.argv[1:]
    sf_dir = DEFAULT_SF_DIR

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()

    # Arg routing must be unambiguous: a first arg that is neither an
    # existing directory nor a registered query name is a mis-invocation
    # (r8 produced a committed error-dump file exactly this way — the
    # sf_dir slot got a query name and every query errored PATH_NOT_FOUND).
    if args:
        if args[0] not in qs:
            if not os.path.isdir(args[0]):
                print(
                    f"ERROR: first argument {args[0]!r} is neither an existing "
                    f"sf_dir directory nor a registered query name; refusing to run."
                )
                return 2
            sf_dir, args = args[0], args[1:]
        unknown = [a for a in args if a not in qs]
        if unknown:
            print(f"ERROR: unknown query name(s): {', '.join(unknown)}")
            return 2
    if not os.path.isdir(sf_dir):
        print(f"ERROR: sf_dir {sf_dir!r} does not exist")
        return 2
    only = set(args)

    spark = get_spark("check_correctness")
    con = duck_con(sf_dir)

    n_pass = n_fail = n_weak = 0
    t_spark_total = 0.0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        t_spark = time.time() - t0
        t_spark_total += t_spark
        # queries persist shared intermediates and never unpersist (each
        # call is a fresh plan); drop them so ~125 queries' caches don't
        # accumulate into LRU-eviction thrash late in the sweep
        spark.catalog.clearCache()
        if name not in oracles:
            print(f"weak {name}: rows={len(spark_pdf)} ({t_spark:.1f}s) [no oracle]")
            n_weak += 1
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb raised {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        hard = [p for p in problems if not p.startswith("DTYPE")]
        if hard:
            print(f"FAIL {name} ({t_spark:.1f}s):")
            for p in problems:
                print(f"    {p}")
            n_fail += 1
        else:
            note = "; ".join(p for p in problems if p.startswith("DTYPE"))
            extra = f" [{note}]" if note else ""
            print(f"PASS {name}: rows={len(spark_pdf)} ({t_spark:.1f}s){extra}")
            n_pass += 1
    print(
        f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only); "
        f"spark total {t_spark_total:.1f}s"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
