"""Local replica of the driver's t2 correctness gate.

Runs BOTH levels of the surface — every fine-grained
``__spark_entry__.fine_queries()`` entry AND every driver-contract
``queries()`` entry (the <=50 gate suites) — on Spark, with the matching
``fine_oracle_sql()``/``oracle_sql()`` on DuckDB over the same parquet
tables, comparing row count, column names and order-insensitive values.
Usage:

    python tools/selfcheck.py [sf_dir] [query ...]

Named filters match either level. Exit code 0 iff every checked query
matches. ``SELFCHECK_LEVEL=fine|gate`` restricts to one level;
``SELFCHECK_JSON=path`` additionally writes the per-query results in the
driver's CORRECTNESS row format (rows/schema/hash match booleans).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

import duckdb
import pandas as pd

# The checkout this file belongs to: its queries are the ones checked.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def use_checkout() -> None:
    """Import the package and ``__spark_entry__`` from :data:`REPO`, in this
    process and in the Spark Python workers it starts, whatever the working
    directory. Call it before the session starts: workers inherit
    ``PYTHONPATH`` from the JVM."""
    sys.path.insert(0, REPO)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            nonnull = s.dropna()
            fmt = (
                "%Y-%m-%d"
                if len(nonnull) and (nonnull.dt.normalize() == nonnull).all()
                else "%Y-%m-%d %H:%M:%S.%f"
            )
            df[c] = s.dt.strftime(fmt).fillna("NULL")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.map(lambda v: f"{v:.6f}" if pd.notna(v) else "NULL")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.map(lambda v: str(bool(v)) if pd.notna(v) else "NULL")
        else:
            df[c] = s.map(lambda v: "NULL" if pd.isna(v) else str(v))
    return df


def value_hash(df: pd.DataFrame) -> str:
    norm = _normalize(df)
    rows = sorted("\x1f".join(r) for r in norm.itertuples(index=False, name=None))
    h = hashlib.md5()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    use_checkout()
    import __spark_entry__ as entrymod
    from ferc_xbrl_extractor_spark.session import get_spark

    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    level = os.environ.get("SELFCHECK_LEVEL", "both")
    qs: dict = {}
    oracles: dict = {}
    if level in ("fine", "both"):
        qs.update(entrymod.fine_queries())
        oracles.update(entrymod.fine_oracle_sql())
    if level in ("gate", "both"):
        for n, fn in entrymod.queries().items():
            qs.setdefault(n, fn)
        for n, s in entrymod.oracle_sql().items():
            oracles.setdefault(n, s)
    failures = []
    records: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "spark_secs": None,
            "err": None,
        }
        records[name] = rec
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark query raised")
            traceback.print_exc()
            rec["err"] = "spark query raised"
            failures.append(name)
            continue
        spark_secs = time.time() - t0
        rec["spark_rows"] = len(sdf)
        rec["spark_secs"] = round(spark_secs, 2)
        if name not in oracles:
            status = "rows-only"
            print(
                f"ok?  {name}: {len(sdf)} rows ({status}, no oracle) "
                f"[spark {spark_secs:.1f}s]"
            )
            rec["err"] = "no_oracle"
            if len(sdf) == 0:
                print(f"WARN {name}: zero rows on a rows-only query")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: oracle SQL raised")
            traceback.print_exc()
            rec["err"] = "oracle SQL raised"
            failures.append(name)
            continue
        rec["oracle_rows"] = len(odf)
        problems = []
        rec["rows_match"] = len(sdf) == len(odf)
        if not rec["rows_match"]:
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        rec["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
        if not rec["schema_match"]:
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        else:
            rec["hash_match"] = value_hash(sdf) == value_hash(odf)
            if not rec["hash_match"]:
                problems.append("value hash mismatch")
                ns, no = _normalize(sdf), _normalize(odf)
                ks = set(map(tuple, ns.itertuples(index=False, name=None)))
                ko = set(map(tuple, no.itertuples(index=False, name=None)))
                print("  spark-only:", list(ks - ko)[:3])
                print("  oracle-only:", list(ko - ks)[:3])
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"PASS {name}: {len(sdf)} rows [spark {spark_secs:.1f}s]")

    import json

    json_path = os.environ.get("SELFCHECK_JSON")
    if json_path:
        with open(json_path, "w") as fh:
            json.dump(
                {"sf_dir": sf_dir, "level": level, "results": records},
                fh,
                indent=1,
            )
        print(f"wrote {json_path} ({len(records)} records)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
