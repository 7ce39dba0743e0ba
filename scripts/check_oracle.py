"""Local driver-sim: run each queries() entry on Spark and its
oracle_sql() in DuckDB at sf0.01; compare row count, schema, and an
order-insensitive value hash. Usage:

    python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> tuple[list[str], str]:
    cols = sorted(df.columns)
    out = df[cols].copy()
    for c in cols:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if (s.dropna().dt.normalize() == s.dropna()).all():
                out[c] = s.dt.strftime("%Y-%m-%d")
            else:
                out[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S")
            out[c] = out[c].where(s.notna(), "<NULL>")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.map(lambda v: "<NULL>" if pd.isna(v) else f"{v:.6f}")
        elif s.dtype == object:
            out[c] = s.map(
                lambda v: "<NULL>"
                if v is None or (isinstance(v, float) and pd.isna(v))
                else str(v)
            )
        else:
            out[c] = s.map(lambda v: "<NULL>" if pd.isna(v) else str(v))
    lines = sorted("\x1f".join(row) for row in out.astype(str).values.tolist())
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return cols, h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from diseasystore_spark.queries import ORACLES, QUERIES

    unknown = sorted(only - set(QUERIES))
    if unknown:
        print(f"FAIL unknown query names: {', '.join(unknown)}")
        return 2

    from diseasystore_spark.session import get_spark

    spark = get_spark("oracle-check", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            spark_df = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in ORACLES:
            print(f"OK?  {name}: rows={len(spark_df)} (rows-only, no oracle)")
            continue
        try:
            duck_df = con.sql(ORACLES[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        s_cols, s_hash = canon(spark_df)
        d_cols, d_hash = canon(duck_df)
        status = []
        if len(spark_df) != len(duck_df):
            status.append(f"rows {len(spark_df)} != {len(duck_df)}")
        if s_cols != d_cols:
            status.append(f"cols {s_cols} != {d_cols}")
        if s_hash != d_hash:
            status.append("value-hash mismatch")
        if status:
            print(f"FAIL {name}: {'; '.join(status)}")
            failures += 1
        else:
            print(f"PASS {name}: rows={len(spark_df)} hash={s_hash}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
