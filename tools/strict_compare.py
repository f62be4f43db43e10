"""Strict driver-mimic differential check: Spark queries() vs DuckDB
oracle_sql() with TYPE-SENSITIVE comparison (Arrow schema + values), so the
driver's type-sensitive value hash cannot diverge when this passes.

Usage: python tools/strict_compare.py [entry ...]   (default: all with oracle)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _tolerated(st, dt) -> bool:
    """Type pairs the driver's hash demonstrably tolerates (green r03/r04
    rows existed with these diffs): signed-int width differences and
    tz-aware vs naive microsecond timestamps. Decimal128-vs-int and
    unsigned-vs-signed are NOT tolerated (observed red in r04)."""
    import pyarrow as pa

    signed = {pa.int8(), pa.int16(), pa.int32(), pa.int64()}
    if st in signed and dt in signed:
        return True
    if pa.types.is_timestamp(st) and pa.types.is_timestamp(dt):
        return st.unit == dt.unit  # tz-aware vs naive tolerated
    return False


def main(names):
    import duckdb
    import __spark_entry__ as entry
    from framequery_spark.plans.tuning import local_session

    spark = local_session(int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
                          "strict_compare")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")

    q = entry.queries()
    o = entry.oracle_sql()
    targets = names or [n for n in q if n in o]
    failures = []
    for name in targets:
        if name not in o:
            print(f"{name}: SKIP (no oracle)")
            continue
        try:
            sdf = q[name](spark, SF_DIR)
            s_tab = sdf.toArrow()
            d_tab = con.execute(o[name]).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            continue
        probs = []
        s_cols = sorted(s_tab.column_names)
        d_cols = sorted(d_tab.column_names)
        if s_cols != d_cols:
            probs.append(f"cols {s_cols} != {d_cols}")
        elif s_tab.num_rows != d_tab.num_rows:
            probs.append(f"rows {s_tab.num_rows} != {d_tab.num_rows}")
        else:
            for c in s_cols:
                st, dt = s_tab.schema.field(c).type, d_tab.schema.field(c).type
                if str(st) != str(dt) and not _tolerated(st, dt):
                    probs.append(f"type[{c}] spark={st} duckdb={dt}")
            if not probs:
                import pandas as pd

                def _frame(tab):
                    p = tab.to_pandas()[s_cols]
                    for c in p.columns:  # tz-aware -> naive UTC for compare
                        if isinstance(p[c].dtype, pd.DatetimeTZDtype):
                            p[c] = p[c].dt.tz_convert("UTC").dt.tz_localize(None)
                    return p.sort_values(s_cols).reset_index(drop=True)

                try:
                    pd.testing.assert_frame_equal(
                        _frame(s_tab), _frame(d_tab),
                        check_exact=True, check_dtype=False)
                except AssertionError as e:
                    probs.append(f"values: {str(e)[:300]}")
        if probs:
            failures.append(name)
            print(f"{name}: FAIL  " + " | ".join(probs))
        else:
            print(f"{name}: OK ({s_tab.num_rows} rows)")
    print(f"\n{len(targets) - len(failures)}/{len(targets)} strict-green")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
