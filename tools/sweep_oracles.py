"""Pre-driver correctness sweep: run every queries() entry against its
oracle_sql() at sf0.01 the way the driver does — row count, column-name
set, value equality over name-sorted columns (`testing.oracle`, floats
compared bitwise) — PLUS a type audit the driver's hash is sensitive to
(round-1 lesson: DuckDB HUGEINT vs Spark BIGINT hash-mismatch with
identical values).

Usage: python tools/sweep_oracles.py [sf_dir] [name_substring ...]
(exit 1 on any mismatch; extra args filter to matching query names)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2:]

# DuckDB type -> the Spark dtype the driver would see after its own
# normalization; pairs NOT in this map are flagged for eyeballing.
OK_TYPE_PAIRS = {
    ("BIGINT", "bigint"),
    ("INTEGER", "int"),
    ("DOUBLE", "double"),
    ("VARCHAR", "string"),
    ("DATE", "date"),
    ("BOOLEAN", "boolean"),
    ("TIMESTAMP", "timestamp"),
    ("TIMESTAMP_NS", "timestamp_ntz"),
    # driver-verified tolerant pairs (CORRECTNESS_r01: e17/t1/t2/t5 passed
    # with BIGINT-vs-int, q3 with TIMESTAMP-vs-timestamp_ntz; only
    # HUGEINT- and DECIMAL-vs-int/double representations hash-mismatch)
    ("BIGINT", "int"),
    ("TIMESTAMP", "timestamp_ntz"),
}


def main() -> int:
    import duckdb

    import __spark_entry__ as m
    from era_parser_spark.session import get_spark
    from era_parser_spark.testing.oracle import compare_spark_duckdb

    spark = get_spark(app_name="sweep_oracles")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    Q, O = m.queries(), m.oracle_sql()
    bad: list[str] = []
    for name in sorted(Q):
        if ONLY and not any(s in name for s in ONLY):
            continue
        if name not in O:
            print(f"{name:28s} rows-only (no oracle)")
            continue
        probs = []
        try:
            sdf = Q[name](spark, SF)
            stypes = dict(sdf.dtypes)
            # binding the relation gives the oracle's types without running it
            rel = con.sql(O[name])
            for c, dt in zip(rel.columns, rel.types):
                dt, st = str(dt).upper(), stypes.get(c, "?")
                if (dt, st) not in OK_TYPE_PAIRS:
                    probs.append(f"type {c}: duckdb {dt} vs spark {st}")
            n_rows = compare_spark_duckdb(sdf, con, O[name], name)
        except AssertionError as exc:
            probs.append(str(exc))
        except Exception as exc:  # noqa: BLE001 - report and keep sweeping
            probs.append(f"ERROR {type(exc).__name__}: {exc}")
        if probs:
            bad.append(name)
            print(f"{name:28s} MISMATCH: " + "; ".join(probs))
        else:
            print(f"{name:28s} ok ({n_rows} rows)")
        # entries that cache intermediates (fuzzy_dedup's reps/signature/
        # candidate frames) must not accumulate blocks across a 186-entry
        # sweep — same hygiene as tools/plan_lint.py (round-8 advice)
        spark.catalog.clearCache()
    print(f"\n{len(bad)} problem(s): {bad}" if bad else "\nALL GREEN")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
