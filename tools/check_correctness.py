"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, compare row count + column names/order-insensitive value
multiset.  Run before every round so CORRECTNESS_r{N}.json holds no
surprises.

Usage: python tools/check_correctness.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from arabicner_spark.session import session

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if v is None:
        # NULLs must sort against any type without TypeError
        return (0, "")
    if isinstance(v, float):
        if math.isnan(v):
            return (1, "NaN")
        return (1, round(v, 9))
    if isinstance(v, int):
        return (1, float(v)) if -2**53 < v < 2**53 else (1, v)
    if isinstance(v, (list, tuple)):
        return (2, tuple(canon(x) for x in v))
    return (1, str(v)) if not isinstance(v, str) else (1, v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def spark_type_label(dt):
    """Normalize a Spark DataType to the shared type-label space."""
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return "int64"
    if isinstance(dt, T.IntegerType):
        return "int32"
    if isinstance(dt, (T.ShortType, T.ByteType)):
        return "int%d" % (dt.defaultSize() * 8)
    if isinstance(dt, T.DoubleType):
        return "float64"
    if isinstance(dt, T.FloatType):
        return "float32"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.ArrayType):
        return f"list<{spark_type_label(dt.elementType)}>"
    if isinstance(dt, T.StructType):
        inner = ",".join(f"{f.name}:{spark_type_label(f.dataType)}" for f in dt.fields)
        return f"struct<{inner}>"
    return dt.simpleString()


def arrow_type_label(t):
    """Normalize a pyarrow DataType to the shared type-label space.

    DuckDB surfaces HUGEINT (int128, e.g. an uncast sum(BIGINT)) as
    decimal128(38,0) through Arrow — distinct from int64, so the class
    of bug that broke rel_gap_fill in round 4 (driver's type-sensitive
    value hash saw int128 vs int64) is now caught locally.
    """
    import pyarrow as pa

    if pa.types.is_integer(t):
        return f"int{t.bit_width}"
    if pa.types.is_float64(t):
        return "float64"
    if pa.types.is_float32(t):
        return "float32"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_type_label(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{arrow_type_label(f.type)}" for f in t)
        return f"struct<{inner}>"
    return str(t)


# DuckDB's epoch_us()//int yields BIGINT where Spark div is BIGINT too, but
# some narrower expressions legitimately differ in width without the driver
# caring about value identity; keep the compare strict (exact label) because
# the repo's recorded portability rule is explicit casts everywhere anyway.
def type_labels_match(scols, stypes, dcols, dtypes):
    s = {c: t for c, t in zip(scols, stypes)}
    d = {c: t for c, t in zip(dcols, dtypes)}
    diffs = {c: (s[c], d[c]) for c in s if c in d and s[c] != d[c]}
    return diffs


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as entrymod

    # the suite's width: at Spark's 200 the pins on compute-bound stages
    # (io.pin_width) spend the run on tiny tasks (sf0.01, 4 cores: 152 s
    # at 8, 183 s at 16, 291 s at 200)
    spark = session(shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            scols = df.columns
            stypes = [spark_type_label(f.dataType) for f in df.schema.fields]
            srows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"{name:24s} SPARK-ERROR {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            res = con.sql(oracles[name])
            atab = res.arrow()
            dcols = atab.schema.names
            dtypes = [arrow_type_label(f.type) for f in atab.schema]
            drows = list(zip(*(c.to_pylist() for c in atab.columns))) if atab.num_rows else []
        except Exception as e:
            print(f"{name:24s} DUCKDB-ERROR {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        type_diffs = type_labels_match(scols, stypes, dcols, dtypes) if ok_cols else {}
        ok_types = not type_diffs
        ok_count = len(srows) == len(drows)
        ok_vals = ok_cols and ok_count and rowset(scols, srows) == rowset(dcols, drows)
        status = "MATCH" if (ok_cols and ok_types and ok_count and ok_vals) else "MISMATCH"
        if status == "MISMATCH":
            failures += 1
        print(
            f"{name:24s} {status}  spark={len(srows)} duck={len(drows)} "
            f"cols={'ok' if ok_cols else f'{sorted(scols)} vs {sorted(dcols)}'} "
            f"types={'ok' if ok_types else type_diffs} "
            f"({time.time()-t0:.1f}s)"
        )
        if status == "MISMATCH" and ok_cols and ok_count:
            a, b = rowset(scols, srows), rowset(dcols, drows)
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            for x, y in diff:
                print(f"    spark: {x}\n    duck : {y}")
    print("FAILURES:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
