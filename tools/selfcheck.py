"""Self-check harness: runs every registered query on Spark AND its DuckDB
oracle on the same parquet tables, then compares row count, column names, and
an order-insensitive value hash — a local stand-in for the driver's
CORRECTNESS gate, so mismatches surface before the round ends.

Usage:
    python tools/selfcheck.py [sf_dir] [query ...]
Defaults to /root/testdata/sf0.01 and all queries.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_medical_analysis_spark import registry  # noqa: E402
from big_data_medical_analysis_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NaN>"
        # Normalize -0.0 / float repr; round-trip via repr of rounded value.
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows, colnames) -> str:
    """Order-insensitive hash: sort columns by name, normalize cells, sort rows."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x01".join(_norm_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and "/" in args[0]:
        sf_dir = args.pop(0)
    wanted = set(args)

    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = registry.all_queries()
    names = [n for n in sorted(qs) if not wanted or n in wanted]
    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name in names:
        q = qs[name]
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        # The DRIVER's canonicalizer (pandas sort_values over all output
        # columns) crashes on list/map/struct cells — this selfcheck's own
        # hash tolerates them, which is exactly how 3 array-output queries
        # shipped ERR in round 3. Mirror the driver's limitation here.
        from pyspark.sql.types import ArrayType, MapType, StructType

        complex_cols = [
            f.name
            for f in sdf.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            print(
                f"FAIL  {name}: driver-canon-incompatible output columns "
                f"{complex_cols} (array/map/struct — serialize to string "
                "or explode to scalar rows)"
            )
            n_fail += 1
            failures.append(name)
            continue
        if q.oracle is None:
            n_rows_only += 1
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.sql(q.oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            failures.append(name)
            continue
        problems = []
        # Rendering-type parity guard: the REAL driver canonicalizes the
        # oracle result through pandas, where DuckDB HUGEINT (e.g. a raw
        # sum(BIGINT)) and DECIMAL columns become float64 — rendering
        # "42.0" against Spark's int64 "42" and failing the value hash
        # even though every value is equal (CORRECTNESS_r04's
        # small_order_revenue). Inspect the DuckDB result TYPES directly
        # (res.types) rather than the fetched pandas dtypes: a dtype check
        # had to skip NULL-bearing columns (int + NULL also fetches as
        # float), which let a nullable HUGEINT column slip through to fail
        # only at the driver (ADVICE r5). Type names never lie about this.
        from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

        spark_int_cols = {
            f.name
            for f in sdf.schema.fields
            if isinstance(f.dataType, (ByteType, ShortType, IntegerType, LongType))
        }
        duck_types = {c: str(t).upper() for c, t in zip(res.columns, res.types)}
        for col in sorted(spark_int_cols & set(dcols)):
            dt = duck_types.get(col, "")
            if dt.startswith(("HUGEINT", "UHUGEINT", "DECIMAL", "DOUBLE", "FLOAT")):
                problems.append(
                    f"driver-render hazard: '{col}' is integral in Spark "
                    f"but {dt} from DuckDB (pandas-renders as float) — "
                    "CAST the oracle output to BIGINT"
                )
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        else:
            sh = value_hash([tuple(r) for r in srows], scols)
            dh = value_hash(drows, dcols)
            if sh != dh:
                problems.append("value-hash mismatch")
                # print first differing normalized row for debugging
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                do = sorted(range(len(dcols)), key=lambda i: dcols[i])
                sset = sorted("\x01".join(_norm_cell(r[i]) for i in so) for r in srows)
                dset = sorted("\x01".join(_norm_cell(r[i]) for i in do) for r in drows)
                for a, b in zip(sset, dset):
                    if a != b:
                        print(f"      spark: {a[:300]}")
                        print(f"      duck : {b[:300]}")
                        break
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            n_fail += 1
            failures.append(name)
        else:
            print(f"ok    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(
        f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAILED"
        + (f": {failures}" if failures else "")
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
