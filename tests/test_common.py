"""operators/common.py: the portable hash kernels agree with their DuckDB
twins and with a pure-Python md5 reference, row for row."""

from __future__ import annotations

import hashlib
import random
import struct

import duckdb
import pytest
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators.common import es_key, md5_int


def _keys() -> list[str]:
    """≥ 2000 seeded strings: the empty key, ':'-salted keys the catalog
    uses, non-ASCII (accented, CJK, emoji) and one 64 KiB key."""
    rng = random.Random(20261017)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 :|#-_éüñ漢字テスト😀🧬"
    keys = ["", ":", "é", "漢字", "😀", "a" * 65536]
    keys += [f"{i}:exp1" for i in range(400)]
    keys += [f"tok{i}:{i % 16}" for i in range(400)]
    keys += [f"{i}|N|{i * 37}" for i in range(200)]
    keys += [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 40)))
        for _ in range(1100)
    ]
    return keys


@pytest.mark.parametrize("k", [8, 15])
def test_md5_int_matches_duckdb_and_hashlib(spark, k):
    keys = _keys()
    assert len(keys) >= 2000
    rows = list(enumerate(keys))
    got = dict(
        spark.createDataFrame(rows, "i int, s string")
        .select("i", md5_int("s", k).alias("h"))
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = dict(
        con.execute(
            f"SELECT i, CAST(concat('0x', substr(md5(s), 1, {k})) AS BIGINT) FROM t"
        ).fetchall()
    )
    ref = {i: int(hashlib.md5(s.encode()).hexdigest()[:k], 16) for i, s in rows}
    assert got == ref
    assert duck == ref


@pytest.mark.parametrize("k", [0, 16])
def test_md5_int_rejects_hexdigits_outside_bigint(k):
    with pytest.raises(ValueError, match="hexdigits"):
        md5_int("s", k)


def test_es_key_matches_duckdb_twin(spark):
    """The hash-derived uniform u is bit-identical in both engines; ``ln``
    is not: Spark evaluates it with ``StrictMath.log`` (fdlibm, < 1 ulp
    error), DuckDB with the C library's. So -ln(u) agrees to within one
    ulp, the weighted key (one more rounding, in the division) to within
    two, and the samplers — which consume the ORDER of the keys (top-K,
    per-group rank) — draw the same rows in the same order."""
    rng = random.Random(7)
    rows = [(i, rng.randint(1, 5000)) for i in range(2000)]
    key = F.col("doc_id").cast("string")
    got = {
        r[0]: (r[1], r[2])
        for r in spark.createDataFrame(rows, "doc_id long, n_chars int")
        .select("doc_id", es_key(key, F.lit(1)), es_key(key, "n_chars"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, n_chars INTEGER)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    neg_ln_u = (
        "-ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
        " AS BIGINT) + 0.5) / 4294967296.0)"
    )
    duck = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"SELECT doc_id, {neg_ln_u}, {neg_ln_u} / n_chars FROM d"
        ).fetchall()
    }

    def ulps(a: float, b: float) -> int:
        return abs(
            struct.unpack("<q", struct.pack("<d", a))[0]
            - struct.unpack("<q", struct.pack("<d", b))[0]
        )

    assert got.keys() == duck.keys()
    assert max(ulps(got[i][0], duck[i][0]) for i in got) <= 1
    assert max(ulps(got[i][1], duck[i][1]) for i in got) <= 2

    def order(keys: dict) -> list[int]:
        return sorted(keys, key=lambda i: (keys[i][1], i))

    assert order(got) == order(duck)
