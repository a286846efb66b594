"""``_prims.md5_hex`` / ``md5_int`` / ``md5_digits`` against the SQL
the oracles replay: DuckDB ``md5(a || b)``, ``concat_ws`` and
``CAST('0x' || substr(hex, start, digits) AS BIGINT)``."""

import duckdb
import pytest
from pyspark.sql import functions as F

from rp_extract_spark._prims import md5_digits, md5_hex, md5_int

COLS = "i bigint, s string, u string, e string, n string"
ROW = (-42, "doc:7", "ünïcødé ✓", "", None)
NAMES = ["i", "s", "u", "e", "n"]
# parts as column names; "n" is the NULL column
KEYS = [("i",), ("s",), ("i", "s"), ("u", "e"), ("e",), ("s", "i", "u"),
        ("i", "n"), ("n", "s")]


@pytest.fixture(scope="module")
def frames(spark):
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t ({COLS})")
    con.execute("INSERT INTO t VALUES (?, ?, ?, ?, ?)", list(ROW))
    yield spark.createDataFrame([ROW], COLS), con
    con.close()


def _duck(con, expr):
    return con.execute(f"SELECT {expr} FROM t").fetchone()[0]


def test_md5_hex_concat_matches_sql_pipes(frames):
    df, con = frames
    for key in KEYS:
        # a literal part sits between the columns, as the salted keys do
        parts = [F.col(key[0]), ":x", *[F.col(c) for c in key[1:]]]
        got = df.select(md5_hex(*parts)).first()[0]
        sql = " || ".join([key[0], "':x'", *key[1:]])
        assert got == _duck(con, f"md5({sql})"), key
        assert (got is None) == ("n" in key), key


def test_md5_hex_sep_skips_nulls_like_concat_ws(frames):
    df, con = frames
    for key in KEYS:
        got = df.select(
            md5_hex(*[F.col(c) for c in key], 7, sep=":")
        ).first()[0]
        args = ", ".join([*key, "'7'"])
        assert got == _duck(con, f"md5(concat_ws(':', {args}))"), key
        pipes = _duck(con, "md5(" + " || ':' || ".join([*key, "'7'"]) + ")")
        if "n" in key:  # the one difference from the oracles' ||
            assert got is not None and pipes is None
        else:
            assert got == pipes, key


def test_md5_hex_literal_parts_are_str(frames):
    df, con = frames
    got = df.select(md5_hex(F.col("i"), 3, "é", 0.5)).first()[0]
    assert got == _duck(con, "md5(i || '3' || 'é' || '0.5')")


def test_md5_int_matches_sql_hex_cast(frames):
    df, con = frames
    keys = [md5_hex(F.col("s")), md5_hex(F.col("u"), 9)]
    sql_keys = ["md5(s)", "md5(u || '9')"]
    cases = [(k, s, d) for k in range(2) for s in range(1, 19)
             for d in range(1, 16)]
    got = df.select(
        *[md5_int(keys[k], s, d) for k, s, d in cases]
    ).first()
    want = con.execute("SELECT " + ", ".join(
        f"CAST('0x' || substr({sql_keys[k]}, {s}, {d}) AS BIGINT)"
        for k, s, d in cases) + " FROM t").fetchone()
    assert list(got) == list(want)
    hexes = df.select(*keys).first()
    for (k, s, d), v in zip(cases, got):
        assert v == int(hexes[k][s - 1:s - 1 + d], 16) >= 0
    assert df.select(md5_int(keys[0])).schema[0].dataType.typeName() == "long"


def test_md5_int_rejects_more_than_15_digits():
    with pytest.raises(ValueError, match="digits"):
        md5_int(F.col("h"), digits=16)
    with pytest.raises(ValueError, match="digits"):
        md5_int(F.col("h"), 2, 0)


def test_md5_digits_is_the_sep_form_in_python(frames):
    df, _ = frames
    row = df.first()
    for key in KEYS:
        if "n" in key:
            continue
        values = [row[c] for c in key]
        for parts, lit_parts in [
            ([F.col(c) for c in key], values),
            ([*values, 0, "pm"], [*values, 0, "pm"]),
        ]:
            hex_ = df.select(md5_hex(*parts, sep=":")).first()[0]
            assert md5_digits(*lit_parts) == [int(c, 16) for c in hex_], key
