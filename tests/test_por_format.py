"""SPSS Portable (.por) format layer — beyond-reference surface.

The reference engine dispatches only sas7bdat/dta/sav (src/lib.rs:
383-394); .por completes the SPSS family here. Validation: exact
roundtrips through our own writer/reader (the base-30 encoding is
exact for every IEEE double — see formats/spss/portable.py), pinned
byte-level encodings derived by hand from the PSPP-documented number
grammar, hypothesis over doubles/strings, and the Spark distributed
write + datasource read path.
"""

from __future__ import annotations

import datetime
import math
import os

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from polars_readstat_rs_spark.formats.spss import portable as P


# ------------------------------------------------------------ encoding


def test_enc_num_pinned():
    """Hand-derived base-30 encodings (digits 0-9 A-T, power-of-30
    exponent, '/' terminator, '*.' sysmiss)."""
    assert P._enc_num(0.0) == "0/"
    assert P._enc_num(-0.0) == "-0/"
    assert P._enc_num(1.0) == "1/"
    assert P._enc_num(29.0) == "T/"
    assert P._enc_num(30.0) == "10/"
    assert P._enc_num(-31.0) == "-11/"
    assert P._enc_num(0.5) == "F-1/"  # 15 * 30^-1
    assert P._enc_num(None) == "*."
    assert P._enc_num(float("nan")) == "*."
    assert P._enc_num(900.0) == "100/"


def test_enc_int():
    assert P._enc_int(0) == "0/"
    assert P._enc_int(42) == "1C/"  # 42 = 1*30 + 12
    assert P._enc_int(-5) == "-5/"


def test_parse_num_forms():
    """All grammar forms: plain, signed, fraction, exponent, sysmiss."""
    for text, want in [
        ("1/", 1.0),
        ("T/", 29.0),
        ("10/", 30.0),
        ("-11/", -31.0),
        ("F-1/", 0.5),
        ("0.F/", 0.5),  # fraction digits count toward the exponent
        ("1+2/", 900.0),  # 1 * 30^2
        ("+5/", 5.0),
        ("  3/", 3.0),  # leading spaces skipped
    ]:
        cur = P._Cursor(text, 0)
        assert cur.number() == want, text
    cur = P._Cursor("*.", 0)
    assert cur.number() is None
    cur = P._Cursor("-0/", 0)
    v = cur.number()
    assert v == 0.0 and math.copysign(1.0, v) < 0


def test_exact_double_roundtrip_edges(tmp_path):
    xs = [
        0.1,
        -0.0,
        2**-1074,  # smallest subnormal
        1e300,
        -1.5e-300,
        math.pi,
        float(2**53 - 1),
        1.0 + 2**-52,  # 1 ulp above 1
    ]
    t = pa.table({"x": pa.array(xs, type=pa.float64())})
    p = str(tmp_path / "edge.por")
    P.write_por(t, p)
    back = P.read_table(p).column("x").to_pylist()
    for a, b in zip(back, xs):
        assert a == b and math.copysign(1.0, a) == math.copysign(1.0, b)


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        min_size=1,
        max_size=20,
    )
)
def test_double_roundtrip_hypothesis(xs):
    for x in xs:
        enc = P._enc_num(x)
        cur = P._Cursor(enc, 0)
        v = cur.number()
        assert v == x and math.copysign(1.0, v) == math.copysign(1.0, x)


# ------------------------------------------------------------ file layer


def test_basic_roundtrip(tmp_path):
    t = pa.table(
        {
            "idx": pa.array([1.0, 2.0, None], type=pa.float64()),
            "name": pa.array(["alpha", "b  ", None]),
        }
    )
    p = str(tmp_path / "basic.por")
    P.write_por(t, p)
    out = P.read_table(p)
    assert out.column("idx").to_pylist() == [1.0, 2.0, None]
    # trailing spaces trim (C-string semantics, F5 parity); empty -> null
    assert out.column("name").to_pylist() == ["alpha", "b", None]
    # physical layer: 80-char lines, Z padding at the end
    with open(p, "rb") as f:
        lines = f.read().decode("ascii").splitlines()
    assert all(len(ln) == 80 for ln in lines)
    assert lines[-1].rstrip("Z") != lines[-1] or lines[-1].endswith("Z")
    # signature lands at logical offset 456
    stream = "".join(lines)
    assert stream[456:464] == "SPSSPORT"


def test_temporal_roundtrip(tmp_path):
    t = pa.table(
        {
            "d": pa.array(
                [datetime.date(2020, 1, 1), datetime.date(1582, 10, 14), None],
                type=pa.date32(),
            ),
            "ts": pa.array(
                [datetime.datetime(2021, 6, 1, 12, 30, 45), None,
                 datetime.datetime(1999, 12, 31, 23, 59, 59)],
                type=pa.timestamp("us"),
            ),
        }
    )
    p = str(tmp_path / "time.por")
    P.write_por(t, p)
    meta = P.read_metadata(p)
    assert [v.fmt_type for v in meta.variables] == [20, 22]  # DATE, DATETIME
    out = P.read_table(p)
    assert out.column("d").to_pylist() == t.column("d").to_pylist()
    assert out.column("ts").to_pylist() == t.column("ts").to_pylist()


def test_value_labels_and_variable_labels(tmp_path):
    t = pa.table({"grp": pa.array([1.0, 2.0, 3.0], type=pa.float64())})
    p = str(tmp_path / "labels.por")
    P.write_por(
        t, p,
        variable_labels={"grp": "group code"},
        value_labels={"grp": {1.0: "one", 2.0: "two"}},
    )
    meta = P.read_metadata(p)
    assert meta.variables[0].label == "group code"
    assert meta.variables[0].value_labels == {1.0: "one", 2.0: "two"}
    out = P.read_table(p)
    assert out.column("grp").to_pylist() == ["one", "two", "3"]
    out2 = P.read_table(p, P.ReadOptions(value_labels_as_strings=False))
    assert out2.column("grp").to_pylist() == [1.0, 2.0, 3.0]


def test_slicing_and_projection(tmp_path):
    t = pa.table(
        {
            "a": pa.array([float(i) for i in range(10)], type=pa.float64()),
            "s": pa.array([f"r{i}" for i in range(10)]),
        }
    )
    p = str(tmp_path / "slice.por")
    P.write_por(t, p)
    out = P.read_table(p, columns=["s"], offset=3, limit=4)
    assert out.column_names == ["s"]
    assert out.column("s").to_pylist() == ["r3", "r4", "r5", "r6"]
    idx = P.read_table(p, P.ReadOptions(row_index=True), offset=2, limit=2)
    assert idx.column("_row_idx").to_pylist() == [2, 3]


def test_user_missing_values(tmp_path):
    """Tag '8' discrete missing values null out under
    user_missing_as_null (sav-parity option surface)."""
    t = pa.table({"v": pa.array([1.0, 9.0, 2.0], type=pa.float64())})
    p = str(tmp_path / "miss.por")
    # hand-assemble: variable record + a tag-'8' discrete missing (9.0)
    var = P.PorVariable("v", 0, fmt_type=5)
    hdr = P.write_header([var])
    assert hdr.endswith("F")
    hdr = hdr[:-1] + "8" + P._enc_num(9.0) + "F"
    P._write_wrapped(p, [hdr, P.encode_cases(t)])
    meta = P.read_metadata(p)
    assert meta.variables[0].missing_values == [9.0]
    out = P.read_table(p)
    assert out.column("v").to_pylist() == [1.0, None, 2.0]
    keep = P.read_table(p, P.ReadOptions(user_missing_as_null=False))
    assert keep.column("v").to_pylist() == [1.0, 9.0, 2.0]


def test_name_sanitization():
    names = P._sanitize_names(["a_long_column_name", "a_long_column_nam2", "9lead", "ok"])
    assert all(len(n) <= 8 for n in names)
    assert len(set(names)) == 4
    assert names[3] == "ok"  # case preserved


# ------------------------------------------------------------ Spark layer


def test_spark_distributed_write_and_read(spark, tmp_path):
    from polars_readstat_rs_spark.api import _ensure_registered

    _ensure_registered(spark)
    p = str(tmp_path / "spark.por")
    df = spark.range(0, 500).selectExpr(
        "cast(id as double) as idx",
        "concat('name_', cast(id % 9 as string)) as name",
        "cast(id * 0.125 as double) as val",
    )
    df.repartition(4).write.format("readstat").mode("overwrite").save(p)
    back = spark.read.format("readstat").load(p)
    assert back.count() == 500
    row = back.agg({"idx": "sum", "val": "sum"}).collect()[0]
    assert row["sum(idx)"] == sum(range(500))
    assert row["sum(val)"] == sum(i * 0.125 for i in range(500))
    # projection + limit option surface
    sub = (
        spark.read.format("readstat")
        .option("columns", "name")
        .option("limit", "7")
        .load(p)
    )
    assert sub.columns == ["name"] and sub.count() == 7


def test_spark_metadata_probe(spark, tmp_path):
    from polars_readstat_rs_spark import api

    p = str(tmp_path / "meta.por")
    t = pa.table({"x": pa.array([1.0], type=pa.float64()), "s": pa.array(["a"])})
    P.write_por(t, p)
    mdf = api.readstat_metadata(spark, p)
    rows = {r["name"]: r for r in mdf.collect()}
    assert rows["x"]["kind"] == "Numeric" and rows["s"]["kind"] == "Char"
    import json

    j = json.loads(api.readstat_metadata_json(p))
    assert j["column_count"] == 2 and j["row_count"] == -1
