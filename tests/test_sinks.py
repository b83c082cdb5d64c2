"""The readstat write sinks: byte-level golden hashes of every sink's output.

Every writer stamps a fixed header timestamp, so the bytes a sink writes
depend only on the input rows, their partitioning and the options. The
golden cells pin those bytes for the single-file batch sink across its
option matrix and for the default-option stream and multifile sinks.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import pyspark.sql.functions as F
import pytest

VALUE_LABELS = json.dumps({"g": {"1": "one", "2": "two", "3": "three"}})
VARIABLE_LABELS = json.dumps({"k": "Row key", "v": "Measured value"})
STRING_WIDTHS = json.dumps({"s": 12})

DTA = {"value_labels": VALUE_LABELS, "variable_labels": VARIABLE_LABELS, "string_widths": STRING_WIDTHS}
SAV = {
    "value_labels": VALUE_LABELS,
    "variable_labels": VARIABLE_LABELS,
    "user_missing": json.dumps({"v": [-99.0]}),
    "string_widths": STRING_WIDTHS,
    "data_label": "golden data",
}
XPT = {"string_widths": STRING_WIDTHS, "dsname": "GOLD", "data_label": "golden data"}
SAS = {
    "string_widths": STRING_WIDTHS,
    "dsname": "GOLD",
    "variable_labels": VARIABLE_LABELS,
    "column_formats": json.dumps({"g": "GFMT"}),
}
POR = {"value_labels": VALUE_LABELS, "variable_labels": VARIABLE_LABELS}

# (cell, output name, options); the format follows the extension
BATCH_CELLS = [
    ("dta_default", "out.dta", {}),
    ("dta_v117", "out.dta", {**DTA, "dta_version": "117"}),
    ("dta_v118", "out.dta", {**DTA, "dta_version": "118"}),
    ("dta_v119", "out.dta", {**DTA, "dta_version": "119"}),
    ("sav_default", "out.sav", {}),
    ("sav_plain", "out.sav", SAV),
    ("sav_compress", "out.sav", {**SAV, "compress": "true"}),
    ("zsav", "out.zsav", SAV),
    ("xpt_default", "out.xpt", {}),
    ("xpt_v5", "out.xpt", {**XPT, "xport_version": "5"}),
    ("xpt_v8", "out.xpt", {**XPT, "xport_version": "8"}),
    ("sas7bdat_default", "out.sas7bdat", {}),
    ("sas7bdat_plain", "out.sas7bdat", SAS),
    ("sas7bdat_rle", "out.sas7bdat", {**SAS, "compress": "rle"}),
    ("sas7bdat_rdc", "out.sas7bdat", {**SAS, "compress": "rdc"}),
    ("por_default", "out.por", {}),
    ("por_labels", "out.por", POR),
]

STREAM_FORMATS = {"stata": "dta", "spss": "sav", "xport": "xpt", "sas": "sas7bdat", "por": "por"}
MULTIFILE_EXTS = ("dta", "sav", "zsav", "xpt", "sas7bdat", "por")

GOLDEN = {
    "batch/dta_default": "8eb05fc6fa21afe038c8af6c3dee3169892155751ddb762f26111a026a7cfaff",
    "batch/dta_v117": "4a853cb8d8e2281dbd4a1261cea64f3207fdf39506c2db7b6f5cb6f56be2de53",
    "batch/dta_v118": "b46c3bb5eaba1871ddd93593686198d89c514bd84dd6e5da84f81bb04dd67ea9",
    "batch/dta_v119": "1fe484a7f7a74072ec3096d6e45ffa4e0123f1fed33fac5d8adf273a23cde539",
    "batch/por_default": "3db7cda1a0c7dd43f16ab667592f8d4caa7db7c76c9278944c164f1160404d19",
    "batch/por_labels": "502235e546762f07f395f75626c994dca85ca6938f6c041c4280aa5929296341",
    "batch/sas7bdat_default": "1a15d8c29ab018a7d81c7ea60a93b66f7a446eb1cec03a8a7d6fdf87a57bdb35",
    "batch/sas7bdat_plain": "7a6bbbf0b6147bd3f1ed55c9020c7300ae9143ff8dcc859daf043d98fe22537f",
    "batch/sas7bdat_rdc": "3b782f00a936864ffa83b24f39d7ba146e34760147d08ebb50ee830382339ac2",
    "batch/sas7bdat_rle": "abdea42066f4459840862c065fe48f64449934aafe590cd6d9d1ccd2f6350ed5",
    "batch/sav_compress": "0a8ab962301077c6dcc85a63ccf1b07b0ab5ff241121282adae24151b13d6fea",
    # new cell: re-striding undeclared string widths across partitions
    # used to fail; equals the one-partition stream/spss output
    "batch/sav_default": "d0b00ca0417d1ad99fdbe5a48065c44444069b223c001cd8095114c9444218ff",
    "batch/sav_plain": "8f6a70bd732ec272c7a19f373139b52db8011ad1930a83786c28e5a85f6e26d5",
    "batch/xpt_default": "23b3be67a8d5f37c346fdec5d5d8132f5d1790f954a3c87b47fe4268c668a192",
    "batch/xpt_v5": "ff31fe45a73f59297d4e0afc6e56b3f8f35fb0d29e0a593168bc709be34c094a",
    "batch/xpt_v8": "bdd2853c793c12ebb65c0ad73aad26e4dfa1f3956a056663f04f04fb696ccb6e",
    # $FL2 -> $FL3: the zlib container's magic, as write_sav writes it
    "batch/zsav": "730e4f49637761f16160912d6ae07a717f224ea67763404b57318c18aa64eff1",
    "multifile/dta": [
        "25bafaf5b85a6b6e3ef708c7c8d4a24631c987f0f622b765082b62b3413516cc",
        "3dc6b3d2547d651d5ccec5555b7a03796d1583abd246c0ae2bb725a34be2633f",
        "a2f6d774a8a33b4e12d644b9acc3bbdb59742f2225ab11ed854d1aaf2c7c8864",
    ],
    "multifile/por": [
        "5e5aafc3c970897c902b40d70e108fef2705c8ba6a738cbd46272ee54bf67072",
        "6355ac571d48480e3a3b52527d81394087488290bf70dba3001602d512265594",
        "e742ab29a6755f41c6cf06589f1e6bb4e1848a2e34be837704dc1348a688ceda",
    ],
    "multifile/sas7bdat": [
        "58ad4328bff88a49d7307400ae199dd7a07b8ee402f61c75c8b008d8517fef22",
        "905427a30d0e3f0cf044fa80cedbeb2c3c6bd39725a5f8bc953474d45c9aeda3",
        "d452a7ddca0d9bebb1b13fe16799d7fffcdcc229e3afbfbf2b69ceb0f8fe9137",
    ],
    "multifile/sav": [
        "0be9c38e31e212b8f5538142b4fe16cf57e9332f76d3c99597b736a6a8d7cb8d",
        "29ab62007084c7485eb1c07769a81b3fa0b66e7ae202d8a0f5a943b8bdef5d56",
        "aa501564018be9ae4dffcca9dbc76da27ed49cfd1b9e2ac4f836ae5059a80a6c",
    ],
    "multifile/xpt": [
        "0362f2afdede0876f1cf45317f6e88f8b5f10ebc8cb3c52bda6b47ff1b3c7529",
        "190be146fe6a936b9042076875e3ad350b611d0f9d6d029824725897eba07acd",
        "2792e843f379e2174a6b1083d079b805268b7e47e78635385ae80d606349af77",
    ],
    "multifile/zsav": [
        "27e844dee2d7e17424d86303df586b3afc135b72427910255c51de8b87194e73",
        "631c4d692a9ddb8a2472a5e497a32fbfde343ddf301d4cf4682febe307ac8a39",
        "a70c2986e0778e5233f7dc653f0b887bdff50a7d131e78b7c85fc5be40d46fb3",
    ],
    "stream/por": "3db7cda1a0c7dd43f16ab667592f8d4caa7db7c76c9278944c164f1160404d19",
    "stream/sas": "1a15d8c29ab018a7d81c7ea60a93b66f7a446eb1cec03a8a7d6fdf87a57bdb35",
    "stream/spss": "d0b00ca0417d1ad99fdbe5a48065c44444069b223c001cd8095114c9444218ff",
    "stream/stata": "8eb05fc6fa21afe038c8af6c3dee3169892155751ddb762f26111a026a7cfaff",
    "stream/xport": "23b3be67a8d5f37c346fdec5d5d8132f5d1790f954a3c87b47fe4268c668a192",
}


def _sha(path) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def golden_frame(spark):
    """600 rows in 3 partitions whose string widths differ per partition,
    with nulls in the double and string columns."""
    return spark.range(0, 600, numPartitions=3).select(
        F.col("id").cast("int").alias("k"),
        F.when(F.col("id") % 11 == 0, None)
        .when(F.col("id") % 13 == 0, F.lit(-99.0))
        .otherwise(F.col("id") * 0.25 - 7.5)
        .alias("v"),
        F.when(F.col("id") % 17 == 0, None)
        .otherwise(F.repeat(F.lit("ab"), (F.col("id") / 100).cast("int") + 1))
        .alias("s"),
        (F.col("id") % 3 + 1).cast("int").alias("g"),
    )


def write_golden_cells(spark, tmp_path) -> dict:
    """Write every golden cell under ``tmp_path``; return {cell: sha256}
    (multifile cells: the sorted part-file hashes)."""
    from polars_readstat_rs_spark.datasource import register

    register(spark)
    df = golden_frame(spark)
    out: dict = {}
    for cell, name, opts in BATCH_CELLS:
        path = str(tmp_path / "batch" / cell / name)
        os.makedirs(os.path.dirname(path))
        w = df.write.format("readstat").mode("overwrite")
        for k, v in opts.items():
            w = w.option(k, v)
        w.save(path)
        out[f"batch/{cell}"] = _sha(path)

    for ext in MULTIFILE_EXTS:
        path = str(tmp_path / "multifile" / f"dir.{ext}")
        df.write.format("readstat").mode("overwrite").option("multifile", "true").save(path)
        parts = sorted(glob.glob(os.path.join(path, "part-*")))
        out[f"multifile/{ext}"] = sorted(_sha(p) for p in parts)

    drop = tmp_path / "stream_in"
    drop.mkdir()
    df.write.format("readstat").mode("overwrite").save(str(drop / "a.dta"))
    for fmt, ext in STREAM_FORMATS.items():
        sink = tmp_path / "stream" / fmt
        q = (
            spark.readStream.format("readstat")
            .load(str(drop))
            .writeStream.format("readstat")
            .option("format", fmt)
            .option("checkpointLocation", str(tmp_path / "ck" / fmt))
            .start(str(sink))
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out[f"stream/{fmt}"] = _sha(sink / f"part-00000.{ext}")
    return out


def test_sink_golden_bytes(spark, tmp_path):
    got = write_golden_cells(spark, tmp_path)
    assert set(got) == set(GOLDEN)
    diff = {cell: got[cell] for cell in GOLDEN if got[cell] != GOLDEN[cell]}
    assert not diff, diff


def test_zsav_distributed_write_equals_single_shot(spark, tmp_path):
    """A one-partition distributed .zsav write is byte-identical to
    write_sav(..., compress="zsav"), magic ($FL3) included."""
    from polars_readstat_rs_spark.formats.spss.writer import write_sav

    df = golden_frame(spark).coalesce(1)
    out = str(tmp_path / "one.zsav")
    df.write.format("readstat").mode("overwrite").save(out)
    ref = str(tmp_path / "ref.zsav")
    write_sav(df.toArrow(), ref, compress="zsav")
    with open(out, "rb") as a, open(ref, "rb") as b:
        got = a.read()
        assert got[:4] == b"$FL3"
        assert got == b.read()


def _read_back(fmt: str, path: str):
    from polars_readstat_rs_spark.formats.sas import parser as sas_parser
    from polars_readstat_rs_spark.formats.sas import xport
    from polars_readstat_rs_spark.formats.spss import parser as spss_parser
    from polars_readstat_rs_spark.formats.spss import portable
    from polars_readstat_rs_spark.formats.stata import parser as stata_parser

    readers = {
        "stata": stata_parser.read_metadata,
        "spss": spss_parser.read_metadata,
        "xport": xport.read_metadata,
        "sas": sas_parser.read_metadata,
        "por": portable.read_metadata,
    }
    return readers[fmt](path)


def _var(meta, name: str):
    cols = meta.columns if hasattr(meta, "columns") else meta.variables
    return next(v for v in cols if v.name == name)


# (format, option, value, check on the output's metadata): each option
# one of the sinks used to drop, checked on every sink
OPTION_CASES = [
    ("stata", "dta_version", "117", lambda m: m.version == 117),
    ("stata", "string_widths", '{"s": 20}', lambda m: _var(m, "s").width == 20),
    ("stata", "data_label", "golden data", lambda m: m.data_label == "golden data"),
    ("spss", "user_missing", '{"v": [-99.0]}', lambda m: _var(m, "v").missing_doubles == [-99.0]),
    ("spss", "data_label", "golden data", lambda m: m.data_label.strip() == "golden data"),
    ("spss", "string_widths", '{"s": 20}', lambda m: _var(m, "s").string_len == 20),
    ("spss", "compress", "zsav", lambda m: m.compression == 2),
    ("xport", "dsname", "GOLD", lambda m: m.dataset_name == "GOLD"),
    ("xport", "data_label", "golden data", lambda m: m.dataset_label == "golden data"),
    ("sas", "compress", "rle", lambda m: m.compression == "RLE"),
    ("sas", "variable_labels", VARIABLE_LABELS, lambda m: _var(m, "k").label == "Row key"),
    ("sas", "column_formats", '{"g": "GFMT"}', lambda m: _var(m, "g").fmt == "GFMT"),
    ("sas", "dsname", "GOLD", lambda m: m.dataset_name == "GOLD"),
    ("por", "value_labels", VALUE_LABELS, lambda m: _var(m, "g").value_labels == {1.0: "one", 2.0: "two", 3.0: "three"}),
]

EXT = {"stata": "dta", "spss": "sav", "xport": "xpt", "sas": "sas7bdat", "por": "por"}


@pytest.mark.parametrize("sink", ["batch", "multifile", "stream"])
@pytest.mark.parametrize(
    "fmt,option,value,check", OPTION_CASES, ids=[f"{c[0]}-{c[1]}" for c in OPTION_CASES]
)
def test_every_sink_honours_option(spark, tmp_path, sink, fmt, option, value, check):
    from polars_readstat_rs_spark.datasource import register

    register(spark)
    df = golden_frame(spark)
    out = tmp_path / f"out.{EXT[fmt]}"
    if sink == "stream":
        drop = tmp_path / "in"
        drop.mkdir()
        df.write.format("readstat").mode("overwrite").save(str(drop / "a.dta"))
        q = (
            spark.readStream.format("readstat")
            .load(str(drop))
            .writeStream.format("readstat")
            .option("format", fmt)
            .option(option, value)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start(str(out))
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    else:
        w = df.write.format("readstat").mode("overwrite").option(option, value)
        w.option("multifile", str(sink == "multifile")).save(str(out))
    written = sorted(glob.glob(str(out / "part-*"))) if out.is_dir() else [str(out)]
    assert written
    assert check(_read_back(fmt, written[0])), (sink, option)


@pytest.mark.parametrize("sink", ["batch", "multifile", "empty"])
def test_xpt_sink_keeps_long_names_as_labels(spark, tmp_path, sink):
    """XPORT v5 names are 8 characters; a longer column name is kept as
    the variable's label, by every sink as by write_xpt."""
    from polars_readstat_rs_spark.datasource import register
    from polars_readstat_rs_spark.formats.sas import xport

    register(spark)
    df = golden_frame(spark).withColumnRenamed("v", "a_very_long_name")
    if sink == "empty":
        df = df.filter("false")
    out = tmp_path / "out.xpt"
    df.write.format("readstat").mode("overwrite").option("multifile", str(sink == "multifile")).save(str(out))
    written = sorted(glob.glob(str(out / "part-*"))) if out.is_dir() else [str(out)]
    assert written
    for path in written:
        labels = {v.name: v.label for v in xport.read_metadata(path).variables}
        assert labels == {"K": "", "A_VERY_L": "a_very_long_name", "S": "", "G": ""}, path


WRITERS = ["dta", "sav", "xpt", "sas7bdat", "por", "sas_package"]


def _write_with(writer: str, data, path: str) -> list[str]:
    """Write ``data`` with a format-level writer; return the files written."""
    from polars_readstat_rs_spark.formats.sas import bdat_writer, xport
    from polars_readstat_rs_spark.formats.sas import writer as sas_writer
    from polars_readstat_rs_spark.formats.spss import portable
    from polars_readstat_rs_spark.formats.spss import writer as spss_writer
    from polars_readstat_rs_spark.formats.stata import writer as stata_writer

    if writer == "sas_package":
        sas_writer.write_sas_package(data, path + ".csv", path + ".sas")
        return [path + ".csv", path + ".sas"]
    write = {
        "dta": stata_writer.write_dta,
        "sav": spss_writer.write_sav,
        "xpt": xport.write_xpt,
        "sas7bdat": bdat_writer.write_sas7bdat,
        "por": portable.write_por,
    }[writer]
    write(data, path)
    return [path]


@pytest.mark.parametrize("writer", WRITERS)
def test_format_writer_accepts_spark_dataframe(spark, tmp_path, writer):
    """Every format-level writer takes a Spark DataFrame and writes what
    it writes for the DataFrame's Arrow table."""
    df = golden_frame(spark)
    got = _write_with(writer, df, str(tmp_path / f"spark.{writer}"))
    want = _write_with(writer, df.toArrow(), str(tmp_path / f"arrow.{writer}"))
    for a, b in zip(got, want):
        with open(a, "rb") as fa, open(b, "rb") as fb:
            body_a, body_b = fa.read(), fb.read()
        if writer == "sas_package":  # the script names its own csv path
            body_a = body_a.replace(b"spark.sas_package", b"arrow.sas_package")
        assert body_a == body_b, a


def test_single_shot_failure_leaves_no_blob(tmp_path):
    """A write_* call that its assembler rejects (compressed big-endian
    .sav) raises and leaves neither the output nor its temp blob."""
    from polars_readstat_rs_spark.formats.spss.writer import write_sav

    with pytest.raises(ValueError, match="little-endian"):
        write_sav(single_shot_tables()["mixed"], str(tmp_path / "x.sav"), endian=">", compress=True)
    assert os.listdir(tmp_path) == []


def _boom(target, parts):
    with open(target, "wb") as f:
        f.write(b"half a file")
    raise OSError("disk full")


@pytest.mark.parametrize("sink", ["batch", "stream"])
def test_failed_publish_keeps_previous_output(tmp_path, sink):
    """A commit whose assembly fails midway leaves the previous output
    byte-identical and no temp file or staging dir behind."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from polars_readstat_rs_spark.datasource import ReadstatDataSource

    schema = T.StructType([T.StructField("k", T.IntegerType()), T.StructField("s", T.StringType())])
    batch = pa.record_batch(
        [pa.array([1, 2, 3], pa.int32()), pa.array(["a", "bb", None])], names=["k", "s"]
    )
    if sink == "batch":
        target = tmp_path / "out.dta"
        source = ReadstatDataSource({"path": str(target)})
        make = lambda: source.writer(schema, True)  # noqa: E731
        commit = lambda w, msgs: w.commit(msgs)  # noqa: E731
    else:
        target = tmp_path / "out" / "part-00000.dta"
        source = ReadstatDataSource({"path": str(tmp_path / "out")})
        make = lambda: source.streamWriter(schema, True)  # noqa: E731
        commit = lambda w, msgs: w.commit(msgs, 0)  # noqa: E731
    w = make()
    commit(w, [w.write(iter([batch]))])
    before = target.read_bytes()
    listing = sorted(os.listdir(tmp_path))

    w = make()
    w.codec = w.codec._replace(assemble=_boom)
    msgs = [w.write(iter([batch, batch]))]
    with pytest.raises(OSError, match="disk full"):
        commit(w, msgs)
    assert target.read_bytes() == before
    assert sorted(os.listdir(tmp_path)) == listing
    assert os.listdir(target.parent) == [target.name]


# ------------------------------------------------- single-shot write_* cells
#
# The format-level write_* functions write one in-memory table. Each cell
# below is hashed over every table of single_shot_tables(); a cell key is
# "<cell>/<table>".

PY_VALUE_LABELS = {"g": {1: "one", 2: "two", 3: "three"}}
PY_VARIABLE_LABELS = {"k": "Row key", "v": "Measured value", "a_very_long_name": "Long"}


def single_shot_tables() -> dict:
    """A 7-row mixed-type table, a 2-chunk table, a 0-row table and a
    table whose column names are longer than 8 characters (two of them
    equal in their first 8). Row counts times record widths are not
    multiples of 8, so RLE streams end in a partial control group."""
    import datetime as dt

    import pyarrow as pa

    n = 7
    mixed = pa.table(
        {
            "k": pa.array([1, 2, None, 4, 5, 6, 7], pa.int64()),
            "i": pa.array(range(n), pa.int32()),
            "v": pa.array([0.5, None, -99.0, 3.25, 1e300, -0.0, 7.0]),
            "b": pa.array([True, False, None, True, True, False, True]),
            "d": pa.array([dt.date(2020, 1, i + 1) if i != 3 else None for i in range(n)], pa.date32()),
            "ts": pa.array(
                [dt.datetime(2021, 5, i + 1, 12, 30, 15, 250000) if i != 2 else None for i in range(n)],
                pa.timestamp("us"),
            ),
            "s": pa.array(["a", None, "ccc", "", "hello world", "x" * 30, "zz"]),
            "w": pa.array(["y" * 300, "short", None, "q", "r" * 299, "", "tail"]),
            "g": pa.array([1, 2, 3, 1, 2, 3, 1], pa.int32()),
        }
    )
    longname = pa.table(
        {
            "k": pa.array([10, 20, 30, None, 50], pa.int64()),
            "s": pa.array(["p", "qq", None, "rrrr", "s"]),
            "a_very_long_name": pa.array([1.5, None, 2.5, 3.5, 4.5]),
            "a_very_long_other": pa.array(["u", "vv", "www", None, ""]),
            "g": pa.array([3, 2, 1, 2, 3], pa.int32()),
        }
    )
    return {
        "mixed": mixed,
        "chunked": pa.concat_tables([mixed, mixed.slice(2)]),
        "empty": mixed.slice(0, 0),
        "longname": longname,
    }


def strl_table():
    """Strings over 2045 bytes and with trailing spaces: the .dta strL
    (GSO heap) path, which v117 does not support."""
    import pyarrow as pa

    return pa.table(
        {
            "k": pa.array([1, 2, 3, 4], pa.int64()),
            "big": pa.array([2**40, None, -5, 7], pa.int64()),
            "long": pa.array(["L" * 3000, None, "", "m" * 2046]),
            "sp": pa.array(["trail ", "none", None, " "]),
            "g": pa.array([1, 2, 3, 1], pa.int32()),
        }
    )


def _single_shot_cells() -> list:
    """(cell, extension, write(table, path)); xpt cells drop the date and
    timestamp columns, which the XPORT writer does not encode."""
    from polars_readstat_rs_spark.formats.sas.bdat_writer import write_sas7bdat
    from polars_readstat_rs_spark.formats.sas.xport import write_xpt
    from polars_readstat_rs_spark.formats.spss.portable import write_por
    from polars_readstat_rs_spark.formats.spss.writer import write_sav
    from polars_readstat_rs_spark.formats.stata.writer import write_dta

    dta = dict(value_labels=PY_VALUE_LABELS, variable_labels=PY_VARIABLE_LABELS, data_label="golden data")
    sav = dict(
        value_labels={c: {float(k): v for k, v in m.items()} for c, m in PY_VALUE_LABELS.items()},
        variable_labels=PY_VARIABLE_LABELS,
        data_label="golden data",
        user_missing={"v": [-99.0]},
    )
    xpt = dict(dsname="GOLD", dslabel="golden data", string_widths={"s": 40})
    sas = dict(
        dsname="GOLD",
        string_widths={"s": 40},
        variable_labels=PY_VARIABLE_LABELS,
        column_formats={"g": "GFMT"},
    )

    def no_temporal(t):
        return t.select([c for c in t.column_names if c not in ("d", "ts")])

    return [
        ("dta_v117", "dta", lambda t, p: write_dta(t, p, version=117, **dta)),
        ("dta_v118", "dta", lambda t, p: write_dta(t, p, version=118, **dta)),
        ("dta_v119", "dta", lambda t, p: write_dta(t, p, version=119, **dta)),
        ("sav_plain", "sav", lambda t, p: write_sav(t, p, **sav)),
        ("sav_compress", "sav", lambda t, p: write_sav(t, p, compress=True, **sav)),
        ("zsav", "zsav", lambda t, p: write_sav(t, p, compress="zsav", **sav)),
        ("sav_big_endian", "sav", lambda t, p: write_sav(t, p, endian=">", **sav)),
        ("xpt_v5", "xpt", lambda t, p: write_xpt(no_temporal(t), p, version=5, **xpt)),
        ("xpt_v8", "xpt", lambda t, p: write_xpt(no_temporal(t), p, version=8, **xpt)),
        ("sas7bdat_plain", "sas7bdat", lambda t, p: write_sas7bdat(t, p, **sas)),
        ("sas7bdat_rle", "sas7bdat", lambda t, p: write_sas7bdat(t, p, compress="RLE", **sas)),
        ("sas7bdat_rdc", "sas7bdat", lambda t, p: write_sas7bdat(t, p, compress="RDC", **sas)),
        ("por_labels", "por", lambda t, p: write_por(
            t, p, variable_labels=PY_VARIABLE_LABELS, value_labels=PY_VALUE_LABELS)),
    ]


GOLDEN_SINGLE_SHOT = {
    "dta_v117/chunked": "b5743ef4a98e2154ebb6a0c0e39af64ae3a43a5eaf1d3c6c657b1e22415131b0",
    "dta_v117/empty": "2febaedee93246dad8ddf0230ec345120d1da55f99b64627cecaa603691deb09",
    "dta_v117/longname": "ffce100412a29284ed7e954ef9b74957f93d8811b64da064d0adfd4de654929a",
    "dta_v117/mixed": "738b07f1b2f423545f6b7ad71bb5bacfe7a737b6fef32afe44cd88dee3a79bb9",
    "dta_v118/chunked": "2e82923a0322d546ace5dafe152011e6437590c10d4d8120e10ec102f2dc5838",
    "dta_v118/empty": "313f8e0301ae517b3e044d15d243b8e2ab6cfa0b52ad2064eaa46f790e2d4f89",
    "dta_v118/longname": "1880a76cd5925036cc3fa63d9b2fca70dc1465a584a07f693718c260c21d6410",
    "dta_v118/mixed": "2b75a2fadc490ddbefcf20bb07b8e46d64046f158a32679fda8314a7373d1de8",
    "dta_v118/strl": "dd028e65c95a3dc598865415ac8fa5085d33525c6119e820e71d4bb8b0b66636",
    "dta_v119/chunked": "8029dbc08982504b668ce19599d61d0ba80e9b5ac65c6a1252bfc516425c8704",
    "dta_v119/empty": "1539bb000d3ce38e15d59c98f5ef04c9b189079442ccfb1b13260e0bc6dbb61b",
    "dta_v119/longname": "999c2aae8ea6be2930617ca917987ca1597fa9a2b04ea64201b30f918553be1b",
    "dta_v119/mixed": "4106b6db09172be03716cc4237ea85192760fd0cb77609cf0d320af9b555cd19",
    "dta_v119/strl": "9cfab06ca860725ffd98168b7af37079666e16bcf18703d835eed6e2dfff2a1e",
    "por_labels/chunked": "3207a15e9d52bff4cbb6a490e35c823a81a555c9f2ca7891ac6708757d8f40a0",
    "por_labels/empty": "6be7bfaa197a4d6f994560623f0a63b762cc7028d1eda4e122d28f02a2dbe2f6",
    "por_labels/longname": "775f430714e016fa2f9caee77f6c9498ae0f5a0e25a6d60933d49f077a9d8517",
    "por_labels/mixed": "fc67570fc590f9c7ae7f96f8c6b297238a9cf69b8258c8df8dd48704341f3bac",
    "sas7bdat_plain/chunked": "bc0c16579c9cf4b2b70f99af770199cb2a7bbb8b54104f7fd2ef3dc6baa60a7a",
    "sas7bdat_plain/empty": "d51c5cf40808a9ddf628ea3a332e0269034db23af2c4d45e18a253d828788536",
    "sas7bdat_plain/longname": "0530caf65ccf03ded01f035b40b5c517007845d86dfbbe28bc705bfe618e012a",
    "sas7bdat_plain/mixed": "4f4444e0f4464467330813b1d0ada41f0b348209a08bd4f21401fc91a0ff85e0",
    "sas7bdat_rdc/chunked": "b1b21e8b7f3406854a943405009270e7fb18b40b8b18d7d366fdfe937bee7b85",
    "sas7bdat_rdc/empty": "d51c5cf40808a9ddf628ea3a332e0269034db23af2c4d45e18a253d828788536",
    "sas7bdat_rdc/longname": "9f94e8930e4cc0e02779ed8aa05ab8137285455c716c033b176902e94b6bb527",
    "sas7bdat_rdc/mixed": "e796d432a03af3ef534d88bba0a3f13b1d47ad8395860f693c394f1c5021760b",
    "sas7bdat_rle/chunked": "601116f86b2f82a2eeb410f8b4b840ea2668732a3b95198dda730e570c64e0d6",
    "sas7bdat_rle/empty": "d51c5cf40808a9ddf628ea3a332e0269034db23af2c4d45e18a253d828788536",
    "sas7bdat_rle/longname": "2bb876854ca57440ccf536dc51fba2d9574aeea293f494648feb427709177214",
    "sas7bdat_rle/mixed": "5d1b6ce1492d70779603d6727c7c482399d42ce6ca3154bd239335b356f0f172",
    "sav_big_endian/chunked": "86cc0ca3d4224782b207d8106061dc141e6e15bbda78cb1af1adb59c6fef1863",
    "sav_big_endian/empty": "502bbe5016c677a3693cb69adc4ec81c63aa1e38af31e91e577d087e775cb6a7",
    "sav_big_endian/longname": "60c3d23f39aeb422e84118488ff4de2d9ce611d9689ad0070f1a723b5174aa5b",
    "sav_big_endian/mixed": "b97f958e6053a4502c6b341fe18bb774b96652e08ad46c1bf07971c252e72b7b",
    "sav_compress/chunked": "bc6ebd22816c1f17dc699027406ae7c2c21c03c317fca6590618dbb14d6cea6c",
    "sav_compress/empty": "af889517d8d7b29b3fdf3e4d74ddc2b9f00a70e955f083935ec24bc025fb02fe",
    "sav_compress/longname": "e933402c63b1200905215195e17620e50b8554f71472694ca86b4022365dc51e",
    "sav_compress/mixed": "8a18c57db527aa24c5f14ea98240abc0ae453c9838a8e49cc1e3f541e50d912f",
    "sav_plain/chunked": "0279840fbe84b5b81780804eb3645392ab7e01fbeda9b950b870134d6ab13e18",
    "sav_plain/empty": "e535b1b69bd205e3ee41679bb94621df9da04eb1ad63b3d5b129c5b1eb019476",
    "sav_plain/longname": "fba67564f4290b0cf3556fec6f9c67147b7e893b1c19a3d76e0f810c4dc70afd",
    "sav_plain/mixed": "6b125589552518e9bfdb040c01abcbf3eba8a00255428c5a2560e6ee7a4d7619",
    "xpt_v5/chunked": "079e58eb20179e4aaa16d4b046fef3b985455a5400aaaf6ec966e4db2f2e8ebc",
    "xpt_v5/empty": "5a91e6f0f8c0368d5948827aef1af9c85569f3dfc76398bbac707bbc8e250ed0",
    "xpt_v5/longname": "3e18a6568a477dc869bfc82d1e3515424f9fe3ef46ab33f9e6570074b663e737",
    "xpt_v5/mixed": "01c28ecad5753b2ff5ddf2001a5973746592fc4965025bf9101072abc427122a",
    "xpt_v8/chunked": "b75a84f04e443be689a3b6a0051e762a58d654dbd519b2ba7f7854447498a3fe",
    "xpt_v8/empty": "0b7bbeb9e10cd0626f83df4b747da5bfacdb478f67d3661365cc4a868863567a",
    "xpt_v8/longname": "198ba3f879141507ff4d7164b0177500462abb55aeff7709aafea44b7ad91e29",
    "xpt_v8/mixed": "69965413e5fd0bdc14039ddfc24523bdd018742b3ce488177af48909f4409898",
    "zsav/chunked": "cc392a8310c3364230a70188b16ab909575506c48c8666af1685e1b4a5212fe5",
    "zsav/empty": "4ea8202fea37db673a58a3d578686677079489d3c53754c31f18b0659c4c54dd",
    "zsav/longname": "6a49ec7698256a8b5b6ef356a981b44e34b0139f84d0593248247788135468b9",
    "zsav/mixed": "fbf2d5076427a9336a4ea5d1fbbb1393ed82a874a9b4aa09efab4e24f35c0e19",
}

def write_single_shot_cells(tmp_path) -> dict:
    """Write every single-shot cell under ``tmp_path``; return {cell: sha256}."""
    from polars_readstat_rs_spark.formats.stata.writer import write_dta

    out = {}
    tables = single_shot_tables()
    for cell, ext, write in _single_shot_cells():
        for name, table in tables.items():
            path = str(tmp_path / f"{cell}-{name}.{ext}")
            write(table, path)
            out[f"{cell}/{name}"] = _sha(path)
    for version in (118, 119):
        path = str(tmp_path / f"strl-{version}.dta")
        write_dta(strl_table(), path, value_labels=PY_VALUE_LABELS, data_label="strl", version=version)
        out[f"dta_v{version}/strl"] = _sha(path)
    return out


def test_single_shot_golden_bytes(tmp_path):
    got = write_single_shot_cells(tmp_path)
    assert set(got) == set(GOLDEN_SINGLE_SHOT)
    diff = {cell: got[cell] for cell in GOLDEN_SINGLE_SHOT if got[cell] != GOLDEN_SINGLE_SHOT[cell]}
    assert not diff, diff
