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
