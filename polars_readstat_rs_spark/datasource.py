"""PySpark custom DataSource for statistical-software file formats.

``spark.read.format("readstat").load(path)`` with extension dispatch
(.dta -> Stata, .sav/.zsav -> SPSS, .sas7bdat -> SAS), mirroring the
reference's ``readstat_scan`` (src/lib.rs:383-413) as a Python
DataSource (Spark 4 API).

Driver/executor split (SURVEY §3): ``schema()`` opens header+dictionary
only (cheap, driver-side); ``partitions()`` plans row ranges
arithmetically (the analogue of the reference's analytical page index,
src/sas/reader.rs:282-360); each task seeks its byte range and yields
Arrow record batches (vectorized decode, no per-row Python).

Options:
- ``columns``: comma-separated projection. The Python DataSource API has
  no Catalyst column-pruning hook yet, so pruning is an explicit option
  — the reader then parses only those byte ranges (reference P1, the
  51x headline feature).
- ``offset`` / ``limit``: row slice (reference P2/P3) applied before
  partition planning -> O(1) byte seek for fixed-width formats.
- ``batch_size``: rows per Arrow batch (default 65536).
- ``partitions``: target partition count (default: one per ~48MB of
  record bytes, at least 1).
- ``row_index``: emit a ``_row_idx`` long column for order recovery
  (reference P10 preserve_order: Spark partitions keep intra-partition
  order, so sorting by _row_idx reconstructs file order).
- ``value_labels_as_strings`` (default true), ``missing_string_as_null``
  (default true): reference P5/P8 semantics.
- ``filter_pushdown`` (default FALSE): accept Catalyst filters for
  batch-side application (P4). Opt-in because Spark reuses the planned
  scan across queries on the same relation — see _ReadstatReader.
- ``union_by_name`` (default false): multi-file scans with EVOLVING
  schemas (survey waves) read as the by-name union of all files'
  fields — missing columns null-fill, type conflicts fail at plan time.
- ``multifile`` (write, default false): partitioned DIRECTORY sink —
  each task writes one complete standalone file; see _SpoolSink.

At cluster scale each partition is an independent (path, row-range) unit
-> 1000 executors can share one huge file or many files; compressed
formats that cannot split declare a single partition per file and scale
across files instead.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
from dataclasses import dataclass
from typing import Callable, NamedTuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
import pyarrow as pa_lib


from .formats.stata import parser as stata_parser


def _arrow_type_to_spark(t):
    """Hand-rolled Arrow -> Spark type mapping for the types these
    readers emit. pyspark.sql.pandas.types.from_arrow_schema drags the
    full pandas import chain (~0.2 s) into every PLANNING worker — and
    Spark 4 spawns a fresh planning worker per query, so that import
    was a per-query tax on every readstat scan (measured 0.247 s
    schema-only planning on a warm session; ~0.05 s with this).
    Returns None for types outside the emitted set (caller falls back
    to the pandas-chain conversion for exotica)."""
    import pyarrow.types as pt
    from pyspark.sql import types as T

    if pt.is_int8(t):
        return T.ByteType()
    if pt.is_int16(t):
        return T.ShortType()
    if pt.is_int32(t):
        return T.IntegerType()
    if pt.is_int64(t):
        return T.LongType()
    if pt.is_float32(t):
        return T.FloatType()
    if pt.is_float64(t):
        return T.DoubleType()
    if pt.is_boolean(t):
        return T.BooleanType()
    if pt.is_string(t) or pt.is_large_string(t):
        return T.StringType()
    if pt.is_binary(t) or pt.is_large_binary(t):
        return T.BinaryType()
    if pt.is_date32(t):
        # date64 (and fixed_size_binary above) fall through to the
        # from_arrow_schema fallback — keep this hand-rolled map
        # strictly within the verified-parity set of types the
        # readers actually emit (r12 ADVICE item 1)
        return T.DateType()
    if pt.is_timestamp(t):
        # same policy as from_arrow_schema(prefer_timestamp_ntz=True)
        return T.TimestampType() if t.tz else T.TimestampNTZType()
    if pt.is_decimal(t):
        return T.DecimalType(t.precision, t.scale)
    if pt.is_list(t) or pt.is_large_list(t):
        inner = _arrow_type_to_spark(t.value_type)
        return T.ArrayType(inner, True) if inner is not None else None
    if pt.is_struct(t):
        fields = []
        for f in t:
            ft = _arrow_type_to_spark(f.type)
            if ft is None:
                return None
            fields.append(T.StructField(f.name, ft, f.nullable))
        return T.StructType(fields)
    return None


def _from_arrow_schema(schema):
    from pyspark.sql import types as T

    fields = []
    for f in schema:
        ft = _arrow_type_to_spark(f.type)
        if ft is None:
            # exotic type: pay the pandas-chain import for correctness
            from pyspark.sql.pandas.types import from_arrow_schema

            return from_arrow_schema(schema, prefer_timestamp_ntz=True)
        fields.append(T.StructField(f.name, ft, f.nullable))
    return T.StructType(fields)

# Default split target for row-range/page-range partition planning.
# Sized to the PYTHON decode rate, not the JVM's: these readers decode
# ~100-150 MB/s per core (numpy structured-view + Arrow build), so a
# 16 MB split is ~0.1-0.15 s of task work — the same duration a 128 MB
# parquet split costs whole-stage codegen at ~1 GB/s. The r9 default
# (48 MB) left a 62 MB single file running 2-wide on a 32-core
# executor; splits here are O(1)-seek byte ranges (no footer/stripe
# overhead per split), so the finer default costs only task-scheduling
# floor, which multi-file 100 TB scans amortize by the file axis
# anyway. SPARK_GRAFT_READSTAT_TARGET overrides for deployments.
def _partition_target_bytes() -> int:
    raw = os.environ.get("SPARK_GRAFT_READSTAT_TARGET", str(16 << 20))
    try:
        v = int(raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_READSTAT_TARGET must be an integer byte count, got {raw!r} "
            "(suffixes like '64m' are not supported — use 67108864)"
        ) from None
    if v <= 0:
        raise ValueError(f"SPARK_GRAFT_READSTAT_TARGET must be positive, got {v}")
    return v


TARGET_PARTITION_BYTES = _partition_target_bytes()


@dataclass
class _RowRange(InputPartition):
    path: str
    start: int
    count: int


@dataclass
class _PageRange(InputPartition):
    """Compressed-SAS partition: pages [lo, hi) decode independently."""

    path: str
    lo: int
    hi: int


@dataclass
class _RlePartition(InputPartition):
    """Compressed-SPSS partition: rows [start, start+count) decoded from
    an RLE recovery point (anchor = zsav block index or sav file offset)."""

    path: str
    start: int
    count: int
    anchor: int
    skip: int
    unit_base: int


def _true(opt: str | None, default: bool = True) -> bool:
    if opt is None:
        return default
    return str(opt).lower() in ("1", "true", "yes")


_EXTS = ("dta", "sav", "zsav", "sas7bdat", "sas7bcat", "xpt", "por")


def expand_paths(path: str) -> list[str]:
    """A path option may be one file, a glob, or a directory (the
    multi-file scale-out path: a corpus of stat files reads as ONE
    DataFrame, partitioned per file and within files). Returns sorted
    concrete files; single non-glob files pass through unchecked so a
    missing file still raises the format's own open error."""
    if os.path.isdir(path):
        out = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.rsplit(".", 1)[-1].lower() in _EXTS
        ]
        if not out:
            raise ValueError(f"directory {path!r} contains no readstat files")
        return sorted(out)
    if any(c in path for c in "*?["):
        out = sorted(glob.glob(path))
        if not out:
            raise ValueError(f"glob {path!r} matched no files")
        return out
    return [path]


class ReadstatDataSource(DataSource):
    """format("readstat") — dispatches on file extension."""

    @classmethod
    def name(cls) -> str:
        return "readstat"

    def _fmt(self) -> str:
        path = self.options.get("path", "")
        fmt = self.options.get("format")
        if fmt:
            return fmt.lower()
        if os.path.isdir(path) or any(c in path for c in "*?["):
            path = expand_paths(path)[0]
        ext = os.path.splitext(path)[1].lower().lstrip(".")
        if ext in ("dta",):
            return "stata"
        if ext in ("sav", "zsav"):
            return "spss"
        if ext in ("sas7bdat", "sas7bcat"):
            # catalogs share the sas7bdat page format (reference
            # detect_format, src/lib.rs:389)
            return "sas"
        if ext in ("xpt",):
            return "xport"
        if ext in ("por",):
            return "por"
        raise ValueError(f"cannot infer readstat format from path {path!r}")

    def _read_opts(self):
        inc = self.options.get("informative_null_columns")
        kwargs = dict(
            value_labels_as_strings=_true(self.options.get("value_labels_as_strings")),
            missing_string_as_null=_true(self.options.get("missing_string_as_null")),
            row_index=_true(self.options.get("row_index"), default=False),
            # "true"/"separate", "struct", "merged", or falsy — passed
            # through; the parser normalizes (reference InformativeNullMode)
            informative_nulls=self.options.get("informative_nulls", False),
            informative_null_columns=[c.strip() for c in inc.split(",")] if inc else None,
            informative_null_suffix=self.options.get("informative_null_suffix", "__missing"),
        )
        if self._fmt() == "sas":
            from .formats.sas import parser as sas_parser

            kwargs.pop("value_labels_as_strings")
            cat = self.options.get("catalog")
            if cat:
                # P5 for SAS: value labels live in a sibling .sas7bcat.
                # Loaded ONCE on the driver; the small dict pickles to
                # executors with the reader (no catalog I/O per task).
                from .formats.sas.catalog import read_catalog

                kwargs["catalog_formats"] = read_catalog(cat)
            return sas_parser.ReadOptions(**kwargs)
        if self._fmt() == "spss":
            from .formats.spss import parser as spss_parser

            return spss_parser.ReadOptions(
                user_missing_as_null=_true(self.options.get("user_missing_as_null")),
                informative_null_use_value_labels=_true(
                    self.options.get("informative_null_use_value_labels")
                ),
                **kwargs,
            )
        if self._fmt() == "xport":
            from .formats.sas import xport

            kwargs.pop("value_labels_as_strings")  # no labels in XPORT v5
            return xport.ReadOptions(**kwargs)
        if self._fmt() == "por":
            from .formats.spss import portable

            return portable.ReadOptions(
                user_missing_as_null=_true(self.options.get("user_missing_as_null")),
                **kwargs,
            )
        return stata_parser.ReadOptions(**kwargs)

    def _columns(self) -> list[str] | None:
        cols = self.options.get("columns")
        return [c.strip() for c in cols.split(",")] if cols else None

    def schema(self):
        if _true(self.options.get("union_by_name"), default=False):
            return self._union_schema()
        fmt = self._fmt()
        path = expand_paths(self.options["path"])[0]
        if fmt == "stata":
            meta = stata_parser.read_metadata(path)
            return _from_arrow_schema(
                stata_parser.arrow_schema(meta, self._read_opts(), self._columns())
            )
        if fmt == "spss":
            from .formats.spss import parser as spss_parser

            meta = spss_parser.read_metadata(path)
            return _from_arrow_schema(
                spss_parser.arrow_schema(meta, self._read_opts(), self._columns())
            )
        if fmt == "sas":
            from .formats.sas import parser as sas_parser

            meta = sas_parser.read_metadata(path)
            opts = self._read_opts()
            return _from_arrow_schema(
                sas_parser.arrow_schema(
                    meta,
                    self._columns(),
                    row_index=opts.row_index,
                    informative_nulls=opts.informative_nulls,
                    informative_null_columns=opts.informative_null_columns,
                    informative_null_suffix=opts.informative_null_suffix,
                    catalog_formats=opts.catalog_formats,
                )
            )
        if fmt == "xport":
            from .formats.sas import xport

            meta = xport.read_metadata(path)
            return _from_arrow_schema(
                xport.arrow_schema(meta, self._read_opts(), self._columns())
            )
        if fmt == "por":
            from .formats.spss import portable

            meta = portable.read_metadata(path)
            return _from_arrow_schema(
                portable.arrow_schema(meta, self._read_opts(), self._columns())
            )
        raise ValueError(f"unsupported format {fmt}")

    def _arrow_schema_of_path(self, path: str, columns=None):
        """Per-file ARROW schema with the full option surface (the same
        dispatch the reader's _arrow_schema_of uses)."""
        fmt = self._fmt()
        opts = self._read_opts()
        if fmt == "stata":
            return stata_parser.arrow_schema(stata_parser.read_metadata(path), opts, columns)
        if fmt == "spss":
            from .formats.spss import parser as spss_parser

            return spss_parser.arrow_schema(spss_parser.read_metadata(path), opts, columns)
        if fmt == "xport":
            from .formats.sas import xport

            return xport.arrow_schema(xport.read_metadata(path), opts, columns)
        if fmt == "por":
            from .formats.spss import portable

            return portable.arrow_schema(portable.read_metadata(path), opts, columns)
        from .formats.sas import parser as sas_parser

        return sas_parser.arrow_schema(
            sas_parser.read_metadata(path),
            columns,
            row_index=opts.row_index,
            informative_nulls=opts.informative_nulls,
            informative_null_columns=opts.informative_null_columns,
            informative_null_suffix=opts.informative_null_suffix,
            catalog_formats=opts.catalog_formats,
        )

    def _union_schema(self):
        """option("union_by_name","true"): the directory schema is the
        BY-NAME union of every file's fields (survey waves: later files
        add variables; missing ones read as null). Field order = first
        appearance across the sorted file list; a name whose type
        differs across files fails LOUDLY at plan time (no silent
        coercion). O(#files) driver work, header reads only — the same
        cost the mismatch check in partitions() already pays."""
        fields: dict[str, object] = {}
        origin: dict[str, str] = {}
        for p in expand_paths(self.options["path"]):
            s = self._arrow_schema_of_path(p)  # full per-file field set
            for f in s:
                prev = fields.get(f.name)
                if prev is None:
                    fields[f.name] = f.type
                    origin[f.name] = p
                elif prev != f.type:
                    raise ValueError(
                        f"union_by_name: column {f.name!r} is {prev} in "
                        f"{origin[f.name]!r} but {f.type} in {p!r} — cast "
                        "the files to a common type or read them separately"
                    )
        cols = self._columns()
        names = [n for n in fields if cols is None or n in cols]
        if cols is not None:
            missing = [c for c in cols if c not in fields]
            if missing:
                raise ValueError(f"union_by_name: columns {missing} exist in no input file")
            names = [c for c in cols]  # user-given projection order
        return _from_arrow_schema(pa_lib.schema([pa_lib.field(n, fields[n]) for n in names]))

    def reader(self, schema) -> DataSourceReader:
        return _ReadstatReader(
            self.options, self._fmt(), self._columns(), self._read_opts(), schema
        )

    def streamReader(self, schema):
        """spark.readStream.format("readstat").load(dir): Structured
        Streaming over a drop directory of stat files — each micro-batch
        reads the newly arrived files with the batch reader's full
        option surface. The reference's streaming story is a pull-based
        single-file batch iterator (src/readstat_stream.rs); this is the
        push-based continuous-ingest upgrade a Spark-native engine adds.
        Format dispatch is per delivered file, so the query can start on
        an EMPTY drop directory when the user supplies .schema(...)."""
        return _ReadstatStreamReader(dict(self.options))

    def writer(self, schema, overwrite: bool):
        """df.write.format("readstat").save(path): distributed two-phase
        write of .dta, .sav/.zsav, .xpt, .por or .sas7bdat (_SpoolSink).

        Each task encodes its partition's Arrow batches to record
        sections in a staging dir beside the output path (shared
        filesystem on a real cluster); commit() on the driver streams
        the sections into the final file one section at a time, never
        materializing rows (the reference's streaming-batch write mode,
        src/stata/writer.rs:244-380, without needing the row count
        upfront). option("staging_dir", ...) overrides the staging
        location; option("multifile", "true") writes a directory of
        standalone part files instead.
        """
        path = self.options["path"]
        multifile = _true(self.options.get("multifile"), default=False)
        if not multifile and not overwrite and os.path.exists(path):
            # single-file stat formats are not appendable containers: a
            # mode("append") here used to silently OVERWRITE the file.
            # Appending to a missing path is just a create and stays
            # allowed; real appends belong to the multifile directory
            # sink (each job adds part files) or the streaming sinks.
            raise ValueError(
                f"cannot append to existing single-file output "
                f"{path!r}: .dta/.sav/.xpt/.por/.sas7bdat are "
                "not appendable containers — use mode('overwrite'), or "
                "option('multifile','true') for an appendable directory of "
                "part files"
            )
        return _SpoolSink(path, schema, self._fmt(), self.options, overwrite, multifile)

    def streamWriter(self, schema, overwrite: bool):
        """df.writeStream.format("readstat").start(dir): one immutable
        part-{batchId}.{ext} per micro-batch in the output directory
        (readable back by the batch reader and the streaming source).
        The path is a directory, so the format comes from
        option("format", ...), defaulting to stata."""
        fmt = self.options.get("format", "stata").lower()
        return _SpoolStreamSink(self.options["path"], schema, fmt, self.options, overwrite)


class _StreamFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


# how far below the watermark a file's mtime may lag and still be
# delivered (the maxFileAge analogue): covers producers whose write
# finished before their atomic rename landed. Overridable with
# option("late_file_lag_sec", ...).
_STREAM_LATE_LAG_NS = 60 * 1_000_000_000


class _ReadstatStreamReader(DataSourceStreamReader):
    """Directory-watching stream source for stat files.

    Offsets are a MODIFICATION-TIME WATERMARK plus the set of files
    within the LATE-FILE LAG window below it: a file is "delivered by"
    an offset iff its mtime is older than (watermark - lag), or it is
    listed in the boundary set. That keeps the checkpointed offset
    O(lag-window population) instead of O(#files) — a 100 TB drop
    directory accumulates millions of files and a full-file-list offset
    would grow the offset log unboundedly — while replay between two
    committed offsets stays exact, same-nanosecond drops are
    disambiguated, and a producer whose write FINISHED up to ``lag``
    before its atomic rename landed is still delivered (Spark's own
    file source gives the same tolerance via maxFileAge). Each
    micro-batch's partitions are the newly delivered files — one
    executor task per file, the right parallelism unit for continuous
    ingest (intra-file splitting belongs to the batch backfill path).

    Contract: files are immutable once visible and arrive by atomic
    rename; a file planted with an mtime more than ``lag`` below the
    committed watermark is invisible. The watermark is monotonic even
    if the directory is emptied by retention (no regression to 0, so
    restored old files cannot re-deliver). Per-file format dispatch
    happens at read() time, so mixed-format drop directories and
    empty-at-start directories (with an explicit .schema()) both work.
    """

    def __init__(self, options: dict):
        self._options = dict(options)
        self._path = self._options["path"]
        self._lag_ns = int(
            float(self._options.get("late_file_lag_sec", _STREAM_LATE_LAG_NS / 1e9)) * 1e9
        )
        self._max_wm = 0  # monotonic guard for emptied directories

    def _listing(self) -> list[tuple[int, str]]:
        try:
            files = expand_paths(self._path)
        except ValueError:
            return []  # empty drop dir: no batch yet
        return [(os.stat(p).st_mtime_ns, p) for p in files]

    def _delivered(self, offset: dict, mtime: int, path: str) -> bool:
        import json

        wm = int(offset.get("wm", 0))
        if wm == 0:
            return False
        return mtime <= wm - self._lag_ns or path in set(json.loads(offset.get("at_wm", "[]")))

    def initialOffset(self) -> dict:
        return {"wm": 0, "at_wm": "[]"}  # delivers every pre-existing file

    def latestOffset(self) -> dict:
        import json

        stats = self._listing()
        wm = max([m for m, _ in stats], default=0)
        self._max_wm = wm = max(wm, self._max_wm)
        return {
            "wm": wm,
            "at_wm": json.dumps(sorted(p for m, p in stats if m > wm - self._lag_ns)),
        }

    def partitions(self, start: dict, end: dict):
        return [
            _StreamFilePartition(p)
            for m, p in sorted(self._listing())
            if self._delivered(end, m, p) and not self._delivered(start, m, p)
        ]

    def read(self, partition: _StreamFilePartition):
        # per-file dispatch: options are re-resolved against THIS file's
        # extension, so the source never needs a listing at plan time
        sub = dict(self._options)
        sub["path"] = partition.path
        ds = ReadstatDataSource(sub)
        inner = ds.reader(None)
        for part in inner.partitions():
            yield from inner.read(part)

    def commit(self, end: dict) -> None:
        pass  # offsets are recomputable from the directory listing


class _ReadstatReader(DataSourceReader):
    def __init__(self, options, fmt: str, columns, opts, spark_schema=None):
        self.path = options["path"]
        self.fmt = fmt
        self.columns = columns
        self.opts = opts
        # union-by-name multi-file mode: batches align (null-fill +
        # reorder + cast) to the planner's union schema in read()
        self.union_by_name = _true(options.get("union_by_name"), default=False)
        self.spark_schema = spark_schema if self.union_by_name else None
        self._target_arrow = None  # lazily derived executor-side
        self.batch_size = int(options.get("batch_size", 65536))
        self.offset = int(options.get("offset", 0))
        self.limit = int(options.get("limit", -1))
        self.n_partitions = int(options.get("partitions", 0))
        # pre-computed compressed-SPSS split plans (api.plan_rle_partitions
        # runs the O(corpus-bytes) recovery-point scans as a Spark job and
        # hands the bounded result back here as JSON), keyed by file path
        import json as _json

        self.rle_plan: dict[str, list] = _json.loads(options.get("rle_plan", "{}"))
        self.pushed: list = []
        # Batch-side filter application is OPT-IN (r9): Spark caches the
        # planned scan per relation and REUSES it for later queries on
        # the same DataFrame/SQL view — a scan planned with query A's
        # filters then serves filterless query B, silently dropping rows
        # (reproduced on plain `df.filter(...).count(); df.count()` and
        # on `CREATE TEMPORARY VIEW ... USING readstat`). Nothing inside
        # the reader can see which query is executing, so the only sound
        # default is to decline the filters (Catalyst re-applies every
        # one JVM-side — correctness never depended on acceptance).
        # option("filter_pushdown","true") restores the Arrow-transfer
        # shrink for single-action reads (gates, benches, ETL jobs that
        # read once per relation).
        self.accept_filters = _true(options.get("filter_pushdown"), default=False)

    def pushFilters(self, filters):
        """Predicate pushdown (absent in the reference — P4). Simple
        comparisons are applied batch-side in the Python worker before
        Arrow crosses to the JVM, shrinking the transfer; every filter is
        also returned so Catalyst re-applies them (belt and braces) —
        which is also what makes declining them (the default, see
        __init__) always correct."""
        if not self.accept_filters:
            yield from filters
            return
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
            StringContains,
            StringEndsWith,
            StringStartsWith,
        )

        simple = (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
            IsNull,
            IsNotNull,
            In,
            StringStartsWith,
            StringEndsWith,
            StringContains,
        )
        for f in filters:
            if isinstance(f, simple) and len(f.attribute) == 1:
                self.pushed.append(f)
            yield f  # Spark re-applies everything

    def _apply_filters(self, batch):
        if not self.pushed:
            return batch
        import pyarrow.compute as pc
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
            StringContains,
            StringEndsWith,
            StringStartsWith,
        )

        mask = None
        names = set(batch.schema.names)
        for f in self.pushed:
            col = f.attribute[0]
            if col not in names:
                continue
            arr = batch.column(col)
            try:
                if isinstance(f, IsNull):
                    m = pc.is_null(arr)
                elif isinstance(f, IsNotNull):
                    m = pc.is_valid(arr)
                elif isinstance(f, EqualTo):
                    m = pc.equal(arr, f.value)
                elif isinstance(f, GreaterThan):
                    m = pc.greater(arr, f.value)
                elif isinstance(f, GreaterThanOrEqual):
                    m = pc.greater_equal(arr, f.value)
                elif isinstance(f, LessThan):
                    m = pc.less(arr, f.value)
                elif isinstance(f, LessThanOrEqual):
                    m = pc.less_equal(arr, f.value)
                elif isinstance(f, In):
                    import pyarrow as pa

                    vals = [v for v in f.value if v is not None]
                    m = pc.is_in(arr, value_set=pa.array(vals, type=arr.type))
                elif isinstance(f, StringStartsWith):
                    m = pc.starts_with(arr, f.value)
                elif isinstance(f, StringEndsWith):
                    m = pc.ends_with(arr, f.value)
                else:  # StringContains
                    m = pc.match_substring(arr, f.value)
            except (pa_lib.ArrowInvalid, pa_lib.ArrowNotImplementedError, pa_lib.ArrowTypeError):
                continue  # incomparable literal — leave it to Catalyst
            m = pc.fill_null(m, False)
            mask = m if mask is None else pc.and_(mask, m)
        return batch.filter(mask) if mask is not None else batch

    def partitions(self):
        paths = expand_paths(self.path)
        if len(paths) == 1:
            return self._file_partitions(paths[0])
        # multi-file scan: per-file partition plans concatenate; row
        # slicing across a concatenated corpus is ambiguous, so offset/
        # limit stay single-file-only (Catalyst's own limit still applies
        # post-scan)
        if self.offset != 0 or self.limit >= 0:
            raise ValueError("offset/limit options require a single input file")
        first_schema = None
        out = []
        for p in paths:
            if self.union_by_name:
                pass  # per-file schemas may differ; read() aligns batches
            elif first_schema is None:
                first_schema = self._arrow_schema_of(p)
            else:
                s = self._arrow_schema_of(p)
                if s != first_schema:
                    raise ValueError(
                        f"schema mismatch in multi-file scan: {p!r} has {s} "
                        f"!= {paths[0]!r} {first_schema}. Pass "
                        "option('union_by_name','true') to read evolving "
                        "schemas as their by-name union (missing -> null)."
                    )
            # intra-file RLE split planning decompresses the file on the
            # driver — fine for one file, O(corpus) driver work for a
            # directory. Multi-file scans parallelize on the file axis
            # instead: one partition per compressed file.
            out.extend(self._file_partitions(p, allow_expensive_split=len(paths) == 1))
        return out

    def _arrow_schema_of(self, path: str):
        if self.fmt == "stata":
            return stata_parser.arrow_schema(stata_parser.read_metadata(path), self.opts, self.columns)
        if self.fmt == "spss":
            from .formats.spss import parser as spss_parser

            return spss_parser.arrow_schema(spss_parser.read_metadata(path), self.opts, self.columns)
        if self.fmt == "xport":
            from .formats.sas import xport

            return xport.arrow_schema(xport.read_metadata(path), self.opts, self.columns)
        if self.fmt == "por":
            from .formats.spss import portable

            return portable.arrow_schema(portable.read_metadata(path), self.opts, self.columns)
        from .formats.sas import parser as sas_parser

        return sas_parser.arrow_schema(
            sas_parser.read_metadata(path),
            self.columns,
            row_index=self.opts.row_index,
            informative_nulls=self.opts.informative_nulls,
            informative_null_columns=self.opts.informative_null_columns,
            informative_null_suffix=self.opts.informative_null_suffix,
            catalog_formats=self.opts.catalog_formats,
        )

    def _file_partitions(self, path: str, allow_expensive_split: bool = True):
        if self.fmt == "stata":
            meta = stata_parser.read_metadata(path)
            nobs, rec = meta.nobs, max(1, meta.record_len)
        elif self.fmt == "spss":
            from .formats.spss import parser as spss_parser

            meta = spss_parser.read_metadata(path)
            if not spss_parser.splittable(meta):
                if path in self.rle_plan and self.offset == 0 and self.limit < 0:
                    # executor-computed plan (api.plan_rle_partitions):
                    # no driver-side stream scan at all. Precomputed plans
                    # cover the WHOLE file, so an offset/limit request must
                    # fall through to the slicing planner below instead of
                    # silently returning every row.
                    return [
                        _RlePartition(path, s, c, anchor, skip, ub)
                        for s, c, anchor, skip, ub in self.rle_plan[path]
                    ]
                if not allow_expensive_split:
                    start, count = self._slice(meta.row_count)
                    return [_RowRange(path, start, count)]
                # compressed (.sav RLE / .zsav): one planning pass records
                # RLE command-group recovery points, then executors decode
                # disjoint block/byte ranges independently — beyond the
                # reference, which is sequential-only here
                # (src/spss/data.rs:1687-1761). This in-planner scan is
                # O(file bytes); api.readstat_scan auto-routes single
                # compressed files through the api.plan_rle_partitions
                # executor job instead, so this branch only runs for raw
                # spark.read.format("readstat") use without a plan option.
                start, count = self._slice(meta.row_count)
                plan = spss_parser.rle_partition_plan(
                    path, meta, start, count, self.n_partitions, TARGET_PARTITION_BYTES
                )
                if plan:
                    return [
                        _RlePartition(path, s, c, anchor, skip, ub)
                        for s, c, anchor, skip, ub in plan
                    ]
                return [_RowRange(path, start, count)]
            nobs, rec = meta.row_count, max(1, meta.record_len)
        elif self.fmt == "sas":
            from .formats.sas import parser as sas_parser

            meta = sas_parser.read_metadata(path)
            if meta.compression:
                # RLE/RDC rows are independent subheaders -> page-parallel
                # (improvement over the reference's sequential-only path),
                # unless a row slice / row index needs global ordering.
                plain = self.offset == 0 and self.limit < 0 and not getattr(self.opts, "row_index", False)
                if plain and meta.page_count > 1:
                    n = self.n_partitions or max(
                        1, min(16, (meta.page_count * meta.page_length) // TARGET_PARTITION_BYTES + 1)
                    )
                    n = min(n, meta.page_count)
                    per = (meta.page_count + n - 1) // n
                    return [
                        _PageRange(path, lo, min(lo + per, meta.page_count))
                        for lo in range(0, meta.page_count, per)
                    ]
                start, count = self._slice(meta.row_count)
                return [_RowRange(path, start, count)]
            nobs, rec = meta.row_count, max(1, meta.row_length)
        elif self.fmt == "xport":
            from .formats.sas import xport

            meta = xport.read_metadata(path)
            # fixed-width records: O(1)-seek analytical byte-range splits
            nobs, rec = meta.row_count, max(1, meta.row_length)
        elif self.fmt == "por":
            # .por is a single self-delimiting character stream with no
            # case count in the header and no random access — one
            # partition per file, the same stance the reference takes
            # for compressed .sav (src/spss/polars_output.rs:403-405).
            # Multi-file scans still parallelize on the file axis, and
            # .por is a legacy interchange format (small by construction).
            return [_RowRange(path, self.offset, self.limit)]
        else:
            raise ValueError(self.fmt)

        start, count = self._slice(nobs)
        if self.n_partitions > 0:
            n = self.n_partitions
        else:
            n = max(1, min(count, (count * rec) // TARGET_PARTITION_BYTES + 1))
        per = (count + n - 1) // max(1, n)
        out = []
        pos = start
        while pos < start + count:
            take = min(per, start + count - pos)
            out.append(_RowRange(path, pos, take))
            pos += take
        return out or [_RowRange(path, start, 0)]

    def _slice(self, nobs: int) -> tuple[int, int]:
        start = min(self.offset, nobs)
        count = nobs - start
        if self.limit >= 0:
            count = min(count, self.limit)
        return start, count

    def _target_schema(self):
        if self._target_arrow is None:
            from pyspark.sql.pandas.types import to_arrow_schema

            self._target_arrow = to_arrow_schema(self.spark_schema)
        return self._target_arrow

    def _file_cols(self, path: str) -> list[str] | None:
        """union_by_name projection for ONE file: the target fields that
        actually exist in it (file order). A file contributing no
        projected column still contributes its ROWS — keep one real
        column so the parser preserves the row count; _align drops it."""
        have = [f.name for f in self._arrow_schema_of(path)]
        want = set(f.name for f in self._target_schema())
        cols = [n for n in have if n in want]
        return cols or have[:1]

    def _align(self, batch):
        """Null-fill, reorder, and cast one record batch to the union
        schema (union_by_name mode only)."""
        target = self._target_schema()
        present = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
        n = batch.num_rows
        arrays = []
        for f in target:
            a = present.get(f.name)
            if a is None:
                arrays.append(pa_lib.nulls(n, f.type))
            elif a.type != f.type:
                arrays.append(a.cast(f.type))
            else:
                arrays.append(a)
        return pa_lib.RecordBatch.from_arrays(arrays, schema=target)

    def read(self, partition: _RowRange):
        if self.union_by_name:
            # per-task copy of the reader: narrowing the projection to
            # THIS file's fields is task-local state
            self.columns = self._file_cols(partition.path)
            for b in self._read_raw(partition):
                yield self._align(b)
            return
        yield from self._read_raw(partition)

    def _read_raw(self, partition: _RowRange):
        if isinstance(partition, _PageRange):
            from .formats.sas import parser as sas_parser

            for batch in sas_parser.read_page_range(
                partition.path, partition.lo, partition.hi, self.columns, self.batch_size, self.opts
            ):
                yield self._apply_filters(batch)
            return
        if isinstance(partition, _RlePartition):
            from .formats.spss import parser as spss_parser

            for batch in spss_parser.read_rle_partition(
                partition.path, partition.start, partition.count, self.columns,
                self.opts, self.batch_size, partition.anchor, partition.skip,
                partition.unit_base,
            ):
                yield self._apply_filters(batch)
            return
        if self.fmt == "stata":
            batches = self._read_stata(partition)
        elif self.fmt == "por":
            from .formats.spss import portable

            t = portable.read_table(
                partition.path, self.opts, self.columns,
                offset=partition.start, limit=partition.count,
            )
            batches = t.to_batches(self.batch_size)
        elif self.fmt == "xport":
            from .formats.sas import xport

            batches = xport.read_partition(
                partition.path, partition.start, partition.count, self.columns,
                self.batch_size, self.opts,
            )
        elif self.fmt == "spss":
            from .formats.spss import parser as spss_parser

            batches = spss_parser.read_partition(
                partition.path, partition.start, partition.count, self.columns,
                self.opts, self.batch_size,
            )
        else:
            from .formats.sas import parser as sas_parser

            batches = sas_parser.read_partition(
                partition.path, partition.start, partition.count, self.columns,
                self.batch_size, self.opts,
            )
        for batch in batches:
            yield self._apply_filters(batch)

    def _read_stata(self, p: _RowRange):
        import pyarrow as pa

        meta = stata_parser.read_metadata(p.path)
        sel = self.columns
        need_strl = any(
            v.kind == "strl" for v in meta.variables if sel is None or v.name in set(sel)
        )
        strl_map = stata_parser.load_strls(p.path, meta) if need_strl else None
        schema = stata_parser.arrow_schema(meta, self.opts, sel)
        rec = meta.record_len
        with open(p.path, "rb") as f:
            f.seek(meta.data_offset + p.start * rec)
            done = 0
            while done < p.count:
                take = min(self.batch_size, p.count - done)
                raw = f.read(take * rec)
                if not raw:
                    break
                cols = stata_parser.decode_records(
                    raw, meta, sel, strl_map, self.opts, row_offset=p.start + done
                )
                yield pa.record_batch([cols[n] for n in schema.names], schema=schema)
                done += take


class _Codec(NamedTuple):
    """One format's half of a write sink: the part-file extension, the
    task-side ``spill(batches, blob) -> sections`` and the commit-side
    ``assemble(target, parts=[(blob, sections), ...])``, both bound to
    the write's options."""

    ext: str
    spill: Callable
    assemble: Callable


def _codec(fmt: str, options, schema) -> _Codec:
    """Parse the write options once for every sink (batch, multifile and
    stream). Options are strings, so maps and lists come as JSON."""
    import json
    from functools import partial

    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    def js(key: str) -> dict:
        return json.loads(options.get(key, "{}"))

    def value_labels(key_type) -> dict:
        # option("value_labels", '{"col": {"1": "label"}}')
        return {c: {key_type(k): v for k, v in m.items()} for c, m in js("value_labels").items()}

    path = options["path"]
    arrow = to_arrow_schema(schema)
    # option("string_widths", '{"col": bytes}'): tasks encode declared
    # columns at their final width, so commit byte-copies sections
    widths = {k: int(v) for k, v in js("string_widths").items()}
    variable_labels = js("variable_labels")
    dsname = options.get("dsname", "DATA")
    data_label = options.get("data_label", "")
    comp = str(options.get("compress", "")).lower()
    column_order = [(f.name, isinstance(f.dataType, T.StringType)) for f in schema.fields]
    if fmt == "stata":
        from .formats.stata import writer as w

        return _Codec("dta", partial(w.spill_partition, declared=widths), partial(
            w.assemble_dta, schema=arrow, value_labels=value_labels(int),
            variable_labels=variable_labels, declared=widths, data_label=data_label,
            # option("dta_version", "117"|"119"): pre-Stata-14 / >32k-variable output
            version=int(options.get("dta_version", "118")),
        ))
    if fmt == "spss":
        from .formats.spss import writer as w

        # a .zsav target implies the zlib container; otherwise the
        # compress option picks False / bytecode / "zsav" explicitly
        compress = "zsav" if path.lower().endswith(".zsav") or comp == "zsav" else _true(comp, False)
        return _Codec(
            "zsav" if compress == "zsav" else "sav",
            partial(w.spill_sav_partition, declared=widths, compress=compress),
            partial(
                w.assemble_sav, schema=arrow, value_labels=value_labels(float),
                variable_labels=variable_labels, data_label=data_label,
                user_missing={c: [float(x) for x in xs] for c, xs in js("user_missing").items()},
                compress=compress, declared=widths,
            ),
        )
    if fmt == "xport":
        from .formats.sas import xport as w

        return _Codec("xpt", partial(w.spill_partition, declared=widths), partial(
            w.assemble_xpt, dsname=dsname, dslabel=data_label, column_order=column_order,
            string_widths=widths,
            # option("xport_version", "8"): TS140-2 V8 headers with
            # 32-char long names in LABELV8 (default v5)
            version=int(options.get("xport_version", "5")),
        ))
    if fmt == "sas":
        from .formats.sas import bdat_writer as w

        # option("column_formats", '{"col": "FMTNAME"}'): SAS display
        # formats per column (catalog value-label keys)
        spill = partial(w.spill_partition, declared=widths, column_formats=js("column_formats"))
        return _Codec("sas7bdat", spill, partial(
            w.assemble_sas7bdat, dsname=dsname, column_order=column_order,
            string_widths=widths, variable_labels=variable_labels,
            # option("compress", "rle"|"rdc"|"true"): SASYZCRL / SASYZCR2
            # row compression ("true" is RLE)
            compress=comp.upper() if comp in ("rle", "rdc") else _true(comp, False),
        ))
    if fmt == "por":
        from .formats.spss import portable as w

        return _Codec("por", w.spill_partition, partial(
            w.assemble_partitions, schema=arrow, variable_labels=variable_labels,
            value_labels=js("value_labels"),
        ))
    raise ValueError(
        f"readstat writes .dta, .sav, .xpt, .por or .sas7bdat, not {fmt!r} "
        '(option("format", "stata"|"spss"|"xport"|"por"|"sas"))'
    )


class _SpoolCommit(WriterCommitMessage):
    """A task's output: its spilled blob and section metadata, or (for
    a multifile write) the name of the part file it assembled, which
    sits under its temp name until commit."""

    def __init__(self, path: str = "", sections: list | None = None):
        self.path = path
        self.sections = sections or []


def _temp_name(target: str) -> str:
    """The dot-temp name a file is assembled under before its rename;
    directory reads skip it (its extension is not a stat format)."""
    d, base = os.path.split(target)
    return os.path.join(d, f".{base}.tmp_")


class _SpoolSink(DataSourceArrowWriter):
    """The write sink of every format: tasks spill, publishers assemble.

    Each task spills its Arrow batches through the format's _Codec to a
    blob in a staging dir *beside the output path*, i.e. on the same
    (shared) filesystem the output goes to, so multi-node clusters work
    (option("staging_dir") overrides it). Every publish assembles under
    a dot-temp name beside its target and then renames it into place,
    so readers never list a half-written file and a failed commit
    leaves the previous output intact:

    - single file (default): commit() streams every task's sections
      into ``path``, one section (~batch_size rows) of driver memory
      regardless of dataset size.
    - multifile (option("multifile","true")), the 100 TB write shape:
      each task assembles its own standalone part-{partitionId}-{uuid}
      file in the output DIRECTORY, holding one section at a time, and
      commit() only renames exactly the committed set; task retries
      leave unreferenced temps, which abort() removes. The read side
      plans one partition per file, so write->read round-trips at any
      file count.
    """

    def __init__(self, path: str, schema, fmt: str, options, overwrite: bool,
                 multifile: bool = False):
        self.path = path
        self.codec = _codec(fmt, options, schema)
        self.overwrite = overwrite
        self.multifile = multifile
        parent = options.get("staging_dir") or os.path.dirname(os.path.abspath(path)) or "."
        self.stage_dir = os.path.join(
            parent, f".{os.path.basename(path)}._stage_{self._stage_key()}"
        )
        if multifile:
            os.makedirs(path, exist_ok=True)

    def _stage_key(self) -> str:
        import uuid

        return uuid.uuid4().hex

    def write(self, batches):
        import uuid

        os.makedirs(self.stage_dir, exist_ok=True)
        blob = os.path.join(self.stage_dir, f"part-{uuid.uuid4().hex}.bin")
        sections = self.codec.spill(batches, blob)
        if not sections:
            os.unlink(blob)
            return _SpoolCommit()
        if not self.multifile:
            return _SpoolCommit(blob, sections)
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        part = os.path.join(self.path, f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.{self.codec.ext}")
        try:
            self._assemble(part, [(blob, sections)])
        finally:
            os.unlink(blob)
        return _SpoolCommit(part)

    def _assemble(self, target: str, parts: list) -> str:
        """Assemble ``parts`` under ``target``'s temp name and return it;
        a failure leaves no temp file behind."""
        tmp = _temp_name(target)
        try:
            self.codec.assemble(tmp, parts=parts)
        except BaseException:
            with contextlib.suppress(OSError):
                os.unlink(tmp)
            raise
        return tmp

    def _publish(self, target: str, messages) -> None:
        parts = [(m.path, m.sections) for m in messages if m and m.path]
        os.replace(self._assemble(target, parts), target)

    def commit(self, messages):
        try:
            if self.multifile:
                self._rename_parts(messages)
            else:
                self._publish(self.path, messages)
        finally:
            shutil.rmtree(self.stage_dir, ignore_errors=True)

    def _rename_parts(self, messages) -> None:
        if self.overwrite:
            # clear previous contents at COMMIT time (not planning), so a
            # failed job leaves the old directory intact; temps have a
            # dot prefix and never match the part glob
            for old in glob.glob(os.path.join(self.path, f"part-*.{self.codec.ext}")):
                with contextlib.suppress(OSError):
                    os.unlink(old)
        parts = [m.path for m in messages if m and m.path]
        for part in parts:
            os.replace(_temp_name(part), part)
        if not parts:
            # empty result: one zero-row file so directory reads still
            # see the schema (same stance as the single-file sink)
            self._publish(os.path.join(self.path, f"part-00000-empty.{self.codec.ext}"), [])

    def abort(self, messages):
        for m in messages or []:
            if self.multifile and m and m.path:
                with contextlib.suppress(OSError):
                    os.unlink(_temp_name(m.path))
        shutil.rmtree(self.stage_dir, ignore_errors=True)


class _SpoolStreamSink(_SpoolSink, DataSourceStreamArrowWriter):
    """writeStream.format("readstat").start(dir): each micro-batch
    publishes one immutable ``part-{batchId:05d}.{ext}`` inside the
    output DIRECTORY — the drop-directory layout the streaming SOURCE
    and the multi-file batch reader both consume, closing the
    continuous-ingest loop (stat-file stream in -> stat-file stream
    out). Tasks spill exactly as for the batch sink; batchId-named
    outputs make replayed micro-batches idempotent (exactly-once sink
    semantics)."""

    def _stage_key(self) -> str:
        # Spark builds a fresh writer for every micro-batch commit, so the
        # stage dir is named by the sink path, not per writer. One query
        # at a time writes a sink dir (part names are batch ids), and its
        # batches run one after another.
        import hashlib

        return hashlib.sha1(os.path.abspath(self.path).encode()).hexdigest()

    def commit(self, messages, batchId: int) -> None:  # type: ignore[override]
        os.makedirs(self.path, exist_ok=True)
        try:
            self._publish(os.path.join(self.path, f"part-{batchId:05d}.{self.codec.ext}"), messages)
        finally:
            self._drop_spills(messages)

    def abort(self, messages, batchId: int) -> None:  # type: ignore[override]
        self._drop_spills(messages)

    def _drop_spills(self, messages) -> None:
        """Unlink this batch's blobs, then the (then empty) stage dir."""
        for m in messages:
            if m and m.path:
                with contextlib.suppress(OSError):
                    os.unlink(m.path)
        with contextlib.suppress(OSError):
            os.rmdir(self.stage_dir)


def register(spark) -> None:
    """Register format("readstat") on this SparkSession."""
    spark.dataSource.register(ReadstatDataSource)
