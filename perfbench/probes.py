"""Per-layer probes for traced runs.

These call the format and datasource layers in-process, with no Spark job:
each format writer encodes one seeded probe table, the datasource reader
decodes the file back, and each format parser reads its metadata on a cold
stat fingerprint. Planning probes time ``schema()`` and ``partitions()`` of
the datasource on a workload's own inputs.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import data

_clock = time.perf_counter
PROBE_ROWS = 4_000
METADATA_REPEATS = 3


def _read_metadata(fmt: str):
    if fmt == "dta":
        from polars_readstat_rs_spark.formats.stata.parser import read_metadata
    elif fmt in ("sav", "zsav"):
        from polars_readstat_rs_spark.formats.spss.parser import read_metadata
    elif fmt in ("sas7bdat", "sas7bdat_rle"):
        from polars_readstat_rs_spark.formats.sas.parser import read_metadata
    elif fmt == "xpt":
        from polars_readstat_rs_spark.formats.sas.xport import read_metadata
    else:
        from polars_readstat_rs_spark.formats.spss.portable import read_metadata
    return read_metadata


def read_local(path: str):
    """Decode a file in this process through the datasource reader."""
    import pyarrow as pa

    from polars_readstat_rs_spark.datasource import ReadstatDataSource

    ds = ReadstatDataSource({"path": path})
    reader = ds.reader(ds.schema())
    return pa.Table.from_batches([b for part in reader.partitions() for b in reader.read(part)])


def format_probes(tracer, seed: int, out_dir: str) -> tuple[dict[str, float], list[str]]:
    """formats.<fmt>.{encode_rows_per_s, decode_rows_per_s, read_metadata_s}
    for every format, and the probe files written."""
    table = data.stat_table(seed ^ 0xF0F0, PROBE_ROWS)
    metrics: dict[str, float] = {}
    paths = []
    for fmt in data.FORMATS:
        path = os.path.join(out_dir, f"probe_{fmt}.{data.EXT[fmt]}")
        paths.append(path)
        with tracer.span(f"formats.{fmt}", "encode", f"probe-{fmt}"):
            t0 = _clock()
            data.write_stat(fmt, table, path)
            metrics[f"formats.{fmt}.encode_rows_per_s"] = PROBE_ROWS / (_clock() - t0)
        read_metadata = _read_metadata(fmt)
        walls = []
        st = os.stat(path)
        for k in range(METADATA_REPEATS):
            # a new mtime is a new stat fingerprint: the metadata caches miss
            os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1000 * (k + 1)))
            with tracer.span(f"formats.{fmt}", "read_metadata", f"probe-{fmt}"):
                t0 = _clock()
                read_metadata(path)
                walls.append(_clock() - t0)
        metrics[f"formats.{fmt}.read_metadata_s"] = statistics.median(walls)
        with tracer.span(f"formats.{fmt}", "decode", f"probe-{fmt}"):
            t0 = _clock()
            rows = read_local(path).num_rows
            wall = _clock() - t0
        if rows != PROBE_ROWS:
            raise RuntimeError(f"probe decode of {fmt} returned {rows} rows, wrote {PROBE_ROWS}")
        metrics[f"formats.{fmt}.decode_rows_per_s"] = rows / wall
    return metrics, paths


def planning_probes(tracer, paths: list[str]) -> dict[str, float]:
    """datasource.schema_s and .partitions_s (medians over ``paths``) and
    datasource.partition_count (mean partitions per path)."""
    from polars_readstat_rs_spark.datasource import ReadstatDataSource

    schema_s, parts_s, counts = [], [], []
    for path in paths:
        with tracer.span("datasource", "plan", f"plan-{os.path.basename(path)}"):
            t0 = _clock()
            ds = ReadstatDataSource({"path": path})
            schema = ds.schema()
            t1 = _clock()
            parts = list(ds.reader(schema).partitions())
            t2 = _clock()
        schema_s.append(t1 - t0)
        parts_s.append(t2 - t1)
        counts.append(len(parts))
    return {
        "datasource.schema_s": statistics.median(schema_s),
        "datasource.partitions_s": statistics.median(parts_s),
        "datasource.partition_count": sum(counts) / len(counts),
    }
