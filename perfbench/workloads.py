"""The benchmark's workloads.

Each workload stages its inputs before Spark starts (``stage``), does any
untimed preparation once the session is up (``prepare``), and then makes
one pass over a fixed, seeded set of operations (``run``). The pass
returns one record per operation, which ``run.py`` turns into metrics.
Every operation's output is checked; a failed or wrong operation is
counted, never fatal.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import data
from perfbench.telemetry import job_group_stats, plan_metric

_clock = time.perf_counter
REL_TOL = 1e-9


class Op(dict):
    """One timed operation: kind, name, wall_s, user bytes, build_s and
    exec_s (DataFrame construction vs action), ok, and an error text."""


def _fail(op: Op, msg: str) -> Op:
    op["ok"] = False
    op.setdefault("error", msg[:300])
    return op


def _agg(df, ints=(), nums=(), strs=()):
    """count, exact integer sums, float sums and string distinct counts.
    Columns are looked up case-insensitively, because XPORT v5 upper-cases
    names."""
    from pyspark.sql import functions as F

    name = {c.lower(): c for c in df.columns}
    exprs = [F.count(F.lit(1)).alias("n")]
    exprs += [F.sum(F.col(name[c])).alias(c) for c in (*ints, *nums)]
    exprs += [F.countDistinct(F.col(name[c])).alias(c) for c in strs]
    return df.agg(*exprs)


def _check(row, exp: data.Expected, ints=(), nums=(), strs=()) -> list[str]:
    errs = []
    if row["n"] != exp.count:
        errs.append(f"count {row['n']} != {exp.count}")
    for c in ints:
        if row[c] is None or float(row[c]) != float(exp.int_sum[c]):
            errs.append(f"sum({c}) {row[c]} != {exp.int_sum[c]}")
    for c in nums:
        total, magnitude = exp.num_sum[c]
        if row[c] is None or abs(row[c] - total) > REL_TOL * max(abs(total), magnitude):
            errs.append(f"sum({c}) {row[c]!r} != {total!r}")
    for c in strs:
        if row[c] != exp.distinct[c]:
            errs.append(f"distinct({c}) {row[c]} != {exp.distinct[c]}")
    return errs


class Workload:
    name = ""
    build_layer = "api"  # the layer whose call returns the DataFrame

    def __init__(self, ctx):
        self.ctx = ctx
        self.staged: list[str] = []  # files recorded in the manifest
        self.user_bytes = 0  # Arrow bytes of the data behind the staged files
        self.disk_bytes = 0  # bytes of the files holding that data
        self.planning_inputs: list[str] = []  # paths for datasource probes
        self.writes: list[dict] = []  # distributed writes, for writer.*

    def stage(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def run(self) -> list[Op]:
        raise NotImplementedError

    def report(self, ops: list[Op]) -> dict:
        """The workload's own figures for the report line."""
        raise NotImplementedError

    # -- shared pieces

    def _timed(self, op: Op, rid: str, build, action):
        """Run build() then action(df) under spans; in a traced run also
        read the job group's status-store numbers afterwards."""
        ctx = self.ctx
        tr = ctx.tracer
        if tr.enabled:
            ctx.spark.sparkContext.setJobGroup(rid, rid)
        t0 = _clock()
        with tr.span(self.build_layer, op["kind"], rid):
            df = build()
        t1 = _clock()
        with tr.span("spark", "action", rid):
            out = action(df)
        t2 = _clock()
        op.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0)
        if tr.enabled:
            with tr.bookkeeping():
                op["spark"] = job_group_stats(ctx.spark, rid)
                try:
                    op["scan_python_bytes"] = plan_metric(df, "BatchScan", "pythonDataReceived")
                except AttributeError:  # a writer: no DataFrame, no plan
                    op["scan_python_bytes"] = 0
        return df, out

    def _scan_op(self, kind: str, rid: str, path: str, nbytes: int, exp, spec, columns=None):
        """readstat_scan (or readstat_select) -> agg."""
        from polars_readstat_rs_spark import api

        ctx = self.ctx
        op = Op(kind=kind, name=rid, bytes=nbytes, ok=True)
        t0 = _clock()

        def build():
            if columns:
                df = api.readstat_select(ctx.spark, path, columns)
            else:
                df = api.readstat_scan(ctx.spark, path)
            ctx.note_scan((path, tuple(columns or ())), df)
            return _agg(df, *spec)

        try:
            _, rows = self._timed(op, rid, build, lambda df: df.collect())
            errs = _check(rows[0], exp, *spec)
            if errs:
                _fail(op, f"{rid}: " + "; ".join(errs))
        except Exception as e:  # noqa: BLE001 - one failed op must not end the run
            _fail(op, f"{rid}: {type(e).__name__}: {e}")
            op.setdefault("wall_s", _clock() - t0)
        return op


def quantile(xs: list[float], decile: int) -> float:
    """The given decile, interpolated (statistics.quantiles, inclusive)."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[decile - 1]


def local_aggregates(path: str, ints=(), nums=(), strs=()) -> dict:
    """The _agg aggregates of a file decoded in-process by the datasource
    reader and computed with pyarrow: a check path independent of Spark."""
    import pyarrow.compute as pc

    from perfbench.probes import read_local

    t = read_local(path)
    name = {c.lower(): c for c in t.column_names}
    out = {"n": t.num_rows}
    for c in (*ints, *nums):
        out[c] = pc.sum(t.column(name[c])).as_py()
    for c in strs:
        out[c] = pc.count_distinct(t.column(name[c])).as_py()
    return out


def _colmap(path: str) -> dict[str, str]:
    from polars_readstat_rs_spark.datasource import ReadstatDataSource

    return {n.lower(): n for n in ReadstatDataSource({"path": path}).schema().fieldNames()}


def _mb_per_s(ops: list[Op]) -> float:
    return sum(o["bytes"] for o in ops) / 1e6 / max(sum(o["wall_s"] for o in ops), 1e-9)


class StatFiles(Workload):
    """Every stat-file path in one pass: large-file scans, small-file
    requests and glob scans, and distributed writes. They share one
    workload because each run pays a fixed ~25 s of staging and Spark
    set-up, so few runs of more work measure more per second spent."""

    name = "stat_files"
    # Large files: one table written once per format; each file gets a full
    # scan -> agg and a 2-column readstat_select -> agg. The uncompressed sav
    # and sas7bdat read paths are covered by the small files.
    LARGE_ROWS = 10_000
    LARGE_FORMATS = ("dta", "zsav", "sas7bdat_rle", "xpt")
    FULL = (tuple(f"int{i}" for i in range(data.N_INT)), tuple(f"num{i}" for i in range(data.N_NUM)), ("str0",))
    SELECT_COLS = ("num1", "str1")
    SELECT = ((), ("num1",), ("str1",))
    # Small files: Zipf-distributed single-file requests, then one glob
    # (directory) scan per format over DIR_FILES of its files.
    SMALL_FILES = 256
    SMALL_ROWS = 200
    REQUESTS = 14
    DIR_FILES = 4
    SMALL_FORMATS = ("dta", "sav", "sas7bdat", "xpt")
    SMALL_SPEC = (("int0",), ("num0",), ("str0",))
    # Writes: one format per writer class; sav and plain sas7bdat share
    # theirs with zsav and RLE sas7bdat.
    WRITE_ROWS = 4_000
    WRITE_FORMATS = ("dta", "zsav", "sas7bdat_rle", "xpt", "por")

    def stage(self):
        ctx = self.ctx
        table, self.large = data.stage_large(ctx.seed, self.LARGE_ROWS, ctx.data_dir, self.LARGE_FORMATS)
        self.exp_full = data.Expected(table)
        self.small = data.stage_small(ctx.seed, self.SMALL_FILES, self.SMALL_ROWS, ctx.data_dir,
                                      self.SMALL_FORMATS, self.DIR_FILES)
        self.draws = data.zipf_draws(ctx.seed, self.SMALL_FILES, self.REQUESTS)
        self.dirs = {}  # fmt -> [directory, bytes, [Expected]]
        for fmt, path, exp in self.small:
            if os.path.basename(os.path.dirname(path)) == "dir":
                d = self.dirs.setdefault(fmt, [os.path.dirname(path), 0, []])
                d[1] += os.path.getsize(path)
                d[2].append(exp)
        for d in self.dirs.values():
            d[2] = data.Expected.merge(d[2])
        self.write_table = data.stat_table(ctx.seed + 1, self.WRITE_ROWS)
        self.exp_write = data.Expected(self.write_table)

        small_paths = [p for _, p, _ in self.small]
        self.staged = [*self.large.values(), *small_paths]
        self.user_bytes = table.nbytes * len(self.large) + sum(e.arrow_bytes for _, _, e in self.small)
        self.disk_bytes = sum(os.path.getsize(p) for p in self.staged)
        self.planning_inputs = [*self.large.values(), *small_paths[:: self.SMALL_FILES // 16],
                                *(d[0] for d in self.dirs.values())]

    def prepare(self):
        # XPORT v5 upper-cases names: select through the read schema
        self.cols = {f: _colmap(p) for f, p in self.large.items()}
        self.write_df = self.ctx.spark.createDataFrame(self.write_table)
        self.write_df.count()

    def run(self):
        ops = []
        for fmt, path in self.large.items():
            size = os.path.getsize(path)
            ops.append(self._scan_op("full", f"full-{fmt}", path, size, self.exp_full, self.FULL))
            cols = self.cols[fmt]
            ops.append(self._scan_op("select", f"select-{fmt}", path, size, self.exp_full,
                                     self.SELECT, columns=[cols[c] for c in self.SELECT_COLS]))
        for j, i in enumerate(self.draws):
            _, path, exp = self.small[i]
            ops.append(self._scan_op("request", f"req-{j}", path, os.path.getsize(path), exp, self.SMALL_SPEC))
        for fmt, (path, size, exp) in self.dirs.items():
            ops.append(self._scan_op("dir_scan", f"dir-{fmt}", path, size, exp, self.SMALL_SPEC))
        for fmt in self.WRITE_FORMATS:
            ops.append(self._write_op(fmt))
        return ops

    def _write_op(self, fmt: str) -> Op:
        """df.write.format("readstat") of the write table; the output is
        decoded back in-process and checked outside the timed op."""
        ctx = self.ctx
        path = os.path.join(ctx.data_dir, "out", f"data_{fmt}.{data.EXT[fmt]}")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rid = f"write-{fmt}"
        op = Op(kind="write", name=rid, bytes=self.write_table.nbytes, ok=True)
        t0 = _clock()

        def build():
            w = self.write_df.write.format("readstat").mode("overwrite")
            for k, v in data.WRITE_OPTIONS.get(fmt, {}).items():
                w = w.option(k, v)
            return w

        try:
            self._timed(op, rid, build, lambda w: w.save(path))
            op["out_bytes"] = os.path.getsize(path)
            self.staged.append(path)
            self.user_bytes += self.write_table.nbytes
            self.disk_bytes += op["out_bytes"]
            if ctx.tracer.enabled:
                self.writes.append({"save_s": op["exec_s"], "spark": op["spark"], "bytes": op["out_bytes"]})
            with ctx.tracer.span("datasource", "readback", rid):
                errs = _check(local_aggregates(path, *self.FULL), self.exp_write, *self.FULL)
            if errs:
                _fail(op, f"{rid} readback: " + "; ".join(errs))
        except Exception as e:  # noqa: BLE001 - one failed op must not end the run
            _fail(op, f"{rid}: {type(e).__name__}: {e}")
            op.setdefault("wall_s", _clock() - t0)
        return op

    def report(self, ops):
        def kind(k):
            return [o for o in ops if o["kind"] == k]

        req = [o["wall_s"] for o in kind("request")]
        writes = [o for o in kind("write") if o["ok"]]
        arrow = sum(o["bytes"] for o in writes)
        return {
            "scan_full.mb_per_s": (_mb_per_s(kind("full")), "MB/s"),
            "scan_select.mb_per_s": (_mb_per_s(kind("select")), "MB/s"),
            "request_s.p50": (statistics.median(req), "s"),
            "request_s.p90": (quantile(req, 9), "s"),
            "request_s.samples": (len(req), "count"),
            "dir_scan_s": (sum(o["wall_s"] for o in kind("dir_scan")), "s"),
            "write.user_mb_per_s": (_mb_per_s(writes), "MB/s"),
            "write.bytes_per_user_byte": (sum(o["out_bytes"] for o in writes) / max(arrow, 1), "ratio"),
        }


class LlmOps(Workload):
    """The headline queries of bench.py, one pass each, on seeded
    TPC-H-like parquet tables; results are checked against the DuckDB
    oracle SQL of each query."""

    name = "llm_ops"
    build_layer = "queries"

    def stage(self):
        self.table_dir = os.path.join(self.ctx.data_dir, "tables")
        os.makedirs(self.table_dir)
        self.staged = data.stage_query_tables(self.ctx.seed, self.table_dir)
        import pyarrow.parquet as pq

        self.user_bytes = sum(pq.read_table(p).nbytes for p in self.staged)
        self.disk_bytes = sum(os.path.getsize(p) for p in self.staged)

    def prepare(self):
        """The oracle answers, computed once per invocation."""
        import duckdb

        import bench
        from polars_readstat_rs_spark.queries import ORACLES
        from tools.check_oracle import norm_rows

        self.queries = list(bench.HEADLINE)
        self.norm_rows = norm_rows
        con = duckdb.connect()
        try:
            con.execute(f"SET threads={self.ctx.cpus}")
            for p in self.staged:
                t = os.path.basename(p).rsplit(".", 1)[0]
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            self.oracle = {}
            for q in self.queries:
                res = con.sql(ORACLES[q])
                self.oracle[q] = norm_rows(res.columns, res.fetchall())
        finally:
            con.close()

    def run(self):
        from polars_readstat_rs_spark.queries import QUERIES

        ctx = self.ctx
        ops = []
        for q in self.queries:
            rid = q
            op = Op(kind="query", name=q, ok=True)
            ctx.spark.catalog.clearCache()
            t0 = _clock()
            try:
                df, rows = self._timed(op, rid, lambda q=q: QUERIES[q](ctx.spark, self.table_dir),
                                       lambda df: df.collect())
                cols, got = self.norm_rows(df.columns, [tuple(r) for r in rows])
                want_cols, want = self.oracle[q]
                if sorted(cols) != sorted(want_cols) or got != want:
                    _fail(op, f"{rid}: result differs from the DuckDB oracle "
                              f"({len(got)} vs {len(want)} rows)")
            except Exception as e:  # noqa: BLE001
                _fail(op, f"{rid}: {type(e).__name__}: {e}")
                op.setdefault("wall_s", _clock() - t0)
            ops.append(op)
        return ops

    def report(self, ops):
        return {"ops_total_s": (sum(o["wall_s"] for o in ops), "s")}


WORKLOADS = {w.name: w for w in (StatFiles, LlmOps)}
