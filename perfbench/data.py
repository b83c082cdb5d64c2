"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the
same Arrow tables, and staging writes them with the repository's own
single-shot writers, outside any timed region. Each staged file's size and
sha256 go into the run output, so a writer change that alters bytes shows
up as a changed input rather than as a read speed-up.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_NUM, N_INT, N_STR = 8, 6, 6
INT_HIGH = 100_000
SHORT_VOCAB = [f"cat{i:02d}" for i in range(20)]
LONG_VOCAB = [f"w{i:04d}x" for i in range(500)]
ZIPF_S = 1.1  # exponent of the small-file request law

# Stat-file formats, by name: (extension, writer). Names are the metric
# names (formats.<name>.*); sas7bdat_rle is sas7bdat with RLE row
# compression. Writers are imported lazily so that importing this module
# does not import the package.
FORMATS = ("dta", "sav", "zsav", "sas7bdat", "sas7bdat_rle", "xpt", "por")
EXT = {
    "dta": "dta",
    "sav": "sav",
    "zsav": "zsav",
    "sas7bdat": "sas7bdat",
    "sas7bdat_rle": "sas7bdat",
    "xpt": "xpt",
    "por": "por",
}
# option("compress", ...) for df.write.format("readstat"), per format
WRITE_OPTIONS = {"sas7bdat_rle": {"compress": "rle"}}


def write_stat(fmt: str, table: pa.Table, path: str) -> None:
    """Write ``table`` to ``path`` with the package's in-process writer."""
    if fmt == "dta":
        from polars_readstat_rs_spark.formats.stata import writer

        writer.write_dta(table, path)
    elif fmt in ("sav", "zsav"):
        from polars_readstat_rs_spark.formats.spss import writer

        writer.write_sav(table, path, compress="zsav" if fmt == "zsav" else False)
    elif fmt in ("sas7bdat", "sas7bdat_rle"):
        from polars_readstat_rs_spark.formats.sas import bdat_writer

        bdat_writer.write_sas7bdat(table, path, compress="RLE" if fmt == "sas7bdat_rle" else False)
    elif fmt == "xpt":
        from polars_readstat_rs_spark.formats.sas import xport

        xport.write_xpt(table, path)
    elif fmt == "por":
        from polars_readstat_rs_spark.formats.spss import portable

        portable.write_por(table, path)
    else:
        raise ValueError(f"unknown format {fmt!r}")


def stat_table(seed: int, rows: int) -> pa.Table:
    """The mixed 20-column table every stat-file workload uses: doubles,
    int32s below INT_HIGH, and short strings drawn from a 20-word and a
    500-word vocabulary. Names fit XPORT v5 (at most 8 characters) and
    strings hold no blanks, so every format round-trips them unchanged."""
    rng = np.random.default_rng(seed)
    cols: dict[str, pa.Array] = {}
    for i in range(N_NUM):
        cols[f"num{i}"] = pa.array(rng.normal(50.0, 100.0, rows))
    for i in range(N_INT):
        cols[f"int{i}"] = pa.array(rng.integers(0, INT_HIGH, rows, dtype=np.int32))
    for i in range(N_STR):
        vocab = SHORT_VOCAB if i % 2 == 0 else LONG_VOCAB
        idx = rng.integers(0, len(vocab), rows)
        cols[f"str{i}"] = pa.array(np.asarray(vocab, dtype=object)[idx].tolist(), pa.string())
    return pa.table(cols)


class Expected:
    """Exact aggregates of a table (or a row subset of it), the oracle the
    Spark outputs are checked against."""

    def __init__(self, table: pa.Table, mask: np.ndarray | None = None):
        self.count = table.num_rows if mask is None else int(mask.sum())
        self.arrow_bytes = table.nbytes
        self.int_sum: dict[str, int] = {}
        self.num_sum: dict[str, tuple[float, float]] = {}
        self.values: dict[str, set] = {}
        for name in table.column_names:
            col = table.column(name).to_numpy(zero_copy_only=False)
            if mask is not None:
                col = col[mask]
            if name.startswith("int"):
                self.int_sum[name] = int(col.astype(np.int64).sum())
            elif name.startswith("num"):
                self.num_sum[name] = (math.fsum(col), math.fsum(np.abs(col)))
            else:
                self.values[name] = set(col.tolist())

    @property
    def distinct(self) -> dict[str, int]:
        return {k: len(v) for k, v in self.values.items()}

    @staticmethod
    def merge(parts: list["Expected"]) -> "Expected":
        out = Expected.__new__(Expected)
        out.count = sum(p.count for p in parts)
        out.arrow_bytes = sum(p.arrow_bytes for p in parts)
        out.int_sum = {k: sum(p.int_sum[k] for p in parts) for k in parts[0].int_sum}
        out.num_sum = {
            k: (math.fsum(p.num_sum[k][0] for p in parts), math.fsum(p.num_sum[k][1] for p in parts))
            for k in parts[0].num_sum
        }
        out.values = {k: set().union(*(p.values[k] for p in parts)) for k in parts[0].values}
        return out


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def manifest(paths: list[str], root: str) -> list[dict]:
    return [
        {"file": os.path.relpath(p, root), "bytes": os.path.getsize(p), "sha256": sha256_file(p)}
        for p in paths
    ]


def stage_large(seed: int, rows: int, out_dir: str, formats) -> tuple[pa.Table, dict[str, str]]:
    """One table, written once per format."""
    table = stat_table(seed, rows)
    paths = {}
    for fmt in formats:
        path = os.path.join(out_dir, f"large_{fmt}.{EXT[fmt]}")
        write_stat(fmt, table, path)
        paths[fmt] = path
    return table, paths


def stage_small(seed: int, n_files: int, rows: int, out_dir: str, formats, dir_files: int):
    """``n_files`` small tables spread round-robin over ``formats``, under
    small/<fmt>/. The first ``dir_files`` files of each format go in
    small/<fmt>/dir/, the directory that is glob-scanned. Returns
    [(fmt, path, Expected)] in file order."""
    files = []
    for i in range(n_files):
        fmt = formats[i % len(formats)]
        sub = os.path.join(out_dir, "small", fmt)
        if i // len(formats) < dir_files:
            sub = os.path.join(sub, "dir")
        os.makedirs(sub, exist_ok=True)
        table = stat_table(seed * 100_003 + i, rows)
        path = os.path.join(sub, f"f{i:04d}.{EXT[fmt]}")
        write_stat(fmt, table, path)
        files.append((fmt, path, Expected(table)))
    return files


def zipf_draws(seed: int, n_items: int, n: int) -> list[int]:
    """``n`` item indices from a Zipf(ZIPF_S) law truncated to ``n_items``
    ranks. The draws are the midpoints of ``n`` equal-probability strata, so
    for every seed the same number of them repeat an earlier item. The seed
    picks which items the ranks map to and the order of the draws."""
    rng = np.random.default_rng(seed ^ 0x5EED)
    cdf = np.cumsum(1.0 / np.arange(1, n_items + 1) ** ZIPF_S)
    cdf /= cdf[-1]
    ranks = np.minimum(np.searchsorted(cdf, (np.arange(n) + 0.5) / n), n_items - 1)
    perm = rng.permutation(n_items)
    return [int(perm[r]) for r in rng.permutation(ranks)]


# ---------------------------------------------------------------- llm_ops

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query fast the"
).split()
_LANGS = (["en"] * 44) + (["zh"] * 15) + (["es"] * 14) + (["de"] * 14) + (["fr"] * 13)


def _dates(rng, n, start="1995-01-01", end="2001-08-01"):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def query_tables(seed: int) -> dict[str, pa.Table]:
    """The ten tables the headline queries read (TPC-H-like star schema
    plus events, documents and embeddings), with the column names, types
    and sf0.01 row counts of the repository's test data (60k lineitem
    rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_line, n_ev = 15000, 60000, 10000
    n_doc = n_emb = 500
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    def money(lo, hi, n):
        return pa.array(np.round(rng.uniform(lo, hi, n), 2))

    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust).tolist()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = ["small", "red", "blue", "hot", "cold", "big", "green", "dark"]
    noun = ["ring", "widget", "bolt", "gear", "plate", "nut", "pipe", "valve"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"], n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _dates(rng, n_ord),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist()),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist()),
        "l_shipdate": _dates(rng, n_line),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + start
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(["signup", "error", "click", "view", "purchase"], n_ev).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(src[: max(4, int(len(src) * rng.uniform(0.5, 1.0)))]) + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 80)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(rng.choice(_LANGS, n_doc).tolist()),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    return t


def stage_query_tables(seed: int, out_dir: str) -> list[str]:
    paths = []
    for name, table in query_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths
