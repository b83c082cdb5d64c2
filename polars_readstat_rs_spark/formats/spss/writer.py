"""SPSS .sav writer (reference W2, src/spss/writer.rs).

Writes uncompressed (compression=0) .sav — deliberately: uncompressed
files are row-splittable, so a file written by this engine reads back
partition-parallel (reference limitation avoided; its RLE output forces
single-threaded reads, src/spss/polars_output.rs:403-405).

Limits mirror the reference (README.md:304-311): fixed-width strings up
to 255 bytes, numeric value labels, variable labels; long names go in a
subtype-13 record with auto short names; encoding is always UTF-8
(subtype 20).

Type mapping: ints/floats/bool -> numeric double; date32 -> numeric with
DATE format (code 20), timestamp -> DATETIME (22), string -> fixed width.
Nulls -> system missing (0xFFEFFFFFFFFFFFFF) / blank strings.
"""

from __future__ import annotations

import struct
from functools import partial

import numpy as np
import pyarrow as pa

from ..single import as_arrow_table, write_one_section
from .parser import SAV_MISSING, SPSS_SEC_SHIFT

_MAX_STR = 255
_MAX_VLS = 32767  # SPSS very-long-string ceiling (subtype 14)


def _vls_seg_units(total: int) -> list[int]:
    """Per-segment record widths (8-byte units) for a very long string
    of ``total`` declared bytes: ceil(total/252) segments, non-final
    segments occupy 32 units (255-byte variables), the final segment is
    sized to the remaining declared bytes."""
    nseg = (total + 251) // 252
    tail = total - 252 * (nseg - 1)
    return [32] * (nseg - 1) + [(tail + 7) // 8]


def _short_names(names: list[str]) -> list[str]:
    used = set()
    out = []
    for i, n in enumerate(names):
        base = "".join(c for c in n.upper() if c.isalnum() or c in "@#$_")[:8] or f"V{i}"
        if base[0].isdigit():
            base = ("V" + base)[:8]
        cand, k = base, 1
        while cand in used:
            suffix = str(k)
            cand = base[: 8 - len(suffix)] + suffix
            k += 1
        used.add(cand)
        out.append(cand)
    return out


class _Col:
    def __init__(self, name: str, arr, declared_len: int | None = None):
        self.name = name
        self.arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
        t = self.arr.type
        n = len(self.arr)
        self.null_mask = ~np.asarray(self.arr.is_valid()) if self.arr.null_count else np.zeros(n, bool)
        self.fmt_code = 5  # F (plain numeric)
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            vals = [(x or "").encode("utf-8") for x in self.arr.to_pylist()]
            w = max(max((len(b) for b in vals), default=1), 1)
            if w > _MAX_VLS:
                raise ValueError(
                    f"column {name}: string values over {_MAX_VLS} bytes exceed "
                    "the .sav very-long-string limit"
                )
            if declared_len is not None:
                if w > declared_len:
                    raise ValueError(
                        f"column {name}: value of {w} bytes exceeds the declared "
                        f"string_widths width {declared_len}"
                    )
                w = max(1, min(int(declared_len), _MAX_VLS))
            self.is_str = True
            self.string_len = w
            self.fmt_code = 1  # A
            if w <= _MAX_STR:
                self.seg_units = None
                self.width = (w + 7) // 8
                pad_w = self.width * 8
                self.data = np.array([b.ljust(pad_w, b" ") for b in vals], dtype=f"S{pad_w}")
                return
            # very long string (beyond the reference's 255-byte writer
            # limit): SPSS subtype-14 segmentation — non-final segments
            # are 255-byte variables whose record slot (256 bytes) holds
            # 252 DATA bytes + padding; the final segment is exact.
            self.seg_units = _vls_seg_units(w)
            self.width = sum(self.seg_units)
            nseg = len(self.seg_units)
            rows = []
            for b in vals:
                chunks = []
                for k, su in enumerate(self.seg_units):
                    piece = b[252 * k : 252 * k + (252 if k < nseg - 1 else su * 8)]
                    chunks.append(piece.ljust(su * 8, b" "))
                rows.append(b"".join(chunks))
            self.data = np.array(rows, dtype=f"S{self.width * 8}")
            return
        self.is_str = False
        self.string_len = 0
        self.width = 1
        self.seg_units = None
        if pa.types.is_date32(t):
            days = np.asarray(self.arr.cast(pa.int32()).fill_null(0), dtype=np.int64)
            v = (days * 86400 + SPSS_SEC_SHIFT).astype(np.float64)
            self.fmt_code = 20  # DATE
        elif pa.types.is_timestamp(t):
            us = np.asarray(
                self.arr.cast(pa.timestamp("us")).cast(pa.int64()).fill_null(0), dtype=np.int64
            )
            v = (us // 1_000_000 + SPSS_SEC_SHIFT).astype(np.float64)
            self.fmt_code = 22  # DATETIME
        elif pa.types.is_boolean(t):
            v = np.asarray(self.arr.cast(pa.int8()).fill_null(0), dtype=np.float64)
        else:
            v = np.asarray(self.arr.cast(pa.float64()).fill_null(0), dtype=np.float64)
        v = v.copy()
        v.view(np.uint64)[self.null_mask] = SAV_MISSING
        self.data = v


from dataclasses import dataclass


@dataclass
class SavSpec:
    """Column layout for the dictionary, decided from section metadata
    (no data attached)."""

    name: str
    short: str
    is_str: bool
    string_len: int  # declared byte length (0 numeric)
    width: int  # 8-byte units per row
    fmt_code: int
    # very-long-string physical segmentation (None for ordinary columns)
    seg_units: list[int] | None = None


def _dictionary_bytes(
    specs: list[SavSpec],
    nobs: int,
    value_labels: dict[str, dict[float, str]],
    variable_labels: dict[str, str],
    data_label: str,
    user_missing: dict[str, list[float]],
    endian: str,
) -> bytes:
    """176-byte header + full dictionary (type 2/3/4, subtypes 13/20,
    999 terminator) for an uncompressed .sav."""
    out = bytearray()
    case_size = sum(c.width for c in specs)
    hdr = bytearray(176)
    hdr[0:4] = b"$FL2"
    hdr[4:64] = b"@(#) SPSS DATA FILE polars_readstat_rs_spark".ljust(60)[:60]
    struct.pack_into(endian + "i", hdr, 64, 2)  # layout code
    struct.pack_into(endian + "i", hdr, 68, case_size)
    struct.pack_into(endian + "i", hdr, 72, 0)  # compression: none
    struct.pack_into(endian + "i", hdr, 76, 0)  # weight index
    struct.pack_into(endian + "i", hdr, 80, nobs)
    struct.pack_into(endian + "d", hdr, 84, 100.0)
    hdr[92:101] = b"01 Jan 26"
    hdr[101:109] = b"00:00:00"
    lab = data_label.encode("utf-8")[:64]
    hdr[109 : 109 + len(lab)] = lab
    hdr[109 + len(lab) : 173] = b" " * (64 - len(lab))
    hdr[173:176] = b"\0\0\0"
    out += hdr

    # ---- variable records (type 2) with continuations for wide strings
    used_shorts = {c.short for c in specs}

    def _seg_short(base: str, k: int) -> str:
        cand = (base[:5] or "V")[:5] + f"S{k}"
        j = 0
        while cand in used_shorts:
            j += 1
            cand = (base[:4] or "V")[:4] + f"S{k}{j}"
        used_shorts.add(cand)
        return cand

    def _var_record(typ: int, decl_len: int, short: str, vlabel: bytes, miss, units: int):
        rec = bytearray()
        rec += struct.pack(endian + "i", 2)
        rec += struct.pack(endian + "iii", typ, 1 if vlabel else 0, len(miss))
        if typ > 0:
            print_fmt = (1 << 16) | (min(decl_len, 255) << 8)
        else:
            fmt_code = 5
            print_fmt = (fmt_code << 16) | (8 << 8) | 2
        rec += struct.pack(endian + "I", print_fmt)
        rec += struct.pack(endian + "I", print_fmt)
        rec += short.encode("ascii").ljust(8)[:8]
        if vlabel:
            rec += struct.pack(endian + "I", len(vlabel))
            pad = (len(vlabel) + 3) // 4 * 4
            rec += vlabel.ljust(pad, b"\0")
        for m in miss:  # pre-encoded 8-byte blobs (numeric or string)
            rec += m
        for _ in range(units - 1):  # string continuation records
            rec += struct.pack(endian + "i", 2)
            rec += struct.pack(endian + "iii", -1, 0, 0)
            rec += struct.pack(endian + "II", 0, 0)
            rec += b"        "
        return bytes(rec)

    for c in specs:
        vlabel = variable_labels.get(c.name, "").encode("utf-8")
        if c.is_str:
            # string user-missing: SPSS allows up to 3 declared values
            # for strings of width <= 8 (space-padded 8-byte blobs)
            miss = [
                str(m).encode("utf-8")[:8].ljust(8, b" ")
                for m in list(user_missing.get(c.name, []))[:3]
                if c.string_len <= 8
            ]
        else:
            miss = [
                struct.pack(endian + "d", float(m))
                for m in list(user_missing.get(c.name, []))[:3]
            ]
        if c.seg_units:
            # very long string: one 255-byte variable per non-final
            # segment + the exact-width final segment; the true length
            # rides in the subtype-14 record below
            nseg = len(c.seg_units)
            tail = c.string_len - 252 * (nseg - 1)
            for k, su in enumerate(c.seg_units):
                decl = 255 if k < nseg - 1 else tail
                short = c.short if k == 0 else _seg_short(c.short, k)
                out += _var_record(decl, decl, short, vlabel if k == 0 else b"", [], su)
            continue
        if c.is_str:
            out += _var_record(c.string_len, c.string_len, c.short, vlabel, miss, c.width)
        else:
            fmt = bytearray(_var_record(0, 0, c.short, vlabel, miss, 1))
            # numeric print/write format code comes from the spec
            pf = (c.fmt_code << 16) | (8 << 8) | 2
            struct.pack_into(endian + "I", fmt, 16, pf)
            struct.pack_into(endian + "I", fmt, 20, pf)
            out += bytes(fmt)

    # ---- value labels (type 3 + 4): numeric keys, plus short-string
    # keys (<= 8 bytes, space-padded blobs — the same layout the reader
    # trims back, parser.py value-label handling)
    offsets = {}
    seg = 0
    for c in specs:
        offsets[c.name] = seg
        seg += c.width
    for c in specs:
        mapping = value_labels.get(c.name)
        if not mapping:
            continue
        if c.is_str and c.string_len > 8:
            continue  # long-string labels need subtype 21 (read-only here)
        out += struct.pack(endian + "iI", 3, len(mapping))
        for k in sorted(mapping, key=str if c.is_str else float):
            if c.is_str:
                out += str(k).encode("utf-8")[:8].ljust(8, b" ")
            else:
                out += struct.pack(endian + "d", float(k))
            lab = mapping[k].encode("utf-8")[:255]
            out += bytes([len(lab)])
            padded = (len(lab) + 8) // 8 * 8 - 1
            out += lab.ljust(padded, b" ")
        out += struct.pack(endian + "iII", 4, 1, offsets[c.name] + 1)

    # ---- subtype 13: long variable names
    entries = "\t".join(f"{c.short}={c.name}" for c in specs).encode("utf-8")
    out += struct.pack(endian + "iiII", 7, 13, 1, len(entries)) + entries
    # ---- subtype 14: very-long-string true lengths (KEY=len entries)
    vls = [c for c in specs if c.seg_units]
    if vls:
        body = b"".join(f"{c.short}={c.string_len}".encode("ascii") + b"\x00\t" for c in vls)
        out += struct.pack(endian + "iiII", 7, 14, 1, len(body)) + body
    # ---- subtype 20: encoding
    out += struct.pack(endian + "iiII", 7, 20, 1, 5) + b"UTF-8"
    # ---- dict termination
    out += struct.pack(endian + "ii", 999, 0)
    return bytes(out)


# ------------------------------------------------- distributed write path
#
# Executor side encodes each Arrow batch to a record section using LOCAL
# string widths (the global width is unknowable inside one task); the
# driver's assemble step decides global widths from the section metadata
# and numpy-re-strides each section into the final layout — one section
# in memory at a time, so dataset size never touches driver memory.
# Mirrors the .dta distributed writer's two-phase design.

def encode_sav_section(batch, declared: dict[str, int] | None = None) -> tuple[bytes, dict]:
    """One Arrow batch -> (record bytes in local layout, section meta).

    ``declared`` maps string column name -> fixed byte width; declared
    columns encode at that width (error if a value exceeds it), which
    makes the section's layout the *global* layout."""
    declared = declared or {}
    cols = [
        _Col(n, batch.column(i), declared_len=declared.get(n))
        for i, n in enumerate(batch.schema.names)
    ]
    n = batch.num_rows
    rec = np.zeros(n, dtype=_record_dtype([(c.is_str, c.width) for c in cols]))
    for i, c in enumerate(cols):
        rec[f"f{i}"] = c.data
    meta = {
        "nrows": n,
        "cols": [
            {
                "name": c.name,
                "is_str": c.is_str,
                "string_len": c.string_len,
                "width": c.width,
                "fmt_code": c.fmt_code,
                "seg_units": c.seg_units,
            }
            for c in cols
        ],
    }
    return rec.tobytes(), meta


def spill_sav_partition(
    batches,
    blob_path: str,
    declared: dict[str, int] | None = None,
    compress: bool = False,
) -> list[dict]:
    """Executor side: append each batch's section to the blob; the meta
    list travels back through the WriterCommitMessage.

    When the global layout is already known on the executor — the schema
    has no string columns, or every string column's width is declared via
    ``declared`` — sections are emitted in FINAL form (``final: True``),
    and with ``compress`` they are RLE-compressed here too (``rle:
    True``, group-aligned non-terminated streams that concatenate into
    one valid bytecode stream). commit() then only concatenates blobs:
    zero driver CPU per value, which is what survives a 1000-executor
    write. Undeclared string widths fall back to local-layout sections
    re-strided (and compressed) on the driver."""
    declared = declared or {}
    sections: list[dict] = []
    with open(blob_path, "wb") as f:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            rec_bytes, meta = encode_sav_section(batch, declared=declared)
            is_final = all(
                (not c["is_str"]) or c["name"] in declared for c in meta["cols"]
            )
            if is_final and compress:
                infos = [(c["is_str"], c["width"]) for c in meta["cols"]]
                rec = np.frombuffer(rec_bytes, dtype=_record_dtype(infos), count=meta["nrows"])
                units, codes = _unit_codes(rec, infos)
                rec_bytes = _rle_encode(units, codes, final=False)
                meta["rle"] = True
            meta["final"] = is_final
            meta["rec_off"] = f.tell()
            meta["rec_len"] = len(rec_bytes)
            f.write(rec_bytes)
            sections.append(meta)
    return sections


def _record_dtype(cols: list[tuple[bool, int]], endian: str = "<") -> np.dtype:
    """Packed record dtype of (is_str, width in 8-byte units) columns."""
    return np.dtype(
        {
            "names": [f"f{i}" for i in range(len(cols))],
            "formats": [f"S{w * 8}" if is_str else endian + "f8" for is_str, w in cols],
            "offsets": np.cumsum([0] + [w * 8 for _, w in cols[:-1]]).tolist(),
            "itemsize": sum(w for _, w in cols) * 8,
        }
    )


def assemble_sav(
    path: str,
    schema: pa.Schema,
    parts: list[tuple[str, list[dict]]],
    value_labels: dict[str, dict[float, str]] | None = None,
    variable_labels: dict[str, str] | None = None,
    data_label: str = "",
    user_missing: dict[str, list[float]] | None = None,
    compress: bool | str = False,
    declared: dict[str, int] | None = None,
    endian: str = "<",
) -> None:
    """Driver side: global layout from section metadata, then stream
    every section into the final file. Sections already in the global
    layout (``final``/``rle`` from :func:`spill_sav_partition`) are
    byte-copied; only local-layout sections pay a numpy re-stride (and,
    under ``compress``, driver-side RLE). ``compress`` accepts False /
    True ("bytecode" RLE, compression=1) / "zsav": the same RLE stream
    spooled to a temp file beside the output and wrapped block-by-block
    in the zlib container (compression=2) — one block of driver memory
    at a time, so the distributed path stays dataset-size-independent.
    ``endian`` ">" writes big-endian uncompressed output: every section
    is re-strided into the big-endian record layout."""
    if compress and endian != "<":
        raise ValueError("compress supports little-endian output only")
    value_labels = value_labels or {}
    variable_labels = variable_labels or {}
    user_missing = user_missing or {}
    declared = declared or {}
    all_secs = [s for _, secs in parts for s in secs]
    nobs = sum(s["nrows"] for s in all_secs)
    names = [f.name for f in schema]
    shorts = _short_names(names)
    specs: list[SavSpec] = []
    for i, f in enumerate(schema):
        t = f.type
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            sl = max((s["cols"][i]["string_len"] for s in all_secs), default=1)
            sl = max(sl, declared.get(f.name, 0), 1)
            if sl > _MAX_STR:
                # very long string: every section must already be in the
                # global segment layout — guaranteed when the width is
                # declared (string_widths), the scalable path. Undeclared
                # VLS widths can disagree across partitions; re-striding
                # between different SEGMENTED layouts is deliberately
                # unsupported (declare the width instead).
                segs = _vls_seg_units(sl)
                for s in all_secs:
                    c = s["cols"][i]
                    if c["string_len"] != sl or c["seg_units"] != segs:
                        raise ValueError(
                            f"column {f.name}: strings over {_MAX_STR} bytes in a "
                            "distributed .sav write require a string_widths "
                            "declaration so every partition encodes the same "
                            "segment layout"
                        )
                specs.append(SavSpec(f.name, shorts[i], True, sl, sum(segs), 1, segs))
                continue
            specs.append(SavSpec(f.name, shorts[i], True, sl, (sl + 7) // 8, 1))
        else:
            fmt = 20 if pa.types.is_date32(t) else 22 if pa.types.is_timestamp(t) else 5
            specs.append(SavSpec(f.name, shorts[i], False, 0, 1, fmt))

    col_infos = [(c.is_str, c.width) for c in specs]
    g_dt = _record_dtype(col_infos, endian)
    zsav = compress == "zsav"
    # the driver encodes the last section's RLE with the EOF code in its
    # final control group; an executor-compressed last section ends
    # padded, so the EOF then takes a group of its own
    eof_in_tail = bool(all_secs) and not all_secs[-1].get("rle")
    with open(path, "wb") as out:
        header = bytearray(
            _dictionary_bytes(
                specs, nobs, value_labels, variable_labels, data_label, user_missing, endian
            )
        )
        if compress:
            struct.pack_into("<i", header, 72, 2 if zsav else 1)
        if zsav:
            header[0:4] = b"$FL3"  # the zlib container's magic, as write_sav writes it
        out.write(header)
        if zsav:
            import os as _os
            import tempfile as _tf

            spool = _tf.TemporaryFile(
                dir=_os.path.dirname(_os.path.abspath(path)) or "."
            )
            sink = spool
        else:
            sink = out
        for blob_path, secs in parts:
            if not secs:
                continue
            with open(blob_path, "rb") as blob:
                for sec in secs:
                    blob.seek(sec["rec_off"])
                    if sec.get("rle") or (sec.get("final") and not compress and endian == "<"):
                        # executor emitted the final (possibly compressed)
                        # byte stream — pure copy, bounded chunks
                        left = sec["rec_len"]
                        while left:
                            chunk = blob.read(min(left, 8 << 20))
                            sink.write(chunk)
                            left -= len(chunk)
                        continue
                    raw = blob.read(sec["rec_len"])
                    n = sec["nrows"]
                    l_dt = _record_dtype([(c["is_str"], c["width"]) for c in sec["cols"]])
                    local = np.frombuffer(raw, dtype=l_dt, count=n)
                    if l_dt == g_dt:
                        rec = local
                    else:
                        rec = np.zeros(n, dtype=g_dt)
                        for i, spec in enumerate(specs):
                            fld = f"f{i}"
                            if not spec.is_str:
                                rec[fld] = local[fld]
                                continue
                            gw = spec.width * 8
                            lw = sec["cols"][i]["width"] * 8
                            # a field of a multi-field record is strided:
                            # copy it contiguous before the byte view
                            src = np.ascontiguousarray(local[fld]).view(np.uint8).reshape(n, lw)
                            dst = np.full((n, gw), 0x20, np.uint8)  # space padding
                            dst[:, :lw] = src
                            rec[fld] = np.ascontiguousarray(dst).view(f"S{gw}").reshape(n)
                    if compress:
                        units, codes = _unit_codes(rec, col_infos)
                        sink.write(_rle_encode(units, codes, final=eof_in_tail and sec is all_secs[-1]))
                    else:
                        sink.write(rec.tobytes())
        if compress and not eof_in_tail:
            sink.write(bytes([252]) + bytes(7))  # EOF group
        if zsav:
            _zsav_stream(out, spool, zheader_ofs=len(header))
            spool.close()


# --------------------------------------------------- RLE-compressed output
#
# The reference writer emits uncompressed only; SPSS's bytecode RLE
# (code = value+bias for small integral doubles, 254 all-spaces, 255
# sysmiss, 253 literal) typically shrinks files 4-8x. Our reader splits
# compressed files via checkpoint recovery, so compress=True costs no
# read parallelism — both reference limitations avoided at once.

def _unit_codes(rec: np.ndarray, col_infos: list[tuple[bool, int]]) -> tuple[np.ndarray, np.ndarray]:
    """(units (N,8) uint8, codes (N,) uint8) for a structured record
    array — 253 marks literal units, anything else is a final code."""
    n = len(rec)
    case = sum(w for _, w in col_infos)
    units = np.frombuffer(rec.tobytes(), np.uint8).reshape(n * case, 8)
    codes = np.full((n, case), 253, np.uint8)
    seg = 0
    for i, (is_str, w) in enumerate(col_infos):
        f = np.ascontiguousarray(rec[f"f{i}"])
        if is_str:
            u = f.view(np.uint8).reshape(n, w, 8)
            codes[:, seg : seg + w] = np.where((u == 0x20).all(axis=2), 254, 253)
        else:
            v = f.view(np.float64)
            bits = f.view(np.uint64)
            c = v + 100.0
            with np.errstate(invalid="ignore"):
                ok = np.isfinite(v) & (v == np.floor(v)) & (c >= 1.0) & (c <= 251.0)
            col = np.full(n, 253, np.uint8)
            col[ok] = c[ok].astype(np.uint8)
            col[bits == SAV_MISSING] = 255
            codes[:, seg] = col
        seg += w
    return units, codes.ravel()


def _rle_encode(units: np.ndarray, codes: np.ndarray, final: bool = True) -> bytes:
    """Assemble the bytecode stream fully vectorized: control groups of
    8 codes followed by their literal payloads, EOF 252, zero padding.

    ``final=False`` omits the EOF marker and zero-pads to a group
    boundary instead — such section streams concatenate into one valid
    stream (code 0 is ignored padding), which is what lets the
    distributed writer compress per section."""
    if final:
        codes_p = np.concatenate([codes, np.array([252], np.uint8)])
    else:
        codes_p = codes
    pad = (-len(codes_p)) % 8
    if pad:
        codes_p = np.concatenate([codes_p, np.zeros(pad, np.uint8)])
    ctrl = codes_p.reshape(-1, 8)
    lit_per_group = (ctrl == 253).sum(axis=1)
    group_bytes = 8 + 8 * lit_per_group
    out_off = np.concatenate([[0], np.cumsum(group_bytes)])
    out = np.zeros(int(out_off[-1]), np.uint8)
    out[(out_off[:-1, None] + np.arange(8)[None, :]).ravel()] = ctrl.ravel()
    lit_idx = np.nonzero(codes == 253)[0]  # original codes only: 252/pad add no literals
    if len(lit_idx):
        g = lit_idx // 8
        first = np.concatenate([[0], np.cumsum(lit_per_group)])[g]
        rank = np.arange(len(lit_idx)) - first
        dest = out_off[g] + 8 + 8 * rank
        out[(dest[:, None] + np.arange(8)[None, :]).ravel()] = units[lit_idx].ravel()
    return out.tobytes()


ZSAV_BLOCK_BYTES = 0x3FF000  # SPSS's standard uncompressed block size


def _zsav_stream(out, spool, zheader_ofs: int, bias: int = 100,
                 block_bytes: int = ZSAV_BLOCK_BYTES) -> None:
    """zheader + zlib blocks + ztrailer (layout per the reference
    reader, src/spss/data.rs:1687-1761) for the RLE bytecode spool,
    compressed one ``block_bytes`` chunk at a time into ``out``
    (zheader placeholder patched after the block index is known), so
    the zsav container never holds more than one block in memory."""
    import zlib

    spool.seek(0)
    zheader_pos = out.tell()
    out.write(b"\x00" * 24)  # zheader placeholder
    entries = []
    uofs, cofs = zheader_ofs, zheader_pos + 24
    while True:
        b = spool.read(block_bytes)
        if not b and entries:
            break
        c = zlib.compress(b)
        out.write(c)
        entries.append((uofs, cofs, len(b), len(c)))
        uofs += len(b)
        cofs += len(c)
        if len(b) < block_bytes:
            break
    ztrailer_ofs = out.tell()
    out.write(struct.pack("<qqii", bias, 0, block_bytes, len(entries)))
    for e in entries:
        out.write(struct.pack("<qqii", *e))
    out.seek(zheader_pos)
    out.write(struct.pack("<3Q", zheader_ofs, ztrailer_ofs, 24 + 24 * len(entries)))


def write_sav(
    table,
    path: str,
    value_labels: dict[str, dict[float, str]] | None = None,
    variable_labels: dict[str, str] | None = None,
    data_label: str = "",
    user_missing: dict[str, list[float]] | None = None,
    endian: str = "<",
    compress: bool | str = False,
) -> None:
    """Write an Arrow table (or Spark/pandas DataFrame) as .sav in one
    shot: spilled as one section, then assembled.
    ``user_missing``: up to 3 discrete user-declared missing doubles
    per numeric column (reference W2 / F3 fixture semantics).
    ``endian``: "<" (default) or ">" — big-endian output exists mainly to
    exercise the reader's byte-order handling.
    ``compress``: False = raw fixed-width records; True = bytecode RLE
    (.sav compression=1); "zsav" = the RLE stream wrapped in zlib blocks
    with a ztrailer index (compression=2) — smallest output, and the
    reader still splits it block-parallel."""
    t = as_arrow_table(table)
    write_one_section(t, path, spill_sav_partition, partial(
        assemble_sav, schema=t.schema, value_labels=value_labels,
        variable_labels=variable_labels, data_label=data_label,
        user_missing=user_missing, compress=compress, endian=endian,
    ))
