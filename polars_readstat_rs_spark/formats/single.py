"""Single-shot writes: one in-memory table through a format's
distributed encoder.

Every writer format exposes one encoder, a task-side ``spill(batches,
blob) -> sections`` and a commit-side ``assemble(path, parts=[(blob,
sections), ...])`` (the pair behind ``df.write.format("readstat")``).
A format's ``write_*`` function is the same pair run once: the table is
spilled as a single section to a temp blob beside the target, then
assembled into it (reference W1: one writer, full-df and
streaming-batch modes).
"""

from __future__ import annotations

import os
import tempfile

from .._lazy import lazy_import

# portable.py imports this module on the metadata-only planning path
pa = lazy_import("pyarrow", globals(), "pa")


def as_arrow_table(data) -> "pa.Table":
    """The Arrow table of a pyarrow Table, a Spark DataFrame
    (``toArrow``), a polars DataFrame (``to_arrow``) or a pandas
    DataFrame."""
    if isinstance(data, pa.Table):
        return data
    if hasattr(data, "toArrow"):
        return data.toArrow()
    if hasattr(data, "to_arrow"):
        return data.to_arrow()
    return pa.Table.from_pandas(data, preserve_index=False)


def write_one_section(table: "pa.Table", path: str, spill, assemble) -> None:
    """Spill ``table`` as one section to a temp blob beside ``path`` and
    assemble ``path`` from it (``parts=[]`` for a 0-row table)."""
    fd, blob = tempfile.mkstemp(
        dir=os.path.dirname(os.path.abspath(path)), prefix=f".{os.path.basename(path)}.", suffix=".blob"
    )
    os.close(fd)
    try:
        sections = spill(table.combine_chunks().to_batches(), blob)
        assemble(path, parts=[(blob, sections)] if sections else [])
    finally:
        os.unlink(blob)
