"""SAS "writer" (reference W3, src/sas/writer.rs:30-60): SAS has no
publicly-writable .sas7bdat spec, so the reference — and this engine —
emit a CSV plus a companion .sas import script declaring lengths,
formats, labels and input rules. Documented non-goal parity."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.csv as pacsv

from ..single import as_arrow_table


def write_sas_package(table, csv_path: str, script_path: str, dataset: str = "outds",
                      variable_labels: dict[str, str] | None = None) -> None:
    table = as_arrow_table(table)
    variable_labels = variable_labels or {}
    pacsv.write_csv(table, csv_path)

    lines = [f"data {dataset};", f"  infile '{csv_path}' dsd firstobs=2 truncover;", "  input"]
    informats, formats, labels = [], [], []
    for f in table.schema:
        name = f.name
        if pa.types.is_string(f.type) or pa.types.is_large_string(f.type):
            col = table.column(name)
            width = max((len(x or "") for x in col.to_pylist()), default=1) or 1
            lines.append(f"    {name} :$ {width}.")
            informats.append(f"  informat {name} ${width}.;")
        elif pa.types.is_date32(f.type):
            lines.append(f"    {name} : yymmdd10.")
            formats.append(f"  format {name} date9.;")
        elif pa.types.is_timestamp(f.type):
            lines.append(f"    {name} : e8601dt19.")
            formats.append(f"  format {name} datetime20.;")
        else:
            lines.append(f"    {name}")
        if name in variable_labels:
            labels.append(f"  label {name} = \"{variable_labels[name]}\";")
    lines.append("  ;")
    lines += informats + formats + labels
    lines.append("run;")
    with open(script_path, "w") as f:
        f.write("\n".join(lines) + "\n")
