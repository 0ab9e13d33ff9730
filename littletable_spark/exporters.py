"""Presentation and export sinks.

Capability parity: ``csv_export``/``tsv_export`` (littletable.py:3117-3202),
``json_export`` (littletable.py:3314-3413), ``as_dataframe``
(littletable.py:3461-3492), ``present`` (littletable.py:4038-4069),
``as_html`` (littletable.py:4071-4157), ``as_markdown`` with alignment
inference (littletable.py:4159-4271), ``formatted_table``
(littletable.py:2317-2343).

Presentation is inherently a driver-side operation on collected rows (the
reference renders the whole table too). For dataset-scale exports the
``*_export`` functions accept ``distributed=True`` to write through
``df.write`` instead of collecting.
"""

from __future__ import annotations

import datetime
import io
import json
import numbers
import os
from typing import Any, Iterable

from pyspark.sql import functions as F


def _collected(table, fieldnames=None) -> tuple[list[str], list[list[Any]]]:
    t = table.select(fieldnames) if fieldnames is not None else table
    cols = t.fields
    rows = [[r[c] for c in cols] for r in t._ordered_df().select(*cols).collect()]
    return cols, rows


def csv_export(
    table,
    dest: Any = None,
    fieldnames: Any = None,
    sep: str = ",",
    distributed: bool = False,
    **kwargs: Any,
) -> str | None:
    """CSV to path/file-like/str-return; ``distributed=True`` uses
    ``df.write.csv`` for dataset-scale output."""
    if distributed:
        t = table.select(fieldnames) if fieldnames is not None else table
        t.df.write.mode("overwrite").option("header", True).option("sep", sep).csv(
            str(dest)
        )
        return None
    import csv as _csv

    cols, rows = _collected(table, fieldnames)
    own = False
    if dest is None:
        out = io.StringIO()
    elif isinstance(dest, (str, os.PathLike)):
        out = open(dest, "w", newline="")
        own = True
    else:
        out = dest
    try:
        w = _csv.writer(out, delimiter=sep, lineterminator="\n")
        w.writerow(cols)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])
        if isinstance(out, io.StringIO):
            return out.getvalue()
        return None
    finally:
        if own:
            out.close()


def _json_default(o: Any) -> Any:
    if isinstance(o, (datetime.datetime, datetime.date)):
        return o.isoformat()
    if isinstance(o, datetime.timedelta):
        return o.total_seconds()
    return str(o)


def json_export(
    table,
    dest: Any = None,
    fieldnames: Any = None,
    streaming: bool = False,
    distributed: bool = False,
    json_encoder: Any = None,
    **kwargs: Any,
) -> str | None:
    """JSON array, or JSONL when ``streaming=True`` (reference kwarg,
    littletable.py:3319). ``json_encoder`` mirrors the reference's custom
    encoder chain (littletable.py:3346-3354): a JSONEncoder class (or
    tuple of them) whose ``default`` handles non-serializable cells."""
    if distributed:
        t = table.select(fieldnames) if fieldnames is not None else table
        t.df.write.mode("overwrite").json(str(dest))
        return None
    cols, rows = _collected(table, fieldnames)
    dicts = [dict(zip(cols, r)) for r in rows]
    default = _json_default
    if json_encoder is not None:
        encoders = (
            list(json_encoder) if isinstance(json_encoder, (tuple, list)) else [json_encoder]
        )
        instances = [e() if isinstance(e, type) else e for e in encoders]

        def default(o, _insts=instances):  # noqa: F811 - chained fallback
            for enc in _insts:
                try:
                    return enc.default(o)
                except TypeError:
                    continue
            return _json_default(o)

    if streaming:
        text = "\n".join(json.dumps(d, default=default) for d in dicts)
    else:
        text = json.dumps(dicts, indent=2, default=default)
    if dest is None:
        return text
    if isinstance(dest, (str, os.PathLike)):
        with open(dest, "w") as f:
            f.write(text)
        return None
    dest.write(text)
    return None


def _is_numeric(v: Any) -> bool:
    return isinstance(v, numbers.Number) and not isinstance(v, bool)


def _fmt_cell(v: Any) -> str:
    if v is None:
        return ""
    if isinstance(v, (list, tuple, dict)):
        return json.dumps(v, default=_json_default)
    return str(v)


# Alignment-inference value classes, verbatim-matching the reference
# (littletable.py:303, littletable.py:4196-4204): bool is an int subclass
# so it is right-justifiable; bool-ish display values are centerable;
# right wins over center when both hold for every value in the column.
# decimal.Decimal is OUR addition: Spark DecimalType columns (money
# columns) collect as Decimal, a numeric cell type the reference's own
# importers never produce — without it every decimal column would
# left-align (and 0/1 decimals would even center via hash equality).
import decimal

_RIGHT_JUSTIFY_TYPES: tuple[type, ...] = (
    int,
    float,
    decimal.Decimal,
    datetime.timedelta,
)
_CENTER_VALS = {
    "Y", "N", "X", "YES", "NO",
    "y", "n", "x", "yes", "no",
    "0", "1", True, False,
    None, "",
}
_EMPTY_VALS = {None, ""}


def _suppressed(group_attrs: list[str], prev: tuple, curr: tuple) -> set:
    """Leading group attrs equal to the previous row's are suppressed —
    prefix-wise takewhile, exactly the reference's
    _determine_suppressed_attrs (littletable.py:1085-1090)."""
    import itertools

    return {
        a
        for a, _, _ in itertools.takewhile(
            lambda apc: apc[1] == apc[2], zip(group_attrs, prev, curr)
        )
    }


def _format_map_get(formats: dict, field_format_map: dict, fld: str, v: Any):
    """Per-field format resolution: by field name, then by the type of
    the first value seen, else "{}" (littletable.py:4110-4112). The
    resolution is sticky per field, like the reference's."""
    if fld not in field_format_map:
        field_format_map[fld] = formats.get(fld, formats.get(type(v), "{}"))
    return field_format_map[fld]


def _cell_str(formats: dict, field_format_map: dict, fld: str, v: Any) -> str:
    """Render one cell. A Spark NULL maps to the reference's
    *missing-attribute* case (our schema-union data model conflates the
    two), which the reference renders as "" (getattr(r, fld, "")) — NOT
    as the string "None". Matches csv_export's NULL handling and the
    alignment logic, where None is already an empty value."""
    if v is None:
        return ""
    fmt = _format_map_get(formats, field_format_map, fld, v)
    return fmt.format(v) if isinstance(fmt, str) else fmt(v)


def _markdown_align(cols: list[str], rows: list[list[Any]]) -> dict[str, str]:
    """Reference alignment inference (littletable.py:4196-4233):
    right if every value is empty or an int/float/timedelta; else center
    if every value is bool-ish; non-hashable values (lists/dicts) force
    left."""
    amap: dict[str, str] = {}
    for i, f in enumerate(cols):
        align_center = True
        align_right = True
        v_values = iter([r[i] for r in rows])
        try:
            for v in v_values:
                if v not in _CENTER_VALS:
                    align_center = False
                if not (v in _EMPTY_VALS or isinstance(v, _RIGHT_JUSTIFY_TYPES)):
                    align_right = False
                if not align_right:
                    break
            align_center = align_center and all(v in _CENTER_VALS for v in v_values)
        except TypeError:
            align_center = False
            align_right = False
        align = "---"
        if align_right:
            align = "---:"
        elif align_center:
            align = ":---:"
        amap[f] = align
    return amap


def as_markdown(
    table, fields: Any = None, formats: dict | None = None, groupby: Any = None
) -> str:
    """Markdown table, byte-identical to the reference renderer
    (littletable.py:4159-4271, checked by differential tests): alignment
    inference per _markdown_align, per-field/per-type ``formats``,
    ``groupby`` suppressing prefix-equal leading values."""
    cols, rows = _collected(table, fields)
    formats = formats or {}
    field_format_map: dict[str, Any] = {}
    align_map = _markdown_align(cols, rows)
    group_attrs: list[str] = []
    if groupby:
        gset = groupby.split() if isinstance(groupby, str) else list(groupby)
        group_attrs = [g for g in gset if g in cols]

    def row_md(r: list[Any], suppress: set) -> str:
        cells = ["|"]
        for i, fld in enumerate(cols):
            if fld not in suppress:
                str_v = _cell_str(formats, field_format_map, fld, r[i])
            else:
                str_v = ""
            cells.append(f" {str_v} |")
        cells.append("\n")
        return "".join(cells)

    body: list[str] = []
    prev = ("",) * len(group_attrs)
    for r in rows:
        curr = tuple(r[cols.index(a)] for a in group_attrs)
        body.append(row_md(r, _suppressed(group_attrs, prev, curr)))
        prev = curr
    return (
        f"| {' | '.join(cols)} |\n"
        f"|{'|'.join(align_map[f] for f in cols)}|\n"
        f"{''.join(body)}"
    )


def as_html(
    table,
    fields: Any = None,
    formats: dict | None = None,
    groupby: Any = None,
    table_properties: dict | None = None,
    **kwargs: Any,
) -> str:
    """HTML table, byte-identical to the reference renderer
    (littletable.py:4071-4157, checked by differential tests): per-value
    right-justification, centered headers, per-field/per-type
    ``formats``, ``groupby`` suppression, ``table_properties``
    attributes on the <table> tag."""
    cols, rows = _collected(table, fields)
    formats = formats or {}
    field_format_map: dict[str, Any] = {}
    group_attrs: list[str] = []
    if groupby:
        gset = groupby.split() if isinstance(groupby, str) else list(groupby)
        group_attrs = [g for g in gset if g in cols]
    table_modifiers = "".join(
        f' {k}="{v}"' for k, v in (table_properties or {}).items()
    )

    def row_tr(r: list[Any], suppress: set) -> str:
        out = ["<tr>"]
        for i, fld in enumerate(cols):
            align = "left"
            if fld not in suppress:
                v = r[i]
                if isinstance(v, _RIGHT_JUSTIFY_TYPES):
                    align = "right"
                str_v = _cell_str(formats, field_format_map, fld, v)
            else:
                str_v = ""
            out.append(f'<td><div align="{align}">{str_v}</div></td>')
        out.append("</tr>\n")
        return "".join(out)

    body: list[str] = []
    prev = ("",) * len(group_attrs)
    for r in rows:
        curr = tuple(r[cols.index(a)] for a in group_attrs)
        body.append(row_tr(r, _suppressed(group_attrs, prev, curr)))
        prev = curr
    headers = "".join(f'<th><div align="center">{fld}</div></th>' for fld in cols)
    return (
        f"<table{table_modifiers}>\n<thead>\n"
        f"<tr>{headers}</tr>\n"
        "</thead>\n<tbody>"
        f"{''.join(body)}"
        "</tbody>\n</table>"
    )


def present(
    table,
    fields: Any = None,
    limit: int | None = None,
    groupby: Any = None,
    **kwargs: Any,
) -> None:
    """Console rendering; uses rich when available (the reference's
    presentation backend), plain aligned text otherwise. ``groupby``
    blanks repeated leading values (littletable.py:4038-4069)."""
    cols, rows = _collected(table, fields)
    if limit is not None:
        rows = rows[:limit]
    if groupby:
        gcols = groupby.split() if isinstance(groupby, str) else list(groupby)
        prev: dict[int, Any] = {}
        suppressed = []
        for r in rows:
            out_row = list(r)
            for i, c in enumerate(cols):
                if c in gcols and prev.get(i) == r[i]:
                    out_row[i] = ""
                prev[i] = r[i]
            suppressed.append(out_row)
        rows = suppressed
    try:
        from rich.console import Console
        from rich.table import Table as RichTable

        rt = RichTable(title=table.table_name or None)
        numeric = []
        for i in range(len(cols)):
            vals = [r[i] for r in rows if r[i] is not None]
            numeric.append(bool(vals) and all(_is_numeric(v) for v in vals))
        for c, num in zip(cols, numeric):
            rt.add_column(c, justify="right" if num else "left")
        for r in rows:
            rt.add_row(*[_fmt_cell(v) for v in r])
        Console().print(rt)
        return
    except ImportError:
        pass
    widths = [
        max(len(c), *(len(_fmt_cell(r[i])) for r in rows)) if rows else len(c)
        for i, c in enumerate(cols)
    ]
    print("  ".join(c.ljust(w) for c, w in zip(cols, widths)))
    print("  ".join("-" * w for w in widths))
    for r in rows:
        print("  ".join(_fmt_cell(v).ljust(w) for v, w in zip(r, widths)))


def formatted_table(table, fields: Iterable[str], field_formats: dict[str, str]):
    """Table of stringified columns (littletable.py:2317-2343)."""
    from .table import Table

    sel = list(fields) if fields else table.fields
    cols = []
    for c in sel:
        fmt = field_formats.get(c)
        if fmt:
            # accept python format specs ("{:.2f}", "{}") or printf ("%.2f")
            printf = fmt.replace("{}", "%s").replace("{:", "%").replace("}", "")
            if "%" not in printf:
                printf = "%s"
            cols.append(F.format_string(printf, F.col(c)).alias(c))
        else:
            cols.append(F.col(c).cast("string").alias(c))
    df = table._require_df()
    # the internal columns carry the order (and any sort key) over
    out = df.select(*cols, *[c for c in df.columns if c not in table.fields])
    return table._derive(out)
