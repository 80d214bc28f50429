"""Informative-null output modes, shared by every reader through ``formats.Columns``.

Parity target: the reference's ``InformativeNullOpts`` /
``InformativeNullMode`` (/root/reference/src/lib.rs:62-115), schema
rewrite (src/lib.rs:217-278) and per-batch expression application
(src/lib.rs:282-355):

- ``separate`` (reference SeparateColumn): a parallel String column
  ``<col>__missing`` right after the value column holding the
  user-missing indicator ('.a'..'.z' for Stata, '.A'..'.Z'/'._' for SAS
  and XPORT tagged missings,
  the declared-missing value/label for SPSS); null where the value is
  present or system-missing.
- ``struct``: each tracked column becomes
  ``Struct{<col>: dtype, null_indicator: String}`` (src/lib.rs:249-263).
- ``merged``: each tracked column becomes one String column via
  ``coalesce(cast(col, string), indicator)`` (src/lib.rs:322-354).

System missing always stays a plain null with no indicator.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

MODES = ("separate", "struct", "merged")


def normalize_mode(value) -> str | None:
    """Option value -> mode name or None (off). Accepts booleans and the
    legacy truthy strings for the separate-column default."""
    if value is None or value is False:
        return None
    if value is True:
        return "separate"
    s = str(value).strip().lower()
    if s in ("", "0", "false", "no", "none", "off"):
        return None
    if s in ("1", "true", "yes", "indicator", "separate", "separate_column"):
        return "separate"
    if s in MODES:
        return s
    raise ValueError(f"informative_nulls must be one of {MODES} or a boolean, got {value!r}")


def informative_fields(
    name: str, value_type: pa.DataType, mode: str, suffix: str = "__missing"
) -> list[pa.Field]:
    """Schema fields for one tracked column under the given mode.
    ``suffix`` mirrors the reference's SeparateColumn { suffix } (its
    default is "_null"; this repo's long-standing default "__missing"
    is a documented deviation, configurable per scan)."""
    if mode == "separate":
        return [pa.field(name, value_type), pa.field(f"{name}{suffix}", pa.string())]
    if mode == "struct":
        return [
            pa.field(
                name,
                pa.struct([pa.field(name, value_type), pa.field("null_indicator", pa.string())]),
            )
        ]
    return [pa.field(name, pa.string())]  # merged


def _value_as_string(value: pa.Array) -> pa.Array:
    """Deterministic value -> string cast for merged mode: integers
    render without a fractional part, other floats via repr (stable and
    reproducible in the DuckDB oracle)."""
    t = value.type
    if pa.types.is_floating(t):
        vals = np.asarray(value.cast(pa.float64()).fill_null(np.nan), dtype=np.float64)
        valid = np.asarray(value.is_valid()) if value.null_count else np.ones(len(value), bool)
        out = [
            None
            if not ok
            else ("NaN" if x != x else (str(int(x)) if x == int(x) else repr(float(x))))
            for x, ok in zip(vals, valid)
        ]
        return pa.array(out, type=pa.string())
    return pc.cast(value, pa.string())


def combine(
    name: str, value: pa.Array, indicator: pa.Array, mode: str, suffix: str = "__missing"
) -> dict[str, pa.Array]:
    """Assemble the output columns for one tracked (value, indicator).

    Wherever an indicator exists the value becomes null — the reference's
    tagged read variants return (None, offset) when informative nulls are
    on (src/stata/value.rs:230-278), unlike the plain path where Stata/
    SAS tagged missings surface as NaN values."""
    if indicator.null_count < len(indicator):
        value = pc.if_else(pc.is_valid(indicator), pa.scalar(None, value.type), value)
    if mode == "separate":
        return {name: value, f"{name}{suffix}": indicator}
    if mode == "struct":
        struct = pa.StructArray.from_arrays(
            [value, indicator], fields=[pa.field(name, value.type), pa.field("null_indicator", pa.string())]
        )
        return {name: struct}
    merged = pc.coalesce(_value_as_string(value), indicator)
    return {name: merged}
