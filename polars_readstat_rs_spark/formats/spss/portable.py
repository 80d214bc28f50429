"""SPSS Portable (.por) reader + writer.

Beyond-reference surface: the reference engine dispatches only
sas7bdat/sas7bcat/dta/sav/zsav (src/lib.rs:383-394) and has no .por
support at all. This module completes the SPSS family from the publicly
documented format (PSPP developer documentation, "Portable File
Format"): 80-character lines, a 256-byte character translation table
over the "portable character set", base-30 self-delimiting numbers with
power-of-30 exponents, length-prefixed strings, and tagged records
('1'..'7', '8'/'9'/'A'/'B' missing, 'C'/'D' labels, 'E' documents,
'F' data, 'Z' end).

Design notes:
- **Numbers are exact.** Base 30 = 2·3·5 contains the factor 2, so
  every finite binary fraction (every IEEE double) has a finite base-30
  expansion: x = num/2^d (``float.as_integer_ratio``) is written as the
  integer num·15^d with exponent -d (num·15^d / 30^d == num/2^d). The
  reader's fast path inverts this with one exact integer test and one
  power-of-two float division; anything else (e.g. precision-limited
  values written by SPSS itself) falls back to a correctly-rounded
  ``Fraction`` conversion. Roundtrips through this module are therefore
  bitwise for every double, including negative zero and subnormals.
- **Parallelism.** A .por file is a single self-delimiting character
  stream with no record index and no case count in the header, so the
  read is one partition per file (same stance the reference takes for
  compressed .sav, src/spss/polars_output.rs:403-405; multi-file scans
  still parallelize on the file axis). The WRITE is distributed: the
  data section is a pure concatenation of per-case value encodings, so
  executors encode their partitions' cases as ASCII blobs and commit()
  only concatenates, re-wraps to 80-char lines and pads with 'Z'.
- Temporal values use the same epoch as .sav (seconds since
  1582-10-14, shift SPSS_SEC_SHIFT) and the same print-format
  classification (_format_class) — the por format-type code space is
  the sav one.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from fractions import Fraction

from ..._lazy import lazy_import
from ..._metacache import stat_keyed_cache
from .. import Columns, ReadOptions, write_one_section

# numpy/pyarrow are decode-path-only; planning workers (schema/
# partitions) import this module for metadata and must not pay
# their ~140 ms import cost — see _lazy.py
np = lazy_import("numpy", globals(), "np")
pa = lazy_import("pyarrow", globals(), "pa")

from .parser import SEC_PER_DAY, SPSS_SEC_SHIFT, _format_class

_DIGITS = "0123456789ABCDEFGHIJKLMNOPQRST"
_DIGIT_VAL = {c: i for i, c in enumerate(_DIGITS)}

# Portable character set (PSPP developer docs): canonical index ->
# character, for the printable subset this engine reads and writes.
# Indexes 0-63 are control characters, 157-183 and 187+ are symbols
# outside ASCII; untranslatable table positions are filled with '0'
# per the spec.
_CANONICAL: dict[int, str] = {}
for _i in range(10):
    _CANONICAL[64 + _i] = chr(ord("0") + _i)
for _i in range(26):
    _CANONICAL[74 + _i] = chr(ord("A") + _i)
    _CANONICAL[100 + _i] = chr(ord("a") + _i)
_CANONICAL[126] = " "
for _i, _c in enumerate(".<(+|"):
    _CANONICAL[127 + _i] = _c
for _i, _c in enumerate("&[]!$*);^-/"):
    _CANONICAL[132 + _i] = _c
for _i, _c in enumerate(",%_>?`:"):
    _CANONICAL[144 + _i] = _c
for _i, _c in enumerate("#@'=\""):
    _CANONICAL[152 + _i] = _c
for _i, _c in enumerate("{}\\"):
    _CANONICAL[184 + _i] = _c

_LINE = 80


class PorError(ValueError):
    pass


@dataclass
class PorVariable:
    name: str
    width: int  # 0 = numeric, >0 = string width
    fmt_type: int = 5
    fmt_width: int = 8
    fmt_dec: int = 2
    label: str = ""
    value_labels: dict = field(default_factory=dict)
    missing_values: list = field(default_factory=list)
    missing_lo: float | None = None  # v THRU HI lower bound
    missing_hi: float | None = None  # LO THRU v upper bound
    missing_range: tuple | None = None  # (lo, hi)

    @property
    def format_class(self) -> str | None:
        return None if self.width else _format_class(self.fmt_type)


@dataclass
class PorMetadata:
    variables: list[PorVariable]
    precision: int = 11
    weight_var: str | None = None
    product: str = ""
    author: str = ""
    data_pos: int = 0  # stream index where case data begins
    row_count: int = -1  # unknown until the data section is walked

    split_unit = "stream"


# ------------------------------------------------------------ stream


def _logical_stream(raw: bytes) -> str:
    """Join the file's 80-character lines into one logical character
    stream: line terminators carry no meaning, short lines are padded
    to 80 with spaces (PSPP reader behavior), terminator-less files are
    treated as fixed 80-byte records."""
    if b"\n" in raw or b"\r" in raw:
        lines = raw.replace(b"\r\n", b"\n").replace(b"\r", b"\n").split(b"\n")
        parts = [ln[:_LINE].ljust(_LINE) for ln in lines[:-1]]
        if lines[-1]:
            parts.append(lines[-1][:_LINE].ljust(_LINE))
        body = b"".join(parts)
    else:
        body = raw
    return body.decode("latin-1")


def _translate(stream: str) -> str:
    """Apply the 256-byte translation table (stream[200:456]).

    Table position i holds the file's encoding of portable character i.
    The overwhelmingly common case is an ASCII file whose table is the
    identity on the characters we care about — detected and skipped.
    A consistent non-identity table (e.g. EBCDIC) is translated via the
    canonical map; a table missing the structural characters raises."""
    table = stream[200:456]
    if all(table[i] == c for i, c in _CANONICAL.items() if table[i] != "0" or c == "0"):
        return stream  # identity on every declared position
    trans: dict[str, str] = {}
    for idx, ch in _CANONICAL.items():
        b = table[idx]
        if b == "0" and ch != "0":
            continue  # untranslatable filler
        trans.setdefault(b, ch)
    for needed in _DIGITS + "./-+* ":
        if needed not in trans.values():
            raise PorError(f"por translation table lacks {needed!r} — unsupported charset")
    out = stream.translate(str.maketrans({k: v for k, v in trans.items()}))
    return out


class _Cursor:
    __slots__ = ("s", "pos")

    def __init__(self, s: str, pos: int):
        self.s = s
        self.pos = pos

    def _skip(self) -> None:
        s = self.s
        n = len(s)
        p = self.pos
        while p < n and s[p] == " ":
            p += 1
        self.pos = p

    def peek(self) -> str:
        self._skip()
        return self.s[self.pos] if self.pos < len(self.s) else ""

    def tag(self) -> str:
        self._skip()
        if self.pos >= len(self.s):
            return "Z"
        c = self.s[self.pos]
        self.pos += 1
        return c

    def number(self):
        """Parse one base-30 number. Returns a float, or None for the
        system-missing marker '*.'.

        Hot path: the token text up to the '/' terminator is sliced in
        one ``str.index`` call and the digit runs convert via CPython's
        C-level ``int(s, 30)`` (base-30 digits are exactly 0-9 A-T) —
        ~8x faster than a per-character Python loop over a large data
        section."""
        self._skip()
        s = self.s
        p = self.pos
        if p >= len(s):
            raise PorError("unexpected end of por stream in number")
        if s[p] == "*":
            if p + 1 >= len(s) or s[p + 1] != ".":
                raise PorError(f"bad sysmiss marker at {p}")
            self.pos = p + 2
            return None
        try:
            q = s.index("/", p)
        except ValueError:
            raise PorError(f"missing '/' number terminator at {p}") from None
        tok = s[p:q]
        self.pos = q + 1
        return _parse_tok(tok, p)

    def integer(self) -> int:
        v = self.number()
        if v is None or v != int(v):
            raise PorError(f"expected integer, got {v!r}")
        return int(v)

    def string(self) -> str:
        # the character run begins immediately after the length's '/'
        # terminator — no space skipping (strings may start with spaces)
        n = self.integer()
        p = self.pos
        if p + n > len(self.s):
            raise PorError("unexpected end of por stream in string")
        self.pos = p + n
        return self.s[p : p + n]


def _parse_tok(tok: str, at: int) -> float:
    """Convert one number token (sign, base-30 digits, optional '.'
    fraction, optional signed power-of-30 exponent; '/' already
    stripped). Uses int(s, 30), whose digit set for base 30 is exactly
    0-9 a-t case-insensitive — the por digit alphabet."""
    neg = False
    if tok[:1] in "+-":
        neg = tok[0] == "-"
        tok = tok[1:]
    exp = 0
    for i in range(len(tok)):
        if tok[i] in "+-":
            try:
                exp = int(tok[i + 1 :], 30)
            except ValueError:
                raise PorError(f"bad exponent in number at {at}") from None
            if tok[i] == "-":
                exp = -exp
            tok = tok[:i]
            break
    intpart, dot, frac = tok.partition(".")
    digits = intpart + frac
    if not digits:
        raise PorError(f"empty number at {at}")
    try:
        m = int(digits, 30)
    except ValueError:
        raise PorError(f"bad base-30 digits in number at {at}") from None
    if m == 0:
        return -0.0 if neg else 0.0
    return _compose(-m if neg else m, exp - len(frac))


def _compose(m: int, e: int) -> float:
    """Exact-where-possible float for m * 30**e."""
    if e == 0:
        if -(2**53) <= m <= 2**53:
            return float(m)
        return float(Fraction(m))
    if e > 0:
        v = m * 30**e
        if -(2**53) <= v <= 2**53:
            return float(v)
        return float(Fraction(v))
    d = -e
    p15 = 15**d
    if m % p15 == 0:
        num = m // p15
        if -(2**53) <= num <= 2**53 and d <= 1023:
            return num / float(2**d)
    return float(Fraction(m, 30**d))


# ------------------------------------------------------------ reader


def _parse_header(stream: str, path: str) -> tuple[PorMetadata, _Cursor]:
    """(metadata, cursor at the first case); PorError naming ``path`` and
    the stream offset where the header parse stopped."""
    cur = _Cursor(stream, 0)
    try:
        cur.s = _translate(stream)
        if cur.s[456:464] != "SPSSPORT":
            raise PorError("not a por file: missing SPSSPORT signature")
        cur.pos = 464
        return _read_header(cur), cur
    except (PorError, IndexError) as e:
        raise PorError(f"{path!r}: {e} (header, stream offset {cur.pos})") from e


def _read_header(cur: _Cursor) -> PorMetadata:
    version = cur.tag()
    if version != "A":
        raise PorError(f"unsupported por version {version!r}")
    cur.string()  # creation date
    cur.string()  # creation time
    meta = PorMetadata(variables=[])
    value_label_pending: list[tuple[list[str], list[tuple]]] = []
    while True:
        t = cur.tag()
        if t == "F":
            break
        if t == "1":
            meta.product = cur.string()
        elif t == "2":
            meta.author = cur.string()
        elif t == "3":
            cur.string()  # subproduct
        elif t == "4":
            cur.integer()  # variable count (validated after parse)
        elif t == "5":
            meta.precision = cur.integer()
        elif t == "6":
            meta.weight_var = cur.string()
        elif t == "7":
            width = cur.integer()
            name = cur.string()
            pf = (cur.integer(), cur.integer(), cur.integer())
            cur.integer(), cur.integer(), cur.integer()  # write format
            meta.variables.append(
                PorVariable(name, width, fmt_type=pf[0], fmt_width=pf[1], fmt_dec=pf[2])
            )
        elif t == "8":
            v = meta.variables[-1]
            v.missing_values.append(cur.string() if v.width else cur.number())
        elif t == "9":
            meta.variables[-1].missing_hi = cur.number()  # LO THRU v
        elif t == "A":
            meta.variables[-1].missing_lo = cur.number()  # v THRU HI
        elif t == "B":
            meta.variables[-1].missing_range = (cur.number(), cur.number())
        elif t == "C":
            meta.variables[-1].label = cur.string()
        elif t == "D":
            k = cur.integer()
            names = [cur.string() for _ in range(k)]
            by_name = {v.name: v for v in meta.variables}
            is_str = bool(by_name[names[0]].width) if names and names[0] in by_name else False
            n = cur.integer()
            pairs = []
            for _ in range(n):
                val = cur.string() if is_str else cur.number()
                pairs.append((val, cur.string()))
            value_label_pending.append((names, pairs))
        elif t == "E":
            for _ in range(cur.integer()):
                cur.string()
        elif t == "Z":
            raise PorError("por file has no data record")
        else:
            raise PorError(f"unknown por record tag {t!r} at {cur.pos}")
    for names, pairs in value_label_pending:
        by_name = {v.name: v for v in meta.variables}
        for nm in names:
            if nm in by_name:
                by_name[nm].value_labels.update(dict(pairs))
    meta.data_pos = cur.pos
    return meta


@stat_keyed_cache
def read_metadata(path: str) -> PorMetadata:
    with open(path, "rb") as f:
        raw = f.read()
    meta, _ = _parse_header(_logical_stream(raw), path)
    return meta


def _field(v: PorVariable, opts: ReadOptions):
    if v.width or (opts.value_labels_as_strings and v.value_labels):
        t = pa.string()
    elif v.format_class == "date":
        t = pa.date32()
    elif v.format_class == "datetime":
        t = pa.timestamp("us")
    elif v.format_class == "time":
        t = pa.int64()
    else:
        t = pa.float64()
    return pa.field(v.name, t)


def _columns(meta: PorMetadata, opts: ReadOptions, columns: list[str] | None) -> Columns:
    if opts.null_mode():
        # fail loudly rather than silently drop the option
        raise PorError(".por reader does not support informative_nulls")
    return Columns(meta.variables, columns, opts, lambda v: _field(v, opts))


def arrow_schema(meta: PorMetadata, opts: ReadOptions, columns: list[str] | None):
    return _columns(meta, opts, columns).schema


def _is_user_missing(v: PorVariable, x: float) -> bool:
    for mv in v.missing_values:
        if x == mv:
            return True
    if v.missing_hi is not None and x <= v.missing_hi:
        return True
    if v.missing_lo is not None and x >= v.missing_lo:
        return True
    if v.missing_range is not None and v.missing_range[0] <= x <= v.missing_range[1]:
        return True
    return False


def read_table(
    path: str,
    opts: ReadOptions | None = None,
    columns: list[str] | None = None,
    offset: int = 0,
    limit: int = -1,
) -> pa.Table:
    """Parse the whole file (one pass — .por has no random access) and
    return the requested row/column slice as an Arrow table."""
    opts = opts or ReadOptions()
    with open(path, "rb") as f:
        raw = f.read()
    meta, cur = _parse_header(_logical_stream(raw), path)
    assembly = _columns(meta, opts, columns)
    nvars = len(meta.variables)
    cells: list[list] = [[] for _ in range(nvars)]
    nrows = 0
    try:
        while True:
            c = cur.peek()
            if c == "Z":
                break
            if c == "":
                # every case ends on a token boundary, so a cut inside the
                # last case's padded string would otherwise read short
                raise PorError("end of stream before the 'Z' end-of-data marker")
            if limit >= 0 and nrows >= offset + limit:
                break
            keep = nrows >= offset
            for i, v in enumerate(meta.variables):
                val = cur.string() if v.width else cur.number()
                if keep:
                    cells[i].append(val)
            nrows += 1
    except PorError as e:
        raise PorError(f"{path!r}: {e} (case {nrows + 1}, stream offset {cur.pos})") from e
    index = {v.name: i for i, v in enumerate(meta.variables)}
    return pa.Table.from_batches([assembly.batch(
        [cells[index[v.name]] for v in assembly.items], max(0, nrows - offset), offset,
        lambda col, v: _decode(col, v, opts),
    )])


def _decode(col: list, v: PorVariable, opts: ReadOptions) -> pa.Array:
    """One variable's parsed cells (str, float or None) -> Arrow."""
    if v.width:
        out = []
        for s in col:
            s = s.rstrip(" ")
            if opts.missing_string_as_null and s == "":
                out.append(None)
            elif opts.user_missing_as_null and s in v.missing_values:
                out.append(None)
            else:
                out.append(s)
        return pa.array(out, type=pa.string())
    vals = np.array([np.nan if x is None else x for x in col], dtype=np.float64)
    mask = np.isnan(vals)
    if opts.user_missing_as_null and (
        v.missing_values or v.missing_hi is not None or v.missing_lo is not None or v.missing_range
    ):
        for j, x in enumerate(col):
            if x is not None and _is_user_missing(v, x):
                mask[j] = True
    if opts.value_labels_as_strings and v.value_labels:
        out = []
        for j, x in enumerate(col):
            if mask[j]:
                out.append(None)
            else:
                lab = v.value_labels.get(x)
                out.append(lab if lab is not None else _format_num(x))
        return pa.array(out, type=pa.string())
    if v.format_class == "date":
        secs = np.trunc(np.where(mask, 0, vals)).astype(np.int64) - SPSS_SEC_SHIFT
        days = (np.abs(secs) // SEC_PER_DAY) * np.sign(secs)
        return pa.array(days.astype(np.int32), type=pa.date32(), mask=mask)
    if v.format_class == "datetime":
        us = (np.trunc(np.where(mask, 0, vals)).astype(np.int64) - SPSS_SEC_SHIFT) * 1_000_000
        return pa.array(us, type=pa.timestamp("us"), mask=mask)
    if v.format_class == "time":
        ns = np.trunc(np.where(mask, 0, vals)).astype(np.int64) * 1_000_000_000
        return pa.array(ns, mask=mask)
    return pa.array(vals, mask=mask)


def read_partition(
    path: str,
    start: int,
    count: int,
    columns: list[str] | None,
    opts: ReadOptions | None = None,
    batch_size: int = 65536,
):
    """Arrow record batches for rows [start, start+count), or every row
    from ``start`` when ``count`` is -1 (the header has no case count)."""
    yield from read_table(path, opts, columns, offset=start, limit=count).to_batches(batch_size)


def _format_num(x: float) -> str:
    """Unlabeled value under value_labels_as_strings — decimal text,
    integers without a trailing .0 (mirrors the sav reader's
    _labeled_numeric fallback)."""
    if x == int(x) and abs(x) < 2**53:
        return str(int(x))
    return repr(x)


# ------------------------------------------------------------ writer


def _enc_int(n: int) -> str:
    if n < 0:
        return "-" + _enc_int(-n)
    if n == 0:
        return "0/"
    digs = []
    while n:
        n, r = divmod(n, 30)
        digs.append(_DIGITS[r])
    return "".join(reversed(digs)) + "/"


def _enc_base30(n: int) -> str:
    if n == 0:
        return "0"
    digs = []
    while n:
        n, r = divmod(n, 30)
        digs.append(_DIGITS[r])
    return "".join(reversed(digs))


def _enc_num(x) -> str:
    """Exact base-30 encoding of a double (see module docstring)."""
    if x is None:
        return "*."
    x = float(x)
    if np.isnan(x):
        return "*."
    if np.isinf(x):
        # por has no infinity representation; write as missing
        return "*."
    num, den = x.as_integer_ratio()
    sign = "-" if num < 0 or (num == 0 and np.copysign(1.0, x) < 0) else ""
    num = abs(num)
    if den == 1:
        return f"{sign}{_enc_base30(num)}/"
    d = den.bit_length() - 1  # den == 2**d
    mantissa = num * 15**d
    # strip factors of 30 into the exponent to shorten the digit string
    e = -d
    while mantissa and mantissa % 30 == 0:
        mantissa //= 30
        e += 1
    if e == 0:
        return f"{sign}{_enc_base30(mantissa)}/"
    esign = "-" if e < 0 else "+"
    return f"{sign}{_enc_base30(mantissa)}{esign}{_enc_base30(abs(e))}/"


def _enc_str(s: str) -> str:
    s = "".join(c if c in _ASCII_OK else "?" for c in s)
    return _enc_int(len(s)) + s


_ASCII_OK = set(_CANONICAL.values())

_SPLASH = ("ASCII SPSS PORT FILE" + " " * 20) * 5
_FIXED_DATE, _FIXED_TIME = "19960723", "120000"  # deterministic output


def _sanitize_names(names: list[str]) -> list[str]:
    """8-char por identifiers; case is PRESERVED (classic SPSS writes
    uppercase .por names, but mixed case reads fine everywhere and
    preserving it keeps engine roundtrips name-stable)."""
    out, seen = [], set()
    for nm in names:
        s = "".join(ch if ch.isalnum() or ch in "@#$_." else "_" for ch in nm)[:8]
        if not s or not (s[0].isalpha() or s[0] in "@#$"):
            s = ("V" + s)[:8]
        base = s
        k = 1
        while s in seen:
            suf = str(k)
            s = base[: 8 - len(suf)] + suf
            k += 1
        seen.add(s)
        out.append(s)
    return out


def _var_of_field(f: pa.Field, data_width: int) -> PorVariable:
    t = f.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return PorVariable(f.name, max(1, data_width), fmt_type=1, fmt_width=max(1, data_width), fmt_dec=0)
    if pa.types.is_date(t):
        return PorVariable(f.name, 0, fmt_type=20, fmt_width=11, fmt_dec=0)
    if pa.types.is_timestamp(t):
        return PorVariable(f.name, 0, fmt_type=22, fmt_width=20, fmt_dec=0)
    if pa.types.is_integer(t) or pa.types.is_boolean(t):
        return PorVariable(f.name, 0, fmt_type=5, fmt_width=8, fmt_dec=0)
    return PorVariable(f.name, 0, fmt_type=5, fmt_width=8, fmt_dec=2)


def encode_cases(table: pa.Table) -> str:
    """Encode a table's rows as the concatenated case-data character
    stream (no header) — the executor half of the distributed write."""
    cols = []
    for i, f in enumerate(table.schema):
        c = table.column(i)
        t = f.type
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            cols.append([None if v is None else str(v) for v in c.to_pylist()])
        elif pa.types.is_date(t):
            cols.append(
                [
                    None if v is None else float(v.toordinal() - _GREG_ORD) * 86400.0
                    for v in c.to_pylist()
                ]
            )
        elif pa.types.is_timestamp(t):
            vals = c.cast(pa.timestamp("us")).to_pylist()
            cols.append(
                [
                    None
                    if v is None
                    else (v.toordinal() - _GREG_ORD) * 86400.0
                    + v.hour * 3600
                    + v.minute * 60
                    + v.second
                    + v.microsecond / 1e6
                    for v in vals
                ]
            )
        elif pa.types.is_boolean(t):
            cols.append([None if v is None else float(v) for v in c.to_pylist()])
        else:
            cols.append([None if v is None else float(v) for v in c.to_pylist()])
    parts = []
    for r in range(table.num_rows):
        for j, f in enumerate(table.schema):
            v = cols[j][r]
            if pa.types.is_string(f.type) or pa.types.is_large_string(f.type):
                parts.append(_enc_str(v if v is not None else ""))
            else:
                parts.append(_enc_num(v))
    return "".join(parts)


_GREG_ORD = 577735  # date(1582, 10, 14).toordinal() — the SPSS epoch


def write_header(
    variables: list[PorVariable],
    variable_labels: dict[str, str] | None = None,
    value_labels: dict[str, dict] | None = None,
) -> str:
    out = [
        _SPLASH,
        "".join(_CANONICAL.get(i, "0") for i in range(256)),
        "SPSSPORT",
        "A",
        _enc_str(_FIXED_DATE),
        _enc_str(_FIXED_TIME),
        "1",
        _enc_str("polars_readstat_rs_spark por writer"),
        "4",
        _enc_int(len(variables)),
        "5",
        _enc_int(11),
    ]
    shorts = _sanitize_names([v.name for v in variables])
    for v, short in zip(variables, shorts):
        out += [
            "7",
            _enc_int(v.width),
            _enc_str(short),
            _enc_int(v.fmt_type),
            _enc_int(v.fmt_width),
            _enc_int(v.fmt_dec),
            _enc_int(v.fmt_type),
            _enc_int(v.fmt_width),
            _enc_int(v.fmt_dec),
        ]
        lab = (variable_labels or {}).get(v.name, "")
        if lab:
            out += ["C", _enc_str(lab[:255])]
    for v, short in zip(variables, shorts):
        labs = (value_labels or {}).get(v.name)
        if labs:
            out += ["D", _enc_int(1), _enc_str(short), _enc_int(len(labs))]
            for val, text in labs.items():
                out.append(_enc_str(str(val)) if v.width else _enc_num(float(val)))
                out.append(_enc_str(str(text)))
    out.append("F")
    return "".join(out)


def _lines(s: str) -> bytes:
    """``s`` (a whole number of lines long) as 80-character lines."""
    return "".join(s[i : i + _LINE] + "\n" for i in range(0, len(s), _LINE)).encode("ascii")


def _wrap(stream: str) -> bytes:
    # at least one 'Z': the end-of-data marker, then padding
    return _lines(stream + "Z" * (_LINE - len(stream) % _LINE))


def spill_por_partition(batches, blob_path: str) -> list[dict]:
    """Executor side of the distributed write: append every batch's case
    stream to ``blob_path``. Returns ``[widths]`` (max string length per
    column, which the header needs) or ``[]`` for an empty partition."""
    widths: dict[str, int] = {}
    nrows = 0
    with open(blob_path, "w", encoding="ascii") as f:
        for batch in batches:
            t = pa.Table.from_batches([batch])
            if not t.num_rows:
                continue
            for i, fld in enumerate(t.schema):
                if pa.types.is_string(fld.type) or pa.types.is_large_string(fld.type):
                    col = t.column(i).to_pylist()
                    w = max([len(str(v)) for v in col if v is not None] or [0])
                    widths[fld.name] = max(widths.get(fld.name, 0), w)
            f.write(encode_cases(t))
            nrows += t.num_rows
    return [widths] if nrows else []


def assemble_por_parts(
    path: str,
    schema: pa.Schema,
    parts: list[tuple[str, list[dict]]],
    variable_labels: dict[str, str] | None = None,
    value_labels: dict[str, dict] | None = None,
) -> None:
    """Driver side of the distributed write: header from ``schema`` and
    the partitions' string widths, then every case blob streamed through
    the 80-character line re-wrapper — O(1) memory in the data size."""
    widths: dict[str, int] = {}
    for _, sections in parts:
        for k, v in sections[0].items():
            widths[k] = max(widths.get(k, 0), v)
    variables = [_var_of_field(f, widths.get(f.name, 1)) for f in schema]
    header = write_header(variables, variable_labels, value_labels)
    carry = ""
    with open(path, "wb") as out:

        def emit(chunk: str) -> None:
            # whole lines by offset; only the short remainder carries
            nonlocal carry
            carry += chunk
            cut = len(carry) - len(carry) % _LINE
            out.write(_lines(carry[:cut]))
            carry = carry[cut:]

        emit(header)
        for blob, _ in parts:
            with open(blob, encoding="ascii") as f:
                while True:
                    chunk = f.read(1 << 20)
                    if not chunk:
                        break
                    emit(chunk)
        out.write(_wrap(carry))


def write_por(
    table,
    path: str,
    variable_labels: dict[str, str] | None = None,
    value_labels: dict[str, dict] | None = None,
) -> None:
    """Write an Arrow table (or Spark/pandas DataFrame) as .por: one
    section through ``spill_por_partition`` + ``assemble_por_parts``."""
    write_one_section(
        table, path, spill_por_partition,
        lambda target, parts, schema: assemble_por_parts(
            target, schema, parts, variable_labels, value_labels
        ),
    )
