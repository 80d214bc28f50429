"""Correctness checks, run outside the timed window.

Reads are checked by row count and a per-column checksum against the
generator's table (and, for the first rows, against pandas where pandas
can read the format). Dedup results are recomputed on the driver.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from fixtures import LABELS, as_written


class WrongResult(AssertionError):
    pass


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def checksum_df(df):
    """One-row DataFrame: the row count and, per column, the sum and
    the non-null count. Strings sum their lengths, dates their day
    numbers."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    aggs = [F.count(F.lit(1)).alias("__rows")]
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, T.StringType):
            v = F.length(c)
        elif isinstance(f.dataType, T.DateType):
            v = F.datediff(c, F.lit("1970-01-01").cast("date"))
        else:
            v = c
        aggs += [F.sum(v.cast("double")).alias(f"s_{f.name.lower()}"), F.count(c).alias(f"n_{f.name.lower()}")]
    return df.agg(*aggs)


def arrow_checksum(table: pa.Table, string_cols: set[str]) -> dict:
    """The checksum ``checksum_df`` must return for ``table``;
    ``string_cols`` are the labelled integer columns the reader returns
    as label strings."""
    out = {"__rows": (table.num_rows, table.num_rows)}
    for name in table.column_names:
        col = table[name]
        if name in string_cols and name in LABELS:
            labels = LABELS[name]
            keys = pa.array(sorted(labels), type=pa.int64())
            idx = pc.index_in(col.cast(pa.int64()), value_set=keys)
            col = pc.take(pa.array([labels[k] for k in sorted(labels)]), idx)
        if pa.types.is_string(col.type):
            v = pc.utf8_length(col)
        elif pa.types.is_date32(col.type):
            v = col.cast(pa.int32())
        else:
            v = col
        s = pc.sum(v.cast(pa.float64())).as_py() or 0.0
        out[name] = (s, len(col) - col.null_count)
    return out


def expect_table(df, table: pa.Table, ext: str) -> None:
    """Raise WrongResult unless ``df`` reads back ``table`` as written
    to format ``ext``: same row count, and per column the same non-null
    count and value sum."""
    from pyspark.sql import types as T

    table = as_written(table, ext)
    strings = {f.name.lower() for f in df.schema.fields if isinstance(f.dataType, T.StringType)}
    want = arrow_checksum(table.select([f.name.lower() for f in df.schema.fields]), strings)
    row = checksum_df(df).collect()[0].asDict()
    for k, (s, n) in want.items():
        gs = row["__rows"] if k == "__rows" else row[f"s_{k}"] or 0.0
        gn = row["__rows"] if k == "__rows" else row[f"n_{k}"]
        if gn != n or not _close(gs, s):
            raise WrongResult(f"column {k}: read (sum={gs}, n={gn}), generated (sum={s}, n={n})")


def filtered(table: pa.Table, col: str, lo: float) -> pa.Table:
    return table.filter(pc.fill_null(pc.greater(table[col], lo), False))


def expect_pandas(path: str, table: pa.Table, rows: int = 1_000) -> None:
    """Cross-check the first ``rows`` of a file with pandas' own reader
    (Stata, SAS7BDAT and XPORT; pandas has no SPSS reader here)."""
    import pandas as pd

    ext = path.rsplit(".", 1)[-1]
    if ext == "dta":
        with pd.read_stata(path, iterator=True, convert_categoricals=False) as r:
            got = r.read(rows)
    else:
        with pd.read_sas(path, format="xport" if ext == "xpt" else "sas7bdat",
                         chunksize=rows, encoding="utf-8") as r:
            got = next(iter(r))
    got = got.rename(columns=str.lower)
    want = table.slice(0, rows)
    for name in ("id", "x1", "x6"):
        a = np.asarray(got[name], dtype=np.float64)
        b = want[name].to_numpy(zero_copy_only=False).astype(np.float64)
        # pandas decodes an XPORT zero as 16**-65
        if not np.allclose(a, b, rtol=1e-14, atol=1e-70, equal_nan=True):
            raise WrongResult(f"pandas disagrees with the generator on {path!r} column {name}")
    g = [str(x).rstrip() for x in got["s60"]]
    if g != want["s60"].to_pylist():
        raise WrongResult(f"pandas disagrees with the generator on {path!r} column s60")


def shingles(text: str, n: int = 3) -> set[str]:
    w = text.lower().split(" ")
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)} if len(w) >= n else set()


def expect_minhash(rows, texts: dict[int, str], exact: list[tuple[int, int]], threshold: float, max_df: int) -> None:
    """Every planted exact duplicate is returned, and every returned
    pair's Jaccard, recomputed on the driver over the df-capped
    shingle sets, matches and meets ``threshold``."""
    sets = {d: shingles(t) for d, t in texts.items()}
    df: dict[str, int] = {}
    for s in sets.values():
        for sh in s:
            df[sh] = df.get(sh, 0) + 1
    sets = {d: {sh for sh in s if df[sh] <= max_df} for d, s in sets.items()}
    got = {(r["a_id"], r["b_id"]): r["jaccard"] for r in rows}
    for (a, b), j in got.items():
        inter = len(sets[a] & sets[b])
        true = inter / (len(sets[a]) + len(sets[b]) - inter)
        if j < threshold or not _close(j, true):
            raise WrongResult(f"minhash pair ({a}, {b}) jaccard {j}, recomputed {true}")
    _expect_exact(got, texts, exact, "minhash")


def expect_srp(rows, vecs: np.ndarray, texts: dict[int, str], exact: list[tuple[int, int]], threshold: float) -> None:
    got = {(r["a_id"], r["b_id"]): r["sim"] for r in rows}
    for (a, b), sim in got.items():
        va, vb = vecs[a], vecs[b]
        cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        if sim < threshold or abs(sim - cos) > 1e-5:
            raise WrongResult(f"srp pair ({a}, {b}) sim {sim}, recomputed {cos}")
    _expect_exact(got, texts, exact, "srp")


def _expect_exact(got: dict, texts: dict[int, str], exact, what: str) -> None:
    """Every pair of documents that share a planted exact copy's text."""
    groups: dict[str, list[int]] = {}
    for src, _ in exact:
        groups.setdefault(texts[src], [])
    for d, t in texts.items():
        if t in groups:
            groups[t].append(d)
    for ids in groups.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                if (a, b) not in got:
                    raise WrongResult(f"{what} missed planted exact duplicate ({a}, {b})")


def expect_quality(rows, texts: dict[int, str], stopwords) -> None:
    if len(rows) != len(texts):
        raise WrongResult(f"quality_score returned {len(rows)} rows for {len(texts)} docs")
    stop = set(stopwords)
    for r in rows:
        w = texts[r["doc_id"]].lower().split(" ")
        nt = len(w)
        q = 0.5 * (len(set(w)) / nt) + 0.3 * (sum(x in stop for x in w) / nt) + 0.2 * min(1.0, nt / 200.0)
        if not math.isclose(r["quality"], q, rel_tol=1e-12, abs_tol=1e-12):
            raise WrongResult(f"quality of doc {r['doc_id']}: {r['quality']}, recomputed {q}")
