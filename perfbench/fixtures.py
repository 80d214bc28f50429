"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same tables, files and planted duplicates. Files are written with the
package's own single-shot writers, so fixture generation is part of the
measured set-up (``setup_s``) and its per-writer times feed the
``formats.*`` layer metrics.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa


@dataclass(frozen=True)
class Sizes:
    # read_large: rows per file; the RLE .sas7bdat gets a quarter of
    # them because its encoder is pure Python (see NOTES.md)
    large_rows: int = 50_000
    # read_corpus: directories per kind, files per directory, rows per
    # file; the .dta and waves directories hold 72 .dta files together,
    # more than the 64-entry header cache of the Stata parser
    corpus_dirs: int = 3
    corpus_files: int = 12
    corpus_rows: int = 4_000
    # dedup_docs: documents, then planted exact and near copies
    docs_base: int = 480
    docs_exact: int = 72
    docs_near: int = 48


FULL = Sizes()
# a miniature of every input: running its ops starts the Python workers
# and loads every code path while the full inputs are being written
SMALL = Sizes(500, 1, 3, 100, 60, 9, 6)
EMBED_DIM = 64

LABELS = {
    "lab_a": {i: f"grade {i}" for i in range(1, 6)},
    "lab_b": {i: f"month {i:02d}" for i in range(1, 13)},
    "lab_c": {0: "no", 1: "yes", 2: "refused"},
}
FILTER_COL, FILTER_MIN = "x1", 1.0
SUBSET_COLS = ["id", "x1"]

_ALPHA = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def _pool(rng, size: int, lo: int, hi: int) -> np.ndarray:
    """``size`` random lowercase strings with lengths in [lo, hi]."""
    lens = rng.integers(lo, hi + 1, size)
    chars = _ALPHA[rng.integers(0, 26, size=(size, hi))]
    return np.array([chars[i, : lens[i]].tobytes().decode() for i in range(size)], dtype=object)


def _doubles(rng, n: int, scale: float) -> pa.Array:
    v = rng.normal(size=n) * scale
    v[rng.random(n) < 0.1] = np.nan  # ~10% missing
    return pa.array(v, from_pandas=True)


def large_table(seed: int, n: int, id_base: int = 0) -> pa.Table:
    """16 mixed columns: labelled ints, doubles with ~10% missing,
    dates, 8-byte and 48-60-byte strings."""
    rng = np.random.default_rng(seed)
    cols = {
        "id": pa.array(np.arange(id_base, id_base + n, dtype=np.int32)),
        "lab_a": pa.array(rng.integers(1, 6, n).astype(np.int8)),
        "lab_b": pa.array(rng.integers(1, 13, n).astype(np.int16)),
        "lab_c": pa.array(rng.integers(0, 3, n).astype(np.int8)),
        "n1": pa.array(rng.integers(0, 100_000, n).astype(np.int32)),
    }
    for i in range(1, 7):
        cols[f"x{i}"] = _doubles(rng, n, float(i))
    for name in ("d1", "d2"):
        cols[name] = pa.array(rng.integers(-3_000, 20_000, n).astype(np.int32)).cast(pa.date32())
    for name, (lo, hi) in {"s8a": (8, 8), "s8b": (8, 8), "s60": (48, 60)}.items():
        pool = _pool(rng, 2048, lo, hi)
        cols[name] = pa.array(pool[rng.integers(0, len(pool), n)], type=pa.string())
    return pa.table(cols)


def as_written(table: pa.Table, ext: str) -> pa.Table:
    """The table a format can hold: XPORT has no date type, so dates
    travel as day counts."""
    if ext != "xpt":
        return table
    for name in ("d1", "d2"):
        if name in table.column_names:
            i = table.column_names.index(name)
            table = table.set_column(i, name, table[name].cast(pa.int32()))
    return table


def column(name: str, ext: str) -> str:
    """How the reader names a generated column: XPORT v5 names read
    back upper-case."""
    return name.upper() if ext == "xpt" else name


def write_file(table: pa.Table, path: str, compress: str | None = None) -> float:
    """Write ``table`` with the package's single-shot writer for the
    extension of ``path``; returns the seconds spent in the writer."""
    from polars_readstat_rs_spark.formats.sas.bdat_writer import write_sas7bdat
    from polars_readstat_rs_spark.formats.sas.xport import write_xpt
    from polars_readstat_rs_spark.formats.spss.writer import write_sav
    from polars_readstat_rs_spark.formats.stata.writer import write_dta

    ext = path.rsplit(".", 1)[-1]
    table = as_written(table, ext)
    labels = {c: m for c, m in LABELS.items() if c in table.column_names}
    t0 = time.perf_counter()
    if ext == "dta":
        write_dta(table, path, value_labels=labels)
    elif ext == "sav":
        # bytecode compression is the SPSS default
        write_sav(
            table, path, compress=True,
            value_labels={c: {float(k): v for k, v in m.items()} for c, m in labels.items()},
        )
    elif ext == "sas7bdat":
        write_sas7bdat(table, path, compress=compress or False)
    elif ext == "xpt":
        write_xpt(table, path)
    else:
        raise ValueError(f"no writer for {path!r}")
    return time.perf_counter() - t0


def write_large(seed: int, out: str, sizes: Sizes) -> dict:
    """read_large inputs: one file per format, plus an RLE .sas7bdat."""
    table = large_table(seed, sizes.large_rows)
    specs = [
        ("dta", "large.dta", table, None),
        ("sav", "large.sav", table, None),
        ("sas7bdat", "large.sas7bdat", table, None),
        ("xpt", "large.xpt", table, None),
        ("sas7bdat_rle", "large_rle.sas7bdat", table.slice(0, sizes.large_rows // 4), "RLE"),
    ]
    files = {}
    for label, name, t, compress in specs:
        path = os.path.join(out, name)
        files[label] = {"path": path, "table": t, "write_s": write_file(t, path, compress)}
    return files


def write_corpus(seed: int, out: str, sizes: Sizes) -> dict:
    """read_corpus inputs: ``corpus_dirs`` directories each of .dta,
    .sav and "waves" .dta, ``corpus_files`` files per directory. In a waves
    directory, file j adds column w{k} for every k <= j // 2, so only a
    by-name union reads them as one table."""
    dirs = {}
    file_no = 0
    for kind in ("dta", "sav", "waves"):
        for d in range(sizes.corpus_dirs):
            path = os.path.join(out, f"{kind}_{d}")
            os.makedirs(path)
            tables, write_s = [], 0.0
            for j in range(sizes.corpus_files):
                t = large_table(seed * 1_000 + file_no, sizes.corpus_rows, file_no * sizes.corpus_rows)
                t = t.select(["id", "lab_a", "n1", "x1", "x2", "d1", "s8a", "s60"])
                if kind == "waves":
                    rng = np.random.default_rng(seed * 7_919 + file_no)
                    for k in range(1, j // 2 + 1):
                        t = t.append_column(f"w{k}", _doubles(rng, sizes.corpus_rows, float(k)))
                ext = "sav" if kind == "sav" else "dta"
                write_s += write_file(t, os.path.join(path, f"part_{j:03d}.{ext}"))
                tables.append(t)
                file_no += 1
            dirs[f"{kind}_{d}"] = {"path": path, "kind": kind, "tables": tables, "write_s": write_s}
    return dirs


def docs_table(seed: int, sizes: Sizes) -> tuple[pa.Table, list[tuple[int, int]]]:
    """Documents with planted exact and near duplicates, plus a 64-dim
    embedding as numeric columns e00..e63. Returns the table and the
    planted exact-duplicate (source, copy) id pairs."""
    rng = np.random.default_rng(seed)
    vocab = np.concatenate(
        [_pool(rng, 6_000, 3, 9), np.array(["the", "a", "of", "and", "to"], dtype=object)]
    )
    # stopwords take ~15% of tokens
    p = np.full(len(vocab), 0.85 / 6_000)
    p[-5:] = 0.03
    texts = [" ".join(vocab[rng.choice(len(vocab), rng.integers(40, 81), p=p)]) for _ in range(sizes.docs_base)]
    vecs = [rng.normal(size=EMBED_DIM) for _ in range(sizes.docs_base)]
    exact = []
    for s in rng.choice(sizes.docs_base, sizes.docs_exact, replace=False):
        exact.append((int(s), len(texts)))
        texts.append(texts[s])
        vecs.append(vecs[s])
    for s in rng.choice(sizes.docs_base, sizes.docs_near, replace=False):
        words = texts[s].split(" ")
        for k in rng.choice(len(words), 3, replace=False):
            words[k] = vocab[rng.integers(0, 6_000)]
        texts.append(" ".join(words))
        vecs.append(vecs[s] + rng.normal(size=EMBED_DIM) * 0.05)
    vecs = np.array(vecs)
    cols = {"doc_id": pa.array(np.arange(len(texts), dtype=np.int32)), "text": pa.array(texts)}
    for j in range(EMBED_DIM):
        cols[f"e{j:02d}"] = pa.array(vecs[:, j])
    return pa.table(cols), exact


def write_docs(seed: int, out: str, sizes: Sizes) -> dict:
    table, exact = docs_table(seed, sizes)
    path = os.path.join(out, "docs.dta")
    return {"path": path, "table": table, "exact": exact, "write_s": write_file(table, path)}
