"""The benchmark workloads: inputs, the op round, and its checks.

Each workload function writes its seeded inputs under ``out`` and
returns a ``Workload``: the ops of one round (the runner repeats whole
rounds), the scan targets the traced run decodes in-process, and the
tables its writer-phase measurement re-encodes.
"""

from __future__ import annotations

import itertools
import os
from dataclasses import dataclass, field

import pyarrow as pa

import checks
import fixtures
from harness import Op


@dataclass
class Target:
    """A scan input: one file or one directory, with its reader
    options, its row count and its files."""

    label: str
    fmt: str
    options: dict
    rows: int
    files: list[str]


@dataclass
class Workload:
    name: str
    ops: list[Op]
    targets: list[Target]
    tables: dict[str, pa.Table]  # file extension -> a table to re-encode
    write_s: dict[str, float]  # single-shot writer seconds by input label
    written: list[tuple[str, int]]  # (fixture path, rows)
    # one round's wall seconds on a 4-core host at the commit that
    # added the benchmark; turns --seconds into a fixed round count
    round_s: float
    unit: str = "rows"
    detail: dict = field(default_factory=dict)


def _ext(label: str) -> str:
    return label.split("_")[0]


def _large_ops(spark, label: str, path: str, table: pa.Table) -> list[Op]:
    """full, subset and filter reads of one file."""
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark import api

    ext, n = _ext(label), table.num_rows
    cols = [fixtures.column(c, ext) for c in fixtures.SUBSET_COLS]
    kept = checks.filtered(table, fixtures.FILTER_COL, fixtures.FILTER_MIN)

    def full():
        return api.readstat_scan(spark, path)

    def subset():
        return api.readstat_select(spark, path, cols)

    def pred(df):
        return df.where(F.col(fixtures.column(fixtures.FILTER_COL, ext)) > fixtures.FILTER_MIN)

    def check_full():
        if ext != "sav":
            checks.expect_pandas(path, table)
        checks.expect_table(full(), table, ext)

    return [
        Op("full", label, n, full, check_full),
        Op("subset", label, n, subset,
           lambda: checks.expect_table(subset(), table.select(fixtures.SUBSET_COLS), ext)),
        Op("filter", label, n, full, lambda: checks.expect_table(pred(full()), kept, ext), then=pred),
    ]


def read_large(spark, out: str, seed: int, sizes: fixtures.Sizes) -> Workload:
    files = fixtures.write_large(seed, out, sizes)
    ops, targets = [], []
    for label, f in files.items():
        ops += _large_ops(spark, label, f["path"], f["table"])
        targets.append(Target(label, _ext(label), {"path": f["path"]}, f["table"].num_rows, [f["path"]]))
    return Workload(
        "read_large", ops, targets,
        tables={_ext(lb): f["table"] for lb, f in files.items() if lb != "sas7bdat_rle"},
        write_s={lb: f["write_s"] for lb, f in files.items()},
        written=[(f["path"], f["table"].num_rows) for f in files.values()],
        round_s=7.0,
    )


def read_corpus(spark, out: str, seed: int, sizes: fixtures.Sizes) -> Workload:
    dirs = fixtures.write_corpus(seed, out, sizes)

    def load(path, **opts):
        r = spark.read.format("readstat")
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load(path)

    by_kind: dict[str, list] = {}
    for d in dirs.values():
        by_kind.setdefault(d["kind"], []).append(d)
    targets = []
    for kind, ds in by_kind.items():
        for d in ds:
            files = sorted(os.path.join(d["path"], f) for f in os.listdir(d["path"]))
            opts = {"union_by_name": "true"} if kind == "waves" else {}
            targets.append(Target(kind, "sav" if kind == "sav" else "dta",
                                  {"path": d["path"], **opts}, sizes.corpus_rows * len(files), files))
    cols = ",".join(fixtures.SUBSET_COLS)
    n = sizes.corpus_files * sizes.corpus_rows
    ops = []
    # each op scans the next directory of its kind: every op plans
    # ``corpus_files`` files, and the rotation cycles every .dta file of
    # the corpus through the Stata parser's 64-entry header cache, which
    # holds fewer; the check reads the kind's first directory
    for kind, slot, opts, cut in [
        ("dta", "full", {}, None), ("dta", "subset", {"columns": cols}, fixtures.SUBSET_COLS),
        ("sav", "full", {}, None), ("sav", "subset", {"columns": cols}, fixtures.SUBSET_COLS),
        ("waves", "union", {"union_by_name": "true"}, None),
    ]:
        paths = itertools.cycle([d["path"] for d in by_kind[kind]])
        first = by_kind[kind][0]
        table = pa.concat_tables(first["tables"], promote_options="default")
        if cut:
            table = table.select(cut)
        ext = "sav" if kind == "sav" else "dta"
        ops.append(Op(
            slot, kind, n,
            lambda paths=paths, opts=opts: load(next(paths), **opts),
            lambda p=first["path"], opts=opts, t=table, e=ext: checks.expect_table(load(p, **opts), t, e),
        ))
    return Workload(
        "read_corpus", ops, targets,
        tables={"dta": by_kind["dta"][0]["tables"][0], "sav": by_kind["sav"][0]["tables"][0]},
        write_s={label: d["write_s"] for label, d in dirs.items()},
        written=[(os.path.join(d["path"], f), sizes.corpus_rows)
                 for d in dirs.values() for f in os.listdir(d["path"])],
        round_s=9.0,
    )


MINHASH_MIN_JACCARD = 0.5
SRP_MIN_COSINE = 0.9


def dedup_docs(spark, out: str, seed: int, sizes: fixtures.Sizes) -> Workload:
    import numpy as np
    from pyspark.sql import functions as F

    from polars_readstat_rs_spark import api
    from polars_readstat_rs_spark.operators import dedup, similarity, textstats

    f = fixtures.write_docs(seed, out, sizes)
    path, table, exact = f["path"], f["table"], f["exact"]
    n = table.num_rows
    texts = dict(zip(table["doc_id"].to_pylist(), table["text"].to_pylist()))
    emb = [f"e{j:02d}" for j in range(fixtures.EMBED_DIM)]
    vecs = np.column_stack([table[c].to_numpy() for c in emb])
    detail: dict = {}

    def scan():
        return api.readstat_scan(spark, path)

    def minhash(df):
        return dedup.minhash_lsh_pairs(df, "doc_id", "text").where(F.col("jaccard") >= MINHASH_MIN_JACCARD)

    def srp(df):
        e = df.select("doc_id", F.array(*emb).alias("embedding"))
        return similarity.srp_neardup_pairs(e, id_col="doc_id", vec_col="embedding", threshold=SRP_MIN_COSINE)

    def quality(df):
        return textstats.quality_score(df.select("doc_id", "text"))

    def check_minhash():
        rows = minhash(scan()).collect()
        detail["operators.minhash.pairs"] = len(rows)
        checks.expect_minhash(rows, texts, exact, MINHASH_MIN_JACCARD, dedup.MAX_SHINGLE_DF)

    def check_srp():
        rows = srp(scan()).collect()
        detail["operators.srp.pairs"] = len(rows)
        checks.expect_srp(rows, vecs, texts, exact, SRP_MIN_COSINE)

    def check_quality():
        rows = quality(scan()).collect()
        detail["operators.quality.rows"] = len(rows)
        checks.expect_quality(rows, texts, textstats.STOPWORDS)

    ops = [
        Op("minhash", "docs", n, scan, check_minhash, then=minhash),
        Op("srp", "docs", n, scan, check_srp, then=srp),
        Op("quality", "docs", n, scan, check_quality, then=quality),
    ]
    return Workload(
        "dedup_docs", ops, [Target("docs", "dta", {"path": path}, n, [path])],
        tables={"dta": table}, write_s={"dta": f["write_s"]}, written=[(path, n)],
        round_s=7.0, unit="docs", detail=detail,
    )


WORKLOADS = {"read_large": read_large, "read_corpus": read_corpus, "dedup_docs": dedup_docs}
