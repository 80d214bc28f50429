"""Bulk readstat -> parquet converter: the "move my statistical-file
corpus onto the lake" utility a reference user runs once before
switching their queries to Spark.

For every .sas7bdat/.dta/.sav/.zsav/.xpt/.por under the input path:
  <out>/<relative>.parquet           distributed columnar data
  <out>/<relative>.meta.json         full dictionary metadata sidecar
                                     (labels, formats, missing rules —
                                     api.readstat_metadata_json, field-
                                     for-field with the reference's
                                     metadata_json exports)

Scale notes: each file converts as one Spark write job using the
reader's own row-range partitions (page-index for SAS, byte-seek for
Stata, checkpoint/zlib-block splits for compressed SPSS), so one big
file parallelizes across the cluster; many small files parallelize on
the file axis via the multi-file scan. Decode options (value labels,
informative nulls, catalogs) are plain CLI flags.

Usage:
  python tools/convert.py INPUT_DIR OUTPUT_DIR [--labels] [--catalog C]
                          [--coalesce N] [--ext sas7bdat,dta,...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from polars_readstat_rs_spark.formats import EXTENSIONS  # noqa: E402

# every readstat data extension; .sas7bcat catalogs hold value labels,
# not rows (pass one with --catalog instead)
SUPPORTED = tuple(ext for ext in EXTENSIONS if ext != "sas7bcat")


def convert_tree(
    spark,
    src: str,
    dst: str,
    value_labels_as_strings: bool = False,
    catalog: str | None = None,
    coalesce: int | None = None,
    exts: tuple[str, ...] = SUPPORTED,
) -> list[dict]:
    """Convert every supported file under ``src`` into ``dst``.

    Returns one manifest dict per file: src, parquet, meta, rows.
    Import-friendly (the CLI below is a thin wrapper) so tests and
    notebooks call it directly.
    """
    from polars_readstat_rs_spark.api import readstat_metadata_json, readstat_scan

    manifest: list[dict] = []
    for root, _dirs, files in os.walk(src):
        for fn in sorted(files):
            ext = fn.rsplit(".", 1)[-1].lower()
            if ext not in exts:
                continue
            fpath = os.path.join(root, fn)
            rel = os.path.relpath(fpath, src)
            out_parquet = os.path.join(dst, rel + ".parquet")
            out_meta = os.path.join(dst, rel + ".meta.json")
            os.makedirs(os.path.dirname(out_parquet), exist_ok=True)

            df = readstat_scan(
                spark,
                fpath,
                value_labels_as_strings=value_labels_as_strings,
                catalog=catalog,
            )
            if coalesce:
                df = df.coalesce(coalesce)
            df.write.mode("overwrite").parquet(out_parquet)
            with open(out_meta, "w") as f:
                f.write(readstat_metadata_json(fpath))
            n = spark.read.parquet(out_parquet).count()
            manifest.append(
                {"src": fpath, "parquet": out_parquet, "meta": out_meta, "rows": n}
            )
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("src")
    ap.add_argument("dst")
    ap.add_argument(
        "--labels",
        action="store_true",
        help="decode value labels to strings (default: keep raw codes)",
    )
    ap.add_argument("--catalog", default=None, help=".sas7bcat to apply to SAS reads")
    ap.add_argument(
        "--coalesce", type=int, default=None, help="parquet files per input (default: reader partitions)"
    )
    ap.add_argument(
        "--ext",
        default=",".join(SUPPORTED),
        help=f"comma-separated extensions to convert (default: {','.join(SUPPORTED)})",
    )
    args = ap.parse_args()

    from polars_readstat_rs_spark.session import get_spark

    spark = get_spark("readstat-convert")
    spark.sparkContext.setLogLevel("ERROR")
    manifest = convert_tree(
        spark,
        args.src,
        args.dst,
        value_labels_as_strings=args.labels,
        catalog=args.catalog,
        coalesce=args.coalesce,
        exts=tuple(args.ext.lower().split(",")),
    )
    for m in manifest:
        print(json.dumps(m))
    print(
        json.dumps(
            {"files": len(manifest), "rows": sum(m["rows"] for m in manifest)}
        )
    )


if __name__ == "__main__":
    main()
