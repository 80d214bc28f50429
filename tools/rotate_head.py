"""Print the driver head: the 50 registered gates recorded longest ago.

The correctness driver records only the first 50 ``queries()`` entries
per round, one ``CORRECTNESS_r<N>.json`` file each. The head leads with
names no file records, then names by ascending latest recording round;
ties keep registration order. Names a file records that are no longer
registered are ignored, and an empty file records nothing.

Usage: python tools/rotate_head.py   (paste the output over
``HEAD`` in __spark_entry__.py)
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HEAD_SIZE = 50


def rotation_order(names: list[str], root: Path) -> list[str]:
    """``names`` (registration order), oldest driver record first."""
    last: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name in json.loads(path.read_text()):
            last[name] = max(last.get(name, 0), rnd)
    return sorted(names, key=lambda n: last.get(n, -1))


def main() -> None:
    sys.path.insert(0, str(ROOT))
    from polars_readstat_rs_spark.queries import QUERIES

    head = rotation_order(list(QUERIES), ROOT)[:HEAD_SIZE]
    print("HEAD = (\n" + "".join(f'    "{n}",\n' for n in head) + ")")


if __name__ == "__main__":
    main()
