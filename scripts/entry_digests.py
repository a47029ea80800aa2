"""Print one ``name rows sha256`` line per ``__spark_entry__.queries()``
entry, over the entry's rows in a canonical order.

    python scripts/entry_digests.py SF_DIR [name ...]

With no names, every entry runs (in sorted name order). The digest
covers the column names and every row, each cell rendered exactly
(floats by repr, maps with sorted keys), with the rendered rows sorted
— so two runs agree iff the entry returned the same multiset of rows,
whatever the partitioning. Run it from a checkout root on two commits
and diff the outputs to prove a refactor changed no row. An entry that
raises prints ``name ERROR <exception class>`` (traceback on stderr)
and the sweep goes on.

Environment: SPARK_GRAFT_CPUS (default 4) and SPARK_DRIVER_MEM (default
4g) size the local session.
"""

from __future__ import annotations

import hashlib
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _cell(v) -> str:
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{_cell(k)}:{_cell(x)}" for k, x in sorted(v.items(), key=lambda kv: repr(kv[0]))
        ) + "}"
    if isinstance(v, (list, tuple)):  # arrays and structs (Row is a tuple)
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return repr(v)


def digest(df) -> tuple[int, str]:
    rows = sorted(_cell(r) for r in df.collect())
    h = hashlib.sha256(",".join(df.columns).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return len(rows), h.hexdigest()


def main(argv: list[str]) -> int:
    if not argv:
        print("usage: python scripts/entry_digests.py SF_DIR [name ...]", file=sys.stderr)
        return 2
    sf_dir, names = argv[0], argv[1:]
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")

    import __spark_entry__ as entry
    from engine.spark.session import get_spark

    spark = get_spark(
        "entry-digests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name in names or sorted(qs):
        try:
            n, sha = digest(qs[name](spark, sf_dir))
            print(f"{name} {n} {sha}", flush=True)
        except Exception as e:  # report and keep sweeping
            traceback.print_exc()
            print(f"{name} ERROR {type(e).__name__}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
