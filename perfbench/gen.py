"""Seeded benchmark inputs: transcript turns with planted duplicates,
retry branches and malformed rows.

Every turn's content comes from the engine's own deterministic
generator (``engine.kernel.gen.make_turn`` / ``turns_for_conv``); the
seed only chooses which conversation ids and indices are drawn, so the
same seed always yields the same rows. The planted rows are recorded in
``Corpus`` so the benchmark's output checks know the expected answer.

Sizing is exact: originals are drawn until the requested turn count is
reached (the last conversation is cut to fit) and every planted copy is
made from a four-turn original, so the total row count is the same for
every seed and run-to-run differences are not input-size differences.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from engine.kernel.gen import make_turn, turns_for_conv

#: turns_for_conv scale: most conversations get 4 turns, some 8 or 32,
#: and every index divisible by 997 is a 320-turn mega-thread
SCALE_TURNS = 8
#: conversation indices of seed s start at s * SEED_STRIDE; the stride is
#: a multiple of 997 so every seed draws the same number of mega-threads
#: (the first conversation is one, unless ``mega=False`` skips it)
SEED_STRIDE = 997 * 100_003
#: planted copies are made from originals of exactly this length
PLANT_SOURCE_TURNS = 4
EDIT_SUFFIX = "\nAddendum: the figures above were re-checked and stand."


@dataclass
class Corpus:
    seed: int
    rows: list[dict] = field(default_factory=list)
    originals: list[str] = field(default_factory=list)
    #: planted id -> original id
    exact_copies: dict[str, str] = field(default_factory=dict)
    near_copies: dict[str, str] = field(default_factory=dict)
    branches: dict[str, str] = field(default_factory=dict)
    malformed: int = 0

    @property
    def valid_turns(self) -> int:
        return len(self.rows) - self.malformed


def _conv_rows(conv_id: str, n_turns: int) -> list[dict]:
    out = []
    for idx in range(n_turns):
        t = make_turn(conv_id, idx)
        out.append({"conv_id": conv_id, "turn_idx": idx, "role": t["role"],
                    "text": t["text"], "tool": t["tool"], "ts_us": t["ts_us"]})
    return out


def generate(
    seed: int,
    n_turns: int,
    exact: int = 0,
    near: int = 0,
    branches: int = 0,
    malformed: int = 0,
    mega: bool = True,
) -> Corpus:
    """``n_turns`` original turns plus the planted rows.

    - exact copy: every turn of a four-turn original under a new id;
    - near copy: the same, with the last turn either edited (even plant
      index) or dropped (odd);
    - retry branch: the original's first (user) turn, then three turns
      generated for the branch's own id, so it forms a preference pair
      and a one-turn retry family with its original;
    - malformed: extra rows with a null text (even) or a null conv_id
      (odd), which the job must route to its errors table.

    Original ids sort before every planted id, so each original is the
    keeper of its duplicate group (keeper = min conv_id).
    """
    corpus = Corpus(seed=seed)
    prefix = f"s{seed}-"
    sources: list[list[dict]] = []
    need_sources = exact + near + branches
    i = 0 if mega else 1
    while len(corpus.rows) < n_turns:
        conv_id = f"{prefix}a{i:06d}"
        n = turns_for_conv(seed * SEED_STRIDE + i, SCALE_TURNS)
        n = min(n, n_turns - len(corpus.rows))
        rows = _conv_rows(conv_id, n)
        corpus.rows.extend(rows)
        corpus.originals.append(conv_id)
        if n == PLANT_SOURCE_TURNS and len(sources) < need_sources:
            sources.append(rows)
        i += 1
    if len(sources) < need_sources:
        raise ValueError(
            f"{n_turns} turns hold only {len(sources)} plant sources, "
            f"{need_sources} requested"
        )

    for k in range(exact):
        src = sources[k]
        new_id = f"{prefix}e{k:06d}"
        corpus.exact_copies[new_id] = src[0]["conv_id"]
        corpus.rows.extend(dict(r, conv_id=new_id) for r in src)
    for k in range(near):
        src = sources[exact + k]
        new_id = f"{prefix}n{k:06d}"
        corpus.near_copies[new_id] = src[0]["conv_id"]
        copied = [dict(r, conv_id=new_id) for r in src]
        if k % 2 == 0:
            copied[-1]["text"] = copied[-1]["text"] + EDIT_SUFFIX
        else:
            copied.pop()
        corpus.rows.extend(copied)
    for k in range(branches):
        src = sources[exact + near + k]
        new_id = f"{prefix}r{k:06d}"
        corpus.branches[new_id] = src[0]["conv_id"]
        fresh = _conv_rows(new_id, PLANT_SOURCE_TURNS)
        corpus.rows.append(dict(src[0], conv_id=new_id))
        corpus.rows.extend(fresh[1:])
    for k in range(malformed):
        base = dict(corpus.rows[k * 7 % len(corpus.rows)])
        if k % 2 == 0:
            base.update(conv_id=f"{prefix}m{k:06d}", text=None)
        else:
            base.update(conv_id=None, turn_idx=10_000 + k)
        corpus.rows.append(base)
    corpus.malformed = malformed
    return corpus


#: parquet types of the columns the benchmark writes
COLUMN_TYPES = {
    "conv_id": "string",
    "turn_idx": "int32",
    "role": "string",
    "text": "string",
    "tool": "string",
    "ts": "timestamp",
    "cleaned_text": "string",
}
TRANSCRIPT_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def write_parquet(
    rows: list[dict], out_dir: str, n_files: int, columns=TRANSCRIPT_COLS
) -> list[str]:
    """Write ``rows`` (in order) as ``n_files`` parquet files of equal row
    count, so a mega-thread spans files instead of making one file (and
    one scan task) heavier than the rest. ``ts`` is read from ``ts_us``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"string": pa.string(), "int32": pa.int32(),
             "timestamp": pa.timestamp("us", tz="UTC")}
    schema = pa.schema([(c, types[COLUMN_TYPES[c]]) for c in columns])
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    n = len(rows)
    for j in range(n_files):
        chunk = rows[j * n // n_files:(j + 1) * n // n_files]
        table = pa.table(
            {c: [r["ts_us" if c == "ts" else c] for r in chunk] for c in columns},
            schema=schema,
        )
        path = os.path.join(out_dir, f"part-{j:04d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths
