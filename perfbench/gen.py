"""Seeded transcript generator for the benchmark.

Writes a transcripts parquet table (``conv_id, turn_idx, role, text,
tool, ts``) that the engine reads as its only input. The rules follow
the engine's test fixture (Zipf conversation lengths, mega-threads, one
duplicated ``(conv_id, turn_idx)`` row, an all-system conversation, an
empty text, ``[deleted]`` and torture text), with every hash salted by
the seed. The conversation lengths are the same Zipf quantiles for every
seed, dealt to conversations in a seeded order, so the input has
the same number of turns whatever the seed while the graph it yields
differs.

Run directly to pre-generate inputs::

    python3 perfbench/gen.py --seed 7 --out perfbench/.work/inputs
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CONVS = 2_000
LENGTH_CLIP = 80
# Mega-threads sit at conversations 10, 11 and 12. The author rule below
# puts a conversation's users in the residue class conv mod 3 whenever
# n_users is a multiple of 3, so one hub lands in each class.
MEGA_SLOTS = (10, 11, 12)
MEGA_LEN = 500

# The engine's synthetic author rule (operators.extract.synthetic_user_key):
# user = pmod(conv * U_A + turn * U_B, n_convs // 3).
U_A = 2654435761
U_B = 40503

EPOCH = np.datetime64("2026-01-01T00:00:00", "us")
TORTURE_SUFFIX = ' \t\n"quoted",comma|pipe é😀中文مرحبا  '
FILES = 4

SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), False),
        pa.field("turn_idx", pa.int32(), False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us")),
    ]
)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _hash(seed: int, conv: np.ndarray, turn: np.ndarray, salt: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        mixed = (
            conv.astype(np.uint64) * np.uint64(1_000_003)
            + turn.astype(np.uint64)
            + np.uint64((seed * 0x9E37 + salt * 0x85EBCA6B) & 0xFFFFFFFFFFFFFFFF)
        )
        return _splitmix64(mixed)


def conversation_lengths(seed: int) -> np.ndarray:
    """Zipf(1.3) quantiles clipped to [1, LENGTH_CLIP], dealt in a seeded
    order, then the fixed edge-case and mega-thread slots."""
    k = np.arange(1, LENGTH_CLIP + 1, dtype=np.float64)
    cdf = np.cumsum(k**-1.3 / (k**-1.3).sum())
    u = (np.arange(N_CONVS) + 0.5) / N_CONVS
    lengths = np.searchsorted(cdf, u, side="right").astype(np.int64) + 1
    lengths = lengths[np.random.default_rng(seed).permutation(N_CONVS)]
    lengths[0] = 1  # single-turn conversation
    lengths[1] = 5  # all-system conversation
    lengths[2] = max(lengths[2], 3)  # holds the duplicated (conv, turn)
    lengths[list(MEGA_SLOTS)] = MEGA_LEN
    return lengths


def generate(seed: int) -> pa.Table:
    lengths = conversation_lengths(seed)
    conv = np.repeat(np.arange(N_CONVS, dtype=np.int64), lengths)
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    turn = np.arange(len(conv), dtype=np.int64) - np.repeat(starts, lengths)

    h = _hash(seed, conv, turn, 2)
    h_role = _hash(seed, conv, turn, 3)
    first_is_system = (_hash(seed, conv, np.zeros_like(turn), 4) % 5) == 0

    # stateless role rule: optional leading system turn, then user/assistant
    # alternation where a would-be user turn becomes 'tool' 15% of the time
    c = turn - first_is_system.astype(np.int64)
    base_user = (c % 2) == 0
    role = np.where(base_user, "user", "assistant").astype(object)
    role[(turn == 0) & first_is_system] = "system"
    role[base_user & (c > 0) & ((h_role % 100) < 15)] = "tool"
    role[conv == 1] = "system"
    tool = np.where(
        role == "tool",
        np.array(["search", "calc", "code", "browse"], dtype=object)[(h % 4).astype(np.int64)],
        None,
    )

    conv_id = np.char.add("c", np.char.zfill(conv.astype(str), 8)).astype(object)
    text = np.char.add(
        np.char.add(np.char.add("t|", conv_id.astype(str)), np.char.add("|", turn.astype(str))),
        np.char.add("|", (h % 1000).astype(np.int64).astype(str)),
    ).astype(object)
    torture = (h % 97) == 0
    text[torture] = text[torture] + TORTURE_SUFFIX
    text[(h % 89) == 1] = "[deleted]"
    text[(conv == 3) & (turn == 0)] = ""
    ts = EPOCH + (conv * 3_600_000_000 + turn * 7_000_000 + (h % 5).astype(np.int64) * 1_000_000)

    # one duplicated (conv 2, turn 1) row, later ts: dedup keep-first must drop it
    dup = np.flatnonzero((conv == 2) & (turn == 1))[0]
    rows = np.append(np.arange(len(conv)), dup)
    text = text[rows]
    text[-1] = text[-1] + "|dup-later-must-lose"
    ts = ts[rows]
    ts[-1] = ts[-1] + np.timedelta64(11, "s")

    # seeded physical row order: the stable ordering must come from columns
    order = np.random.default_rng(seed + 1).permutation(len(rows))
    return pa.table(
        {
            "conv_id": conv_id[rows][order],
            "turn_idx": turn[rows][order].astype(np.int32),
            "role": role[rows][order],
            "text": text[order],
            "tool": tool[rows][order],
            "ts": ts[order],
        },
        schema=SCHEMA,
    )


def ensure_input(base: str, seed: int) -> str:
    """Generate the input for ``seed`` under ``base`` once and return its
    directory; a later call with the same seed reuses it."""
    path = os.path.join(base, f"seed{seed}")
    marker = os.path.join(path, "_INPUT_OK")
    if os.path.exists(marker):
        return path
    os.makedirs(path, exist_ok=True)
    table = generate(seed)
    step = -(-table.num_rows // FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))
    with open(marker, "w") as fh:
        json.dump({"seed": seed, "rows": table.num_rows}, fh)
    return path


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(ensure_input(args.out, args.seed))


if __name__ == "__main__":
    main()
