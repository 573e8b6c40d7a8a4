"""Seeded, vectorized change-event generator and LWW oracle.

Every event is one JSONL line of the package's transcript change-event
shape (``op, conv_id, turn_idx, role, text, tool, ts``). Events are held
as numpy columns (:class:`Events`) and rendered to lines with pyarrow
compute kernels, so a few million events take seconds, not minutes.

The oracle resolves last-writer-wins per ``(conv_id, turn_idx)`` on ``ts``
(ts is unique per key by construction, so no tie-break is needed) and drops
keys whose winning event is a delete.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

ROLES = np.array(["user", "assistant", "tool"])
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
DAY_MS = 86_400_000
# key id = conv * TURN_SPAN + turn; conversations never reach this length
TURN_SPAN = 1 << 20


@dataclass
class Events:
    """Column-wise change events; all arrays have one entry per event."""

    conv: np.ndarray  # int64 conversation number
    turn: np.ndarray  # int64 turn index
    ver: np.ndarray  # int64 version number of the key
    delete: np.ndarray  # bool: op == "delete"
    ts_ms: np.ndarray  # int64 epoch milliseconds, unique per key
    payload: np.ndarray  # int64 index into the payload vocabulary

    def __len__(self) -> int:
        return len(self.conv)

    def take(self, idx) -> "Events":
        return Events(*(getattr(self, f)[idx] for f in _FIELDS))

    @staticmethod
    def concat(parts: list["Events"]) -> "Events":
        return Events(
            *(np.concatenate([getattr(p, f) for p in parts]) for f in _FIELDS)
        )

    def key_id(self) -> np.ndarray:
        return self.conv * TURN_SPAN + self.turn


_FIELDS = ("conv", "turn", "ver", "delete", "ts_ms", "payload")


def _vocab(n: int = 512) -> pa.Array:
    """Payload words of uneven length (8..64 chars), fixed for every seed."""
    rng = np.random.default_rng(0)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    lens = rng.integers(8, 65, size=n)
    words = [bytes(letters[rng.integers(0, 26, size=k)]).decode() for k in lens]
    return pa.array(words)


VOCAB = _vocab()


def conversations(rng: np.random.Generator, n_convs: int, mean_turns: float):
    """Uneven conversation lengths (lognormal, at least one turn) and
    per-conversation start times within the first 30 days."""
    turns = np.maximum(
        1, np.rint(rng.lognormal(np.log(mean_turns) - 0.5, 1.0, n_convs))
    ).astype(np.int64)
    turns = np.minimum(turns, 4096)
    start = BASE_MS + rng.integers(0, 30 * DAY_MS, n_convs)
    return turns, start


def initial_events(
    rng: np.random.Generator,
    n_convs: int,
    mean_turns: float,
    mean_versions: float,
    delete_share: float,
    conv_offset: int = 0,
) -> tuple[Events, np.ndarray]:
    """Every turn of every conversation gets 1 + Poisson(mean_versions - 1)
    versions; a ``delete_share`` of keys get a trailing delete. Returns the
    events and the per-conversation turn counts."""
    turns, start = conversations(rng, n_convs, mean_turns)
    conv = np.repeat(np.arange(n_convs, dtype=np.int64) + conv_offset, turns)
    first = np.repeat(np.cumsum(turns) - turns, turns)
    turn = np.arange(len(conv), dtype=np.int64) - first
    nver = 1 + rng.poisson(max(mean_versions - 1.0, 0.0), len(conv))
    dele = rng.random(len(conv)) < delete_share
    nev = nver + dele
    k_conv = np.repeat(conv, nev)
    k_turn = np.repeat(turn, nev)
    kfirst = np.repeat(np.cumsum(nev) - nev, nev)
    ver = np.arange(len(k_conv), dtype=np.int64) - kfirst
    is_del = np.zeros(len(k_conv), dtype=bool)
    is_del[np.cumsum(nev)[dele] - 1] = True
    # turn t of a conversation at start + t minutes; version v an hour later
    # each; the sub-second jitter stays below the version step, so ts is
    # strictly increasing per key
    ts = (
        np.repeat(start[conv - conv_offset], nev)
        + k_turn * 60_000
        + ver * 3_600_000
        + rng.integers(0, 1000, len(k_conv))
    )
    ev = Events(
        k_conv, k_turn, ver, is_del, ts, rng.integers(0, len(VOCAB), len(k_conv))
    )
    return ev, turns


def conv_id_array(conv: np.ndarray) -> pa.Array:
    s = pc.utf8_lpad(pc.cast(pa.array(conv), pa.string()), 7, "0")
    return pc.binary_join_element_wise("conv_", s, "")


def conv_id(c: int) -> str:
    return f"conv_{c:07d}"


def text_array(ev: Events) -> pa.Array:
    """``{conv_id}:{turn}:v{version}:{word}`` — the text names the version
    that wrote it, so a lookup can tell exactly which event won."""
    return pc.binary_join_element_wise(
        conv_id_array(ev.conv), ":",
        pc.cast(pa.array(ev.turn), pa.string()), ":v",
        pc.cast(pa.array(ev.ver), pa.string()), ":",
        pc.take(VOCAB, pa.array(ev.payload)),
        "",
    )


def text_of(ev: Events, i: int) -> str:
    return (
        f"{conv_id(int(ev.conv[i]))}:{int(ev.turn[i])}:v{int(ev.ver[i])}:"
        f"{VOCAB[int(ev.payload[i])].as_py()}"
    )


_PAD2 = pa.array([f"{i:02d}" for i in range(60)])
_PAD3 = pa.array([f"{i:03d}" for i in range(1000)])


def iso_ms(ts_ms: np.ndarray) -> pa.Array:
    """``YYYY-MM-DDTHH:MM:SS.mmm`` from epoch ms, by table lookups (pyarrow's
    strftime costs about 2 us per value)."""
    day, rem = np.divmod(ts_ms - BASE_MS, DAY_MS)
    if len(day) and day.min() < 0:
        raise ValueError("timestamps before 2024-01-01 are not generated")
    n_days = int(day.max()) + 1 if len(day) else 1
    days = pa.array(
        np.datetime_as_string(
            np.datetime64("2024-01-01") + np.arange(n_days), unit="D"
        ).astype(object)
        + "T"
    )
    sec, ms = np.divmod(rem, 1000)
    mins, s = np.divmod(sec, 60)
    h, m = np.divmod(mins, 60)
    return pc.binary_join_element_wise(
        pc.take(days, pa.array(day)),
        pc.take(_PAD2, pa.array(h)), ":",
        pc.take(_PAD2, pa.array(m)), ":",
        pc.take(_PAD2, pa.array(s)), ".",
        pc.take(_PAD3, pa.array(ms)),
        "",
    )


def jsonl_lines(ev: Events) -> pa.Array:
    """One newline-terminated JSON object per event."""
    role_i = ev.turn % 3
    role = pc.take(pa.array(ROLES), pa.array(role_i))
    tool = pc.if_else(
        pa.array(role_i == 2),
        pc.binary_join_element_wise(
            '"tool_', pc.cast(pa.array(ev.turn % 5), pa.string()), '"', ""
        ),
        pa.scalar("null"),
    )
    ts = iso_ms(ev.ts_ms)
    op = pc.if_else(pa.array(ev.delete), pa.scalar("delete"), pa.scalar("upsert"))
    return pc.binary_join_element_wise(
        '{"op":"', op,
        '","conv_id":"', conv_id_array(ev.conv),
        '","turn_idx":', pc.cast(pa.array(ev.turn), pa.string()),
        ',"role":"', role,
        '","text":"', text_array(ev),
        '","tool":', tool,
        ',"ts":"', ts,
        'Z"}\n',
        "",
    )


def write_lines(path: str, ev: Events, mode: str = "wb") -> int:
    """Write (or append, ``mode="ab"``) the events' JSONL; returns bytes."""
    lines = jsonl_lines(ev)
    if isinstance(lines, pa.ChunkedArray):
        lines = lines.combine_chunks()
    if len(lines) == 0:
        return 0
    offs = np.frombuffer(lines.buffers()[1], dtype=np.int32)
    offs = offs[lines.offset : lines.offset + len(lines) + 1]
    data = memoryview(lines.buffers()[2])[offs[0] : offs[-1]]
    with open(path, mode) as f:
        f.write(data)
    return len(data)


def split_by_file(ev: Events, file_of_conv: np.ndarray) -> list[np.ndarray]:
    """Event indices per file, each file in ts order (a log is appended in
    time order); ``file_of_conv[c]`` is conversation c's file."""
    f = file_of_conv[ev.conv]
    order = np.lexsort((ev.ts_ms, f))
    bounds = np.searchsorted(f[order], np.arange(file_of_conv.max() + 2))
    return [order[bounds[i] : bounds[i + 1]] for i in range(len(bounds) - 1)]


def latest(ev: Events) -> np.ndarray:
    """Indices of each key's max-ts event."""
    if len(ev) == 0:
        return np.zeros(0, dtype=np.int64)
    key = ev.key_id()
    order = np.lexsort((ev.ts_ms, key))
    k = key[order]
    last = np.ones(len(k), dtype=bool)
    last[:-1] = k[1:] != k[:-1]
    return order[last]


def lww_winners(ev: Events) -> np.ndarray:
    """Indices of the surviving rows: each key's max-ts event, unless it is
    a delete."""
    win = latest(ev)
    return win[~ev.delete[win]]


def oracle_table(ev: Events) -> pa.Table:
    """Expected final table rows ``(conv_id, turn_idx, ts_ms, text)``."""
    w = ev.take(lww_winners(ev))
    return pa.table(
        {
            "conv_id": conv_id_array(w.conv),
            "turn_idx": pa.array(w.turn),
            "ts_ms": pa.array(w.ts_ms),
            "text": text_array(w),
        }
    )


def properties(ev: Events, n_files: int, nbytes: int) -> dict:
    """The input properties the engine's behaviour depends on."""
    keys = np.unique(ev.key_id())
    return {
        "events": int(len(ev)),
        "files": int(n_files),
        "keys": int(len(keys)),
        "versions_per_key": round(len(ev) / max(len(keys), 1), 3),
        "delete_share": round(float(ev.delete.mean()) if len(ev) else 0.0, 4),
        "bytes": int(nbytes),
    }


def write_files(root: str, ev: Events, file_of_conv: np.ndarray, prefix: str) -> int:
    os.makedirs(root, exist_ok=True)
    total = 0
    for i, idx in enumerate(split_by_file(ev, file_of_conv)):
        total += write_lines(os.path.join(root, f"{prefix}{i:04d}.jsonl"), ev.take(idx))
    return total
