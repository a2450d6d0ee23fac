"""Seeded, hermetic input generator for the benchmark workloads.

Every input is built from the two committed event tables,
``data/fixture_events.parquet`` (the 166 reference events) and
``data/rare_events.parquet``, plus a seed. Nothing reads outside the
checkout. Replicas of the base events keep their payload bytes; only the
``timestamp``, ``server_id`` and ``log_pos`` header fields are rewritten
(one draw per replica, so event order within a source is kept). The
per-sink counts therefore depend only on the replica count, never on the
seed.

No Spark here: numpy + pyarrow only, so the generator runs in the parent
process before the system under test starts.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# header layout (layout.header_columns): u32 timestamp @0, u8 type @4,
# u32 server_id @5, u32 event_size @9, u32 log_pos @13, u16 flags @17
TYPE_OFF, TS_OFF, SERVER_OFF, SIZE_OFF, POS_OFF = 4, 0, 5, 9, 13
MAGIC = b"\xfebin"
QUARANTINE = "QUARANTINE"


@dataclass
class Base:
    """Base events as one flat byte buffer plus per-event metadata."""

    flat: np.ndarray        # uint8, all events back to back
    starts: np.ndarray      # int64 event start offsets into `flat`
    sizes: np.ndarray       # int64 event sizes
    sources: list[str]
    idx: list[int]          # event index within its source

    def __len__(self) -> int:
        return len(self.sizes)


def rng(seed: int) -> np.random.Generator:
    """The generator for a workload seed (any integer, negatives too)."""
    return np.random.default_rng(seed % (1 << 63))


def _event_types():
    from binlogpipe import layout

    return layout.EVENT_TYPES


def load_base(root: Path) -> Base:
    """The 166 committed fixture events, in file order."""
    fx = pq.read_table(root / "data" / "fixture_events.parquet").to_pydict()
    picked = [(src, bytes(tok)) for src, tok in zip(fx["source"],
                                                     fx["tokens"])]
    sizes = np.array([len(b) for _, b in picked], np.int64)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]]).astype(np.int64)
    seen: Counter = Counter()
    idx = []
    for s, _ in picked:
        idx.append(seen[s])
        seen[s] += 1
    return Base(np.frombuffer(b"".join(b for _, b in picked), np.uint8),
                starts, sizes, [s for s, _ in picked], idx)


def _put_u32(buf: np.ndarray, offs: np.ndarray, vals: np.ndarray) -> None:
    v = vals.astype(np.uint64)
    for k in range(4):
        buf[offs + k] = ((v >> np.uint64(8 * k)) & np.uint64(0xFF)).astype(
            np.uint8)


def _get_u32(buf: np.ndarray, offs: np.ndarray) -> np.ndarray:
    out = np.zeros(len(offs), np.uint64)
    for k in range(4):
        out |= buf[offs + k].astype(np.uint64) << np.uint64(8 * k)
    return out


def replicate(base: Base, reps: int, g: np.random.Generator
              ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """`reps` copies of the base events with per-replica header rewrites.
    Returns (flat uint8, starts int64, sizes int64) of the replicated
    stream, replica-major."""
    n, total = len(base), int(base.sizes.sum())
    flat = np.tile(base.flat, reps)
    starts = (base.starts[None, :]
              + (np.arange(reps, dtype=np.int64) * total)[:, None]).ravel()
    sizes = np.tile(base.sizes, reps)
    rep_of = np.repeat(np.arange(reps), n)
    ts_shift = g.integers(0, 1 << 24, reps, dtype=np.uint64)[rep_of]
    server = g.integers(1, 1 << 32, reps, dtype=np.uint64)[rep_of]
    pos_shift = g.integers(0, 1 << 30, reps, dtype=np.uint64)[rep_of]
    mask = np.uint64(0xFFFFFFFF)
    _put_u32(flat, starts + TS_OFF,
             (_get_u32(flat, starts + TS_OFF) + ts_shift) & mask)
    _put_u32(flat, starts + SERVER_OFF, server)
    _put_u32(flat, starts + POS_OFF,
             (_get_u32(flat, starts + POS_OFF) + pos_shift) & mask)
    return flat, starts, sizes


def expected_sinks(flat: np.ndarray, starts: np.ndarray,
                   sizes: np.ndarray) -> Counter:
    """Per-sink counts from each event's type byte (layout.EVENT_TYPES);
    an event whose header size disagrees with its length quarantines."""
    types = _event_types()
    ok = _get_u32(flat, starts + SIZE_OFF).astype(np.int64) == sizes
    codes = flat[starts + TYPE_OFF]
    out: Counter = Counter()
    vals, counts = np.unique(codes.astype(np.int64) * 2 + ok, return_counts=True)
    for v, c in zip(vals, counts):
        code, good = int(v) >> 1, bool(v & 1)
        out[types.get(code, QUARANTINE) if good else QUARANTINE] += int(c)
    return out


def _tokens_array(flat: np.ndarray, starts: np.ndarray,
                  sizes: np.ndarray) -> pa.Array:
    offs = np.concatenate([[0], np.cumsum(sizes)]).astype(np.int32)
    # replicas are laid out contiguously in `flat`, so offsets are the
    # cumulative sizes — verify rather than assume
    if not (starts == offs[:-1]).all():
        raise ValueError("replicated events are not contiguous")
    return pa.ListArray.from_arrays(pa.array(offs),
                                    pa.array(flat.astype(np.int32)))


CONTRACT = pa.schema([("doc_id", pa.string()),
                      ("tokens", pa.list_(pa.int32())),
                      ("n_tok", pa.int32()), ("source", pa.string())])


def _doc_id(base: Base, rep: int, i: int) -> str:
    return f"{base.sources[i]}/{base.idx[i]}#{rep}"


def write_batch_input(root: Path, reps: int, seed: int, out_dir: Path,
                      n_files: int = 8) -> dict:
    """Seeded replica table as `n_files` parquet part files under
    `out_dir`. Replicas keep the fixture source names, so the TableMap
    dim stays at one entry per base table. Returns the expected per-sink
    counts and the event count."""
    base = load_base(root)
    flat, starts, sizes = replicate(base, reps, rng(seed))
    n = len(base)
    sources = base.sources * reps
    doc_ids = [_doc_id(base, k, i) for k in range(reps) for i in range(n)]
    table = pa.Table.from_arrays(
        [pa.array(doc_ids), _tokens_array(flat, starts, sizes),
         pa.array(sizes.astype(np.int32)), pa.array(sources)],
        schema=CONTRACT)
    out_dir.mkdir(parents=True, exist_ok=True)
    per = -(-len(table) // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * per, per),
                       out_dir / f"part-{f:05d}.parquet")
    return {"events": reps * n, "sinks": dict(expected_sinks(flat, starts,
                                                             sizes))}


def sample_rows(root: Path, reps: int, seed: int, k: int
                ) -> dict[str, bytes]:
    """`k` seeded (doc_id -> event bytes) pairs of the table that
    write_batch_input(…, seed) writes, for the token-equality check."""
    base = load_base(root)
    flat, starts, sizes = replicate(base, reps, rng(seed))
    pick = rng(seed + 1).choice(len(sizes), size=k, replace=False)
    out = {}
    for j in sorted(int(x) for x in pick):
        rep, i = divmod(j, len(base))
        out[_doc_id(base, rep, i)] = flat[starts[j]:starts[j] + sizes[j]
                                          ].tobytes()
    return out


def build_binlog_files(root: Path, reps: int, n_files: int, seed: int
                       ) -> list[tuple[bytes, Counter]]:
    """`n_files` raw `.bin` payloads of identical size, each MAGIC + `reps`
    header-rewritten replicas of the 166 fixture events in source order,
    with each file's expected per-sink counts."""
    base = load_base(root)
    g = rng(seed)
    out = []
    for _ in range(n_files):
        flat, starts, sizes = replicate(base, reps, g)
        out.append((MAGIC + flat.tobytes(),
                    expected_sinks(flat, starts, sizes)))
    return out


def drop_file(input_dir: Path, name: str, payload: bytes) -> None:
    """Write under a dot-prefixed staging dir (hidden from the file
    source), then rename into the watched directory — the file appears
    whole or not at all."""
    stage = input_dir / ".staging"
    stage.mkdir(parents=True, exist_ok=True)
    tmp = stage / name
    with open(tmp, "wb") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, input_dir / name)
