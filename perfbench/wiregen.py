"""Seeded pgoutput wire logs for the wire workloads, and the serial model.

Two producers, both deterministic in ``--seed``:

- ``catchup_files``: a pre-generated backlog of wide rows over a uniform
  key space, about 10% DELETEs and the rest UPDATE/INSERT, split into
  parquet ``(lsn, ts, frame)`` files of the shape
  ``LogicalReplicationClient.dump_parquet`` emits.
- ``steady`` (run as its own process, see ``main``): an open-loop
  generator that writes one file every ``interval`` seconds on a fixed
  schedule, with Zipf-skewed keys, narrow rows, ~30% of transactions
  carrying a remote ``O`` origin marker and one re-sent ``R`` frame (a
  DDL adding a column) half way through. Every frame's ``ts`` is its
  scheduled due time, and the schedule does not slow when the engine
  does. A JSON-lines log records each file's due and write times and the
  due time of every DML it carries.

``serial_state`` is the reference consumer loop written out serially: it
walks frames in LSN order with its own tiny parser, keeps the relation
registry, tracks the transaction's origin, and applies INSERT/UPDATE as
upserts and DELETE as removal. The benchmark compares the engine's final
state against it key for key.

Run ``python3 perfbench/wiregen.py backlog --seed 1 --out DIR`` for a
backlog, or ``python3 perfbench/wiregen.py steady --seed 1 --out DIR --log
FILE --seconds 10`` for a steady feed (it prints ``ready`` and starts its
schedule at the epoch it reads from standard input). The sizes and the rate
are the constants below.
"""

from __future__ import annotations

import argparse
import json
import os
import struct
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from python_cdc_spark.cdc.pgoutput import (  # noqa: E402
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_origin,
    encode_relation,
    encode_update,
)

# catch-up backlog: one file per micro-batch; the key space is larger than
# one batch, so later batches fold against state the earlier ones left
CATCHUP_FILES = 5
CATCHUP_EVENTS_PER_FILE = 10_000
CATCHUP_KEYS = 25_000
# steady feed: offered DML events per second (remote ones included), one
# file per interval
STEADY_RATE = 1000.0
STEADY_INTERVAL = 0.5
STEADY_KEYS = 5000  # Zipf-skewed
STEADY_REMOTE_SHARE = 0.3  # transactions carrying a remote origin marker

RELID = 16384
WIDE_COLS = ["id", "name", "email", "city", "note", "balance"]
NARROW_COLS = ["id", "v"]
NARROW_COLS_DDL = ["id", "v", "tier"]
_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu"
).split()
_CITIES = ["Lisbon", "Osaka", "Quito", "Tromso", "Perth", "Leeds", "Lagos", "Pune"]


def write_file(path: str, lsns: list[int], tss: list[float], frames: list[bytes]) -> None:
    """Atomic parquet write: a streaming file source must never see a
    partial file, and it skips names that start with a dot."""
    tbl = pa.table(
        {
            "lsn": pa.array(lsns, pa.int64()),
            "ts": pa.array(
                [int(t * 1_000_000) for t in tss], pa.timestamp("us", tz="UTC")
            ),
            "frame": pa.array(frames, pa.binary()),
        }
    )
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)


class _Feed:
    """Accumulates frames with consecutive LSNs until a file takes them."""

    def __init__(self, lsn0: int = 1000) -> None:
        self.lsn = lsn0
        self.lsns: list[int] = []
        self.frames: list[bytes] = []
        self.tss: list[float] = []

    def add(self, frame: bytes, ts: float) -> None:
        self.lsn += 1
        self.lsns.append(self.lsn)
        self.frames.append(frame)
        self.tss.append(ts)

    def take(self) -> tuple[list[int], list[float], list[bytes]]:
        out = (self.lsns, self.tss, self.frames)
        self.lsns, self.tss, self.frames = [], [], []
        return out


def _dml(rng, live: set, key: int, p_delete: float, row) -> tuple[str, bytes]:
    """One DML against ``key``: INSERT if absent, else DELETE with
    probability ``p_delete``, else UPDATE."""
    if key not in live:
        live.add(key)
        return "I", encode_insert(RELID, row())
    if rng.random() < p_delete:
        live.discard(key)
        cols = row()
        return "D", encode_delete(RELID, [cols[0]] + [None] * (len(cols) - 1))
    return "U", encode_update(RELID, row())


def catchup_files(seed: int, out_dir: str) -> dict:
    """Write the backlog; return its shape (events by kind, files)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    feed = _Feed()
    live: set = set()
    kinds = {"I": 0, "U": 0, "D": 0}
    per_file = CATCHUP_EVENTS_PER_FILE
    t0 = 1_700_000_000.0
    feed.add(encode_relation(RELID, "public", "accounts", WIDE_COLS), t0)
    seq = 0
    for f in range(CATCHUP_FILES):
        done = 0
        while done < per_file:
            txn = min(int(rng.integers(1, 9)), per_file - done)
            ts = t0 + seq / 10_000.0
            feed.add(encode_begin(feed.lsn + 1 + txn, xid=seq + 1), ts)
            for _ in range(txn):
                key = int(rng.integers(0, CATCHUP_KEYS))

                def row(key=key):
                    w = rng.choice(_WORDS, size=12)
                    return [
                        str(key),
                        f"{w[0]} {w[1]}",
                        f"{w[2]}.{w[3]}{key}@example.org",
                        _CITIES[int(rng.integers(0, len(_CITIES)))],
                        " ".join(w[4:]),
                        f"{rng.integers(0, 10**7) / 100:.2f}",
                    ]

                kind, frame = _dml(rng, live, key, 0.15, row)
                kinds[kind] += 1
                feed.add(frame, ts)
                seq += 1
            feed.add(encode_commit(feed.lsn, feed.lsn + 1), ts)
            done += txn
        lsns, tss, frames = feed.take()
        write_file(os.path.join(out_dir, f"wire-{f:05d}.parquet"), lsns, tss, frames)
    return {"events": seq, "files": CATCHUP_FILES, "keys": CATCHUP_KEYS, "by_kind": kinds}


def _zipf_sampler(rng, n_keys: int, s: float = 1.1):
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    cdf = np.cumsum(p / p.sum())
    perm = rng.permutation(n_keys)  # hot keys scattered over the key space

    def draw(n: int) -> np.ndarray:
        return perm[np.searchsorted(cdf, rng.random(n), side="right").clip(0, n_keys - 1)]

    return draw


def steady_schedule(seed: int, rate: float, seconds: float, interval: float):
    """Yield ``(file_index, due_offset, lsns, ts_offsets, frames,
    dml_due_offsets, remote_dml)`` per file; times are offsets from the
    schedule start. DML ``i`` of the feed is due at ``i / rate``; a file
    is due when its last DML is."""
    rng = np.random.default_rng(seed)
    draw = _zipf_sampler(rng, STEADY_KEYS)
    feed = _Feed()
    live: set = set()
    n_files = int(round(seconds / interval))
    per_file = int(round(rate * interval))
    ddl_file = n_files // 2
    cols = NARROW_COLS
    feed.add(encode_relation(RELID, "public", "meters", cols), 0.0)
    seq = 0
    xid = 0
    for f in range(n_files):
        if f == ddl_file:
            cols = NARROW_COLS_DDL
            feed.add(encode_relation(RELID, "public", "meters", cols), seq / rate)
        keys = draw(per_file)
        dml_due: list[float] = []
        remote = 0
        done = 0
        while done < per_file:
            txn = min(int(rng.integers(1, 6)), per_file - done)
            xid += 1
            is_remote = rng.random() < STEADY_REMOTE_SHARE
            feed.add(encode_begin(feed.lsn + 1 + txn, xid=xid), seq / rate)
            if is_remote:
                feed.add(encode_origin(feed.lsn, "node_b"), seq / rate)
            for j in range(txn):
                key = int(keys[done + j])
                ts = seq / rate

                def row(key=key):
                    vals = [str(key), str(int(rng.integers(0, 10**6)))]
                    if len(cols) == 3:
                        vals.append("gold" if key % 7 == 0 else "basic")
                    return vals

                if is_remote:
                    # remote rows never reach this subscriber's state, so
                    # they must not move the local key set either
                    frame = encode_update(RELID, row())
                    remote += 1
                else:
                    _, frame = _dml(rng, live, key, 0.2, row)
                    dml_due.append(ts)
                feed.add(frame, ts)
                seq += 1
            feed.add(encode_commit(feed.lsn, feed.lsn + 1), seq / rate)
            done += txn
        lsns, tss, frames = feed.take()
        yield f, seq / rate, lsns, tss, frames, dml_due, remote


def serial_state(frames_in_lsn_order, origin: str = "any") -> dict[str, dict]:
    """The reference consumer loop, serially: R updates the registry, B
    resets the transaction origin, O sets it, I/U upsert and D removes —
    all skipped for remote-origin transactions when ``origin='none'``.
    Returns ``{key: {column: text}}`` keyed by the ``id`` column."""
    registry: dict[int, list[str]] = {}
    state: dict[str, dict] = {}
    txn_origin = None

    def cstr(buf, pos):
        end = buf.index(b"\x00", pos)
        return buf[pos:end].decode(), end + 1

    def tup(buf, pos, cols):
        (n,) = struct.unpack_from(">h", buf, pos)
        pos += 2
        vals = {}
        for i in range(n):
            t = buf[pos:pos + 1]
            pos += 1
            if t == b"n":
                vals[cols[i]] = None
            else:
                (ln,) = struct.unpack_from(">i", buf, pos)
                vals[cols[i]] = buf[pos + 4:pos + 4 + ln].decode()
                pos += 4 + ln
        return vals, pos

    for buf in frames_in_lsn_order:
        buf = bytes(buf)
        tag = buf[:1]
        if tag == b"R":
            (relid,) = struct.unpack_from(">i", buf, 1)
            _, pos = cstr(buf, 5)
            _, pos = cstr(buf, pos)
            (ncols,) = struct.unpack_from(">h", buf, pos + 1)
            pos += 3
            cols = []
            for _ in range(ncols):
                name, pos = cstr(buf, pos + 1)
                cols.append(name)
                pos += 8
            registry[relid] = cols
        elif tag == b"B":
            txn_origin = None
        elif tag == b"O":
            txn_origin, _ = cstr(buf, 9)
        elif tag in (b"I", b"U", b"D"):
            if origin == "none" and txn_origin is not None:
                continue
            (relid,) = struct.unpack_from(">i", buf, 1)
            cols = registry[relid]
            marker = buf[5:6]
            if tag == b"D":
                old, _ = tup(buf, 6, cols)
                state.pop(old["id"], None)
                continue
            pos = 5
            if marker in (b"K", b"O"):
                _, pos = tup(buf, 6, cols)
            new, _ = tup(buf, pos + 1, cols)
            state[new["id"]] = new
    return state


def read_frames(wire_dir: str) -> list[bytes]:
    """All frames of a wire directory in LSN order."""
    names = sorted(n for n in os.listdir(wire_dir) if n.endswith(".parquet"))
    tbl = pa.concat_tables([pq.read_table(os.path.join(wire_dir, n)) for n in names])
    order = np.argsort(tbl.column("lsn").to_numpy())
    frames = tbl.column("frame").to_pylist()
    return [frames[i] for i in order]


def dml_per_file(wire_dir: str) -> dict[str, int]:
    """Number of I/U/D frames in each file of a wire directory."""
    out = {}
    for name in os.listdir(wire_dir):
        if name.endswith(".parquet"):
            frames = pq.read_table(os.path.join(wire_dir, name), columns=["frame"])
            out[name] = sum(
                1 for f in frames.column("frame").to_pylist() if f[:1] in (b"I", b"U", b"D")
            )
    return out


def _run_steady(a) -> None:
    os.makedirs(a.out, exist_ok=True)
    # frames are encoded before the schedule starts so encoding never
    # makes a write late; only the write itself happens at the due time
    plan = list(steady_schedule(a.seed, STEADY_RATE, a.seconds, STEADY_INTERVAL))
    # pyarrow loads its time-zone database on the first tz-aware array
    # (about 0.2 s); that happens here, not in the first scheduled write
    pa.array([0], pa.timestamp("us", tz="UTC"))
    print("ready", flush=True)
    line = sys.stdin.readline().strip()
    if not line:
        return  # the consumer went away before starting the schedule
    start = float(line)
    with open(a.log, "w") as log:
        for f, due_off, lsns, ts_off, frames, dml_due, remote in plan:
            due = start + due_off
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            write_file(
                os.path.join(a.out, f"wire-{f:05d}.parquet"),
                lsns, [start + t for t in ts_off], frames,
            )
            log.write(json.dumps({
                "file": f"wire-{f:05d}.parquet",
                "due": due,
                "written": time.time(),
                "dml_due": [start + t for t in dml_due],
                "remote_dml": remote,
                "frames": len(frames),
            }) + "\n")
            log.flush()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    b = sub.add_parser("backlog", help="write the catch-up backlog and exit")
    b.add_argument("--seed", type=int, required=True)
    b.add_argument("--out", required=True)
    st = sub.add_parser(
        "steady", help="open loop: print 'ready', read the start epoch from "
        "stdin, then write one file per interval on schedule"
    )
    st.add_argument("--seed", type=int, required=True)
    st.add_argument("--out", required=True, help="wire directory to write into")
    st.add_argument("--log", required=True, help="JSON-lines schedule log")
    st.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()
    if a.mode == "backlog":
        print(json.dumps(catchup_files(a.seed, a.out)))
    else:
        _run_steady(a)


if __name__ == "__main__":
    main()
