"""Seeded workload inputs, generated once per (workload, seed, scale) and
cached on disk outside every timed region.

The engine only ever sees the generated files (a parquet change log, or
the binlog events a loopback master serves); the pandas frame is kept
for the oracle.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

from perfbench.harness import WORK, rmtree

CACHE = os.path.join(WORK, "inputs")
KEEP_PER_WORKLOAD = 4  # newest cached inputs kept per workload

# workload sizes; "tiny" is the benchmark's own smoke-test scale.  The
# full sizes keep one run of a listed workload near a minute on 4 cores
# (three set-ups, the cycles, the checks, the JVM stop): a wire cycle of
# 3,000 events (about 1,000 one-transaction spool blobs, 3 epochs) takes
# about 11 s, so three fit in a run, and a stream cycle of 10 epochs at
# 10k ev/s about 43 s.  Every COW epoch has a fixed cost of about 2.4 s,
# so a smaller wire cycle buys little time.
SIZES = {
    "full": {
        "replay_cow": dict(n_docs=80_000, n_events=750_000, epochs=3),
        "wire_replay": dict(n_docs=1_000, n_events=3_000, epochs=3),
        "stream_mor_ivm": dict(n_docs=50_000, rate=10_000, epochs=10),
        "warmup": dict(n_docs=2_000, n_events=5_000),
        "wire_warmup": dict(n_docs=200, n_events=600),
    },
    "tiny": {
        "replay_cow": dict(n_docs=2_000, n_events=12_000, epochs=3),
        "wire_replay": dict(n_docs=100, n_events=300, epochs=2),
        "stream_mor_ivm": dict(n_docs=2_000, rate=2_000, epochs=4),
        "warmup": dict(n_docs=200, n_events=500),
        "wire_warmup": dict(n_docs=20, n_events=60),
    },
}


@dataclass
class LogInput:
    """A generated change log: parquet files (one per epoch) + the frame."""

    log_dir: str
    pdf: object  # pandas.DataFrame, generator output
    events_per_file: list[int]


@dataclass
class WireInput:
    """A change log encoded as checksummed binlog events."""

    log: LogInput
    events: list[bytes]
    rows_per_trx: list[int]  # change rows per transaction, in trx order


def _spec(kind: str, seed: int, size: dict):
    from binlake_spark.changelog import GenSpec

    n = size["n_events"]
    common = dict(n_docs=size["n_docs"], n_events=n, seed=seed)
    if kind == "replay_cow":
        # hot keys, a retransmit tail (its own epoch), mid-log `extra`
        # evolution announced by a DDL event, packed payloads
        return GenSpec(
            **common, events_per_epoch=n // size["epochs"], retransmit_frac=0.05,
            hot_keys=5, hot_frac=0.1, evolution_at=n // 2, ddl_events=True,
        )
    if kind == "wire_replay":
        # the wire carries no `extra`, so no evolution
        return GenSpec(
            **common, events_per_epoch=2 * n, retransmit_frac=0.05,
            hot_keys=5, hot_frac=0.1,
        )
    # warm-up logs: one file, same event shapes as the measured log
    return GenSpec(
        **common, events_per_epoch=2 * n, hot_keys=5, hot_frac=0.1,
        evolution_at=n // 2 if kind == "warmup" else None,
        ddl_events=kind == "warmup",
    )


def _prune(prefix: str, keep_dir: str) -> None:
    mine = [
        os.path.join(CACHE, d) for d in os.listdir(CACHE)
        if d.startswith(prefix + "-seed") and os.path.join(CACHE, d) != keep_dir
    ]
    mine.sort(key=os.path.getmtime, reverse=True)
    for d in mine[KEEP_PER_WORKLOAD - 1:]:
        rmtree(d)


def _read_log(log_dir: str):
    import pyarrow.parquet as pq

    files = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))
    counts = [pq.read_metadata(os.path.join(log_dir, f)).num_rows for f in files]
    return pq.read_table(log_dir).to_pandas(), counts


def change_log(kind: str, seed: int, scale: str) -> LogInput:
    """Generate (or load the cached) change log of ``kind``."""
    from binlake_spark.changelog import generate_change_log, write_change_log

    size = SIZES[scale][kind]
    d = os.path.join(CACHE, f"{kind}-seed{seed}-{scale}-{size['n_docs']}x{size['n_events']}")
    log_dir = os.path.join(d, "log")
    done = os.path.join(d, "_DONE")
    if not os.path.exists(done):
        rmtree(d)
        pdf = generate_change_log(_spec(kind, seed, size))
        write_change_log(pdf, log_dir)
        open(done, "w").close()
        _prune(kind, d)
    pdf, counts = _read_log(log_dir)
    return LogInput(log_dir=log_dir, pdf=pdf, events_per_file=counts)


def wire_log(kind: str, seed: int, scale: str) -> WireInput:
    """A change log plus its binlog encoding (CRC32 event headers),
    cached as length-prefixed records next to the log."""
    from binlake_spark.functions.framing import BINLOG_CHECKSUM_LEN
    from binlake_spark.sources.binlog_bridge import encode_envelope_as_binlog

    log = change_log(kind, seed, scale)
    path = os.path.join(os.path.dirname(log.log_dir), "binlog.events")
    if not os.path.exists(path):
        events = encode_envelope_as_binlog(log.pdf, checksum_len=BINLOG_CHECKSUM_LEN)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            for ev in events:
                f.write(struct.pack("<I", len(ev)))
                f.write(ev)
        os.replace(tmp, path)
    with open(path, "rb") as f:
        data = f.read()
    events, pos = [], 0
    while pos < len(data):
        (n,) = struct.unpack_from("<I", data, pos)
        events.append(data[pos + 4 : pos + 4 + n])
        pos += 4 + n
    rows = log.pdf.groupby("trx_id", sort=True).size().tolist()
    return WireInput(log=log, events=events, rows_per_trx=rows)
