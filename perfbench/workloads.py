"""The three workloads.

Each one drives the engine only through its public entry points
(``CdcEngine.run_stream``, ``LakeTable``, ``spool_dump`` and the loopback
master, ``TokenVocabAggregate``) and learns the instant of every commit
from a benchmark-side ``alarms`` object, which the engine calls right
after each commit.  A run repeats the workload's *cycle* (fresh table,
fresh checkpoint, the whole input) while another one fits in its time.

- ``replay_cow``: closed loop; a generated log, one file per epoch,
  replayed through ``run_stream`` (availableNow, one file per trigger)
  into a copy-on-write table.
- ``stream_mor_ivm``: open loop; ``rate_changelog_stream`` at a fixed
  offered rate, default trigger, a merge-on-read table with compaction
  and expiry, and a token-vocabulary rollup refreshed after every commit;
  a cycle is a fixed number of epochs.
- ``wire_replay``: a generated log encoded as binlog events, served by a
  loopback master, dumped through ``BinlogDumpClient`` into a spool of
  one-transaction blobs, and streamed through ``binlog_rows_stream`` →
  ``envelope_from_binlog_rows`` → ``run_stream(source_df=)``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks, inputs

STREAM = "bench"
# the replayed log's table has 32 buckets; the wire and stream tables the
# engine's default, which keeps their per-epoch file count small
NUM_BUCKETS = {"replay_cow": 32, "wire_replay": 16, "stream_mor_ivm": 16}
# merge-on-read maintenance cadence of ``stream_mor_ivm``: every third
# epoch compacts, so most epochs are plain ones and the median epoch is
# one of them; the last of its ten epochs, which stopping the query can
# interrupt, has no maintenance due.  Only the second compaction (version
# 8) also expires snapshots: deleting files on a disk mounted with
# `discard` stalls for a varying time, and with an expiry after every
# compaction those epochs took 4.1-7.4 s against 2.7 s for a plain one,
# which set the lag tail; with one expiry per run they took 3.6-4.9 s
MOR_COMPACT_EVERY = 3
MOR_EXPIRE_EVERY = 8
WIRE_USER, WIRE_PASSWORD = "replica", "s3cret"
SPOOL_SCHEMA = "blob_id long, n_events int, first_event long, frames binary"
TOKENS_PER_DOC = 16  # rate_changelog_stream's default


class Commits:
    """The engine's ``alarms`` object for one measured table.

    ``observe_epoch`` runs right after each commit (and its maintenance),
    so its clock reading is the instant the epoch became visible.  It also
    adds up the bytes of every data file a snapshot references for the
    first time, before expiry can delete it, and keeps each merge's
    lineage entry for the traced run."""

    def __init__(self, table):
        self.table = table
        self.times: list[float] = []
        self.results: list = []
        self.lineage: dict[int, dict] = {}  # merge version -> lineage entry
        self.version_bytes: dict[int, int] = {}  # version -> new data bytes
        self.retries = 0
        self._seen: set[str] = set()
        self._version = int(table.snapshot()["version"])

    def observe_epoch(self, result, stream_id):
        t = time.monotonic()
        if result.applied:
            self.times.append(t)
            self.results.append(result)
        self._count_written()
        return []

    def observe_resume_retry(self, attempt, stream_id, error=None):
        self.retries += 1
        return []

    @property
    def bytes_written(self) -> int:
        return sum(self.version_bytes.values())

    def _count_written(self) -> None:
        snap = self.table.snapshot()
        cur = int(snap["version"])
        for e in snap["lineage"]:
            if e.get("kind") == "merge" and int(e["version"]) > self._version:
                self.lineage[int(e["version"])] = e
        for v in range(self._version + 1, cur + 1):
            try:
                s = snap if v == cur else self.table.snapshot(v)
            except FileNotFoundError:
                continue
            new = 0
            for fl in [*s["files"].values(), *s.get("deltas", {}).values()]:
                for rel in fl:
                    if rel not in self._seen:
                        self._seen.add(rel)
                        new += os.path.getsize(os.path.join(self.table.root, rel))
            self.version_bytes[v] = new
        self._version = cur


@dataclass
class Cycle:
    """One measured pass of a workload over its whole input."""

    t_src: float  # monotonic instant the source started (dump start on wire)
    commits: Commits
    events: int  # source events, retransmits included
    input_bytes: int  # logical bytes of those events
    oracle_bytes: int  # logical bytes of the correct final table
    lag_ms: np.ndarray  # per source event: creation → visible commit
    table: object
    mismatches: list[str] = field(default_factory=list)
    blobs: int = 0
    spool: str | None = None
    vocab: object = None

    @property
    def wall_s(self) -> float:
        return self.commits.times[-1] - self.t_src

    def intervals_ms(self) -> list[float]:
        """Commit-to-commit intervals (the wait for the first commit,
        which includes the query start, is not one)."""
        ts = self.commits.times
        return [(b - a) * 1000.0 for a, b in zip(ts, ts[1:])]


def _create_table(root: str, workload: str):
    from binlake_spark.streaming import CdcEngine

    return CdcEngine.create_table(root, num_buckets=NUM_BUCKETS[workload])


def _closed_loop_lags(t_src: float, commit_times, events_per_epoch) -> np.ndarray:
    """Every event of a closed-loop replay exists when the source starts,
    so each waits from then until the commit of its epoch."""
    lag = [(t - t_src) * 1000.0 for t in commit_times]
    return np.repeat(np.asarray(lag, dtype=np.float64), events_per_epoch)


# --------------------------------------------------------------------- #
class ReplayCow:
    name = "replay_cow"

    def __init__(self, seed: int, scale: str):
        self.log = inputs.change_log("replay_cow", seed, scale)
        self.warm = inputs.change_log("warmup", seed, scale)
        self.oracle = checks.oracle_state(self.log.pdf)
        self.input_bytes = checks.logical_bytes(self.log.pdf)
        self.oracle_bytes = checks.logical_bytes(self.oracle)

    def warmup(self, spark, work: str) -> None:
        from binlake_spark.streaming import CdcEngine

        table = _create_table(os.path.join(work, "table"), self.name)
        CdcEngine(table, stream_id=STREAM).run_stream(
            spark, source_dir=self.warm.log_dir,
            checkpoint_dir=os.path.join(work, "ckpt"), max_files_per_trigger=1,
        )

    def cycle(self, spark, work: str, tracer) -> Cycle:
        from binlake_spark.streaming import CdcEngine

        table = _create_table(os.path.join(work, "table"), self.name)
        commits = Commits(table)
        engine = CdcEngine(table, stream_id=STREAM, alarms=commits)
        with tracer.engine(engine):
            t_src = time.monotonic()
            engine.run_stream(
                spark, source_dir=self.log.log_dir,
                checkpoint_dir=os.path.join(work, "ckpt"), max_files_per_trigger=1,
            )
        per_epoch = self.log.events_per_file
        c = Cycle(
            t_src=t_src, commits=commits, events=sum(per_epoch),
            input_bytes=self.input_bytes, oracle_bytes=self.oracle_bytes,
            lag_ms=np.zeros(0), table=table,
        )
        if len(commits.times) != len(per_epoch):
            c.mismatches.append(
                f"{len(commits.times)} commits for {len(per_epoch)} log files"
            )
            return c
        c.lag_ms = _closed_loop_lags(t_src, commits.times, per_epoch)
        c.mismatches += checks.table_vs_oracle(spark, table, self.oracle)
        return c


# --------------------------------------------------------------------- #
class WireReplay:
    name = "wire_replay"
    # the first full-size cycle after set-up runs about a quarter slower
    # than the later ones, which level off, so it runs untimed

    def __init__(self, seed: int, scale: str):
        self.wire = inputs.wire_log("wire_replay", seed, scale)
        self.warm = inputs.wire_log("wire_warmup", seed, scale)
        self.epochs = inputs.SIZES[scale]["wire_replay"]["epochs"]
        self.oracle = checks.oracle_state(self.wire.log.pdf)
        self.input_bytes = checks.logical_bytes(self.wire.log.pdf)
        self.oracle_bytes = checks.logical_bytes(self.oracle)

    @staticmethod
    def dump(events: list[bytes], spool: str) -> int:
        """Serve ``events`` from a loopback master and dump them over TCP
        into ``spool``, one blob per transaction (XID cuts)."""
        from binlake_spark.functions.binlog_events import XID_EVENT
        from binlake_spark.operators.gtid import GTIDSet
        from binlake_spark.sources.socket_dump import (
            BinlogDumpClient,
            LoopbackMaster,
            spool_dump,
        )

        with LoopbackMaster(WIRE_USER, WIRE_PASSWORD, events) as master:
            with BinlogDumpClient(
                "127.0.0.1", master.port, WIRE_USER, WIRE_PASSWORD, server_id=99
            ) as client:
                client.register_slave()
                return spool_dump(
                    client.dump(gtid_set=GTIDSet.parse(
                        "00000000-0000-0000-0000-000000000000:1-1"
                    )),
                    spool,
                    flush_after=lambda ev: ev[4] == XID_EVENT,
                )

    @staticmethod
    def envelope(frames):
        """Spool frames (batch or streaming) → the change-log envelope."""
        from binlake_spark.functions.binlog_events import binlog_rows_stream
        from binlake_spark.sources.binlog_bridge import (
            DOCS_WIRE_OVERLAY,
            envelope_from_binlog_rows,
        )

        return envelope_from_binlog_rows(binlog_rows_stream(
            frames.select("blob_id", "frames"),
            schema_overlay={("shop", "docs"): DOCS_WIRE_OVERLAY},
        ))

    def _replay(self, spark, work: str, wire, engine, files_per_trigger: int, tracer):
        spool = os.path.join(work, "spool")
        t_src = time.monotonic()
        with tracer.span("dump"):
            self.dump(wire.events, spool)
        frames = (
            spark.readStream.schema(SPOOL_SCHEMA)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(spool)
        )
        engine.run_stream(
            spark, source_df=self.envelope(frames),
            checkpoint_dir=os.path.join(work, "ckpt"),
        )
        return t_src, spool

    def warmup(self, spark, work: str) -> None:
        from binlake_spark.streaming import CdcEngine

        from perfbench.tracing import NoTracer

        table = _create_table(os.path.join(work, "table"), self.name)
        engine = CdcEngine(table, stream_id=STREAM)
        self._replay(spark, work, self.warm, engine, 1 << 20, NoTracer())

    def cycle(self, spark, work: str, tracer) -> Cycle:
        from binlake_spark.streaming import CdcEngine

        n_trx = len(self.wire.rows_per_trx)
        per_trigger = -(-n_trx // self.epochs)
        table = _create_table(os.path.join(work, "table"), self.name)
        commits = Commits(table)
        engine = CdcEngine(table, stream_id=STREAM, alarms=commits)
        with tracer.engine(engine):
            t_src, spool = self._replay(
                spark, work, self.wire, engine, per_trigger, tracer
            )
        blobs = sum(1 for f in os.listdir(spool) if f.endswith(".parquet"))
        per_epoch = [
            sum(self.wire.rows_per_trx[i : i + per_trigger])
            for i in range(0, n_trx, per_trigger)
        ]
        c = Cycle(
            t_src=t_src, commits=commits, events=sum(per_epoch),
            input_bytes=self.input_bytes, oracle_bytes=self.oracle_bytes,
            lag_ms=np.zeros(0), table=table, blobs=blobs, spool=spool,
        )
        if blobs != n_trx:
            c.mismatches.append(f"{blobs} spool blobs for {n_trx} transactions")
        if len(commits.times) != len(per_epoch):
            c.mismatches.append(
                f"{len(commits.times)} commits for {len(per_epoch)} triggers"
            )
            return c
        c.lag_ms = _closed_loop_lags(t_src, commits.times, per_epoch)
        c.mismatches += checks.table_vs_oracle(spark, table, self.oracle)
        return c


# --------------------------------------------------------------------- #
class StreamMorIvm:
    name = "stream_mor_ivm"

    def __init__(self, seed: int, scale: str):
        size = inputs.SIZES[scale]["stream_mor_ivm"]
        self.rate = size["rate"]
        self.epochs = size["epochs"]
        # the rate stream is a pure function of its row number; the seed
        # picks the key space, which moves every event to another doc
        self.n_docs = size["n_docs"] + seed % 1000

    def _engine(self, table, alarms=None):
        from binlake_spark.streaming import CdcEngine

        return CdcEngine(
            table, stream_id=STREAM, mode="mor", mor_compact_every=MOR_COMPACT_EVERY,
            expire_every=MOR_EXPIRE_EVERY, alarms=alarms,
        )

    def _run(self, spark, work: str, engine, vocab, epochs: int, tracer) -> float:
        from binlake_spark.sources.changelog_sources import rate_changelog_stream

        src = rate_changelog_stream(
            spark, rows_per_second=self.rate, n_docs=self.n_docs,
            tokens_per_doc=TOKENS_PER_DOC, with_payload=False,
        )
        t_call = time.monotonic()
        q = engine.run_stream(
            spark, source_df=src, checkpoint_dir=os.path.join(work, "ckpt"),
            available_now=False, stop_after_epochs=epochs, timeout_s=150,
            consumers=[tracer.consumer(vocab, engine.table)],
        )
        _wait_idle(spark)
        return _source_start(q, t_call)

    def warmup(self, spark, work: str) -> None:
        from binlake_spark.lake.ivm import TokenVocabAggregate
        from perfbench.tracing import NoTracer

        table = _create_table(os.path.join(work, "table"), self.name)
        vocab = TokenVocabAggregate(table, os.path.join(work, "vocab"))
        self._run(spark, work, self._engine(table), vocab, 1, NoTracer())

    def cycle(self, spark, work: str, tracer) -> Cycle:
        """The query stops once epoch ``epochs - 1`` has committed, which
        can interrupt that epoch after its commit, before the alarms
        object sees it: it is in the table and the oracle, but not in the
        timing, which covers the observed commits."""
        from binlake_spark.lake.ivm import TokenVocabAggregate

        table = _create_table(os.path.join(work, "table"), self.name)
        commits = Commits(table)
        engine = self._engine(table, commits)
        vocab = TokenVocabAggregate(table, os.path.join(work, "vocab"))
        with tracer.engine(engine):
            t_src = self._run(spark, work, engine, vocab, self.epochs, tracer)
        # the interrupted epoch (if any) committed without its refresh;
        # the next refresh catches the rollup up
        vocab.refresh(spark)
        # seqs are contiguous from 1, so each epoch made visible the seqs
        # above the previous epoch's maximum; seq v was due at v / rate
        tops = [max((p["max_seq"] for p in r.partitions), default=0) for r in commits.results]
        tops = np.maximum.accumulate(np.asarray(tops, dtype=np.int64))
        lags, lo = [], 0
        for t, hi in zip(commits.times, tops):
            seqs = np.arange(lo + 1, hi + 1, dtype=np.float64)
            lags.append((t - t_src) * 1000.0 - seqs * 1000.0 / self.rate)
            lo = hi
        events = int(tops[-1]) if len(tops) else 0
        applied = max(map(int, table.snapshot()["watermarks"].values()), default=0)
        c = Cycle(
            t_src=t_src, commits=commits, events=events,
            input_bytes=events * checks.rate_event_bytes(TOKENS_PER_DOC),
            oracle_bytes=0, lag_ms=np.concatenate(lags) if lags else np.zeros(0),
            table=table, vocab=vocab,
        )
        if not commits.times:
            c.mismatches.append("no epoch committed")
            return c
        c.oracle_bytes, bad = checks.stream_vs_sql(
            spark, table, vocab, self.n_docs, TOKENS_PER_DOC, applied
        )
        c.mismatches += bad
        return c


def _source_start(query, fallback: float) -> float:
    """The monotonic instant the rate source started counting: the start
    of the query's first trigger, which creates the source.  Seq ``v`` is
    created ``v / rate`` seconds later."""
    from datetime import datetime

    progress = query.recentProgress
    if not progress:
        return fallback
    wall = datetime.fromisoformat(progress[0]["timestamp"].replace("Z", "+00:00"))
    return time.monotonic() - (time.time() - wall.timestamp())


def _wait_idle(spark, timeout_s: float = 60.0) -> None:
    """Wait until no Spark job runs: stopping the query can leave the
    epoch it interrupted finishing its commit."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout_s
    quiet = 0
    while time.monotonic() < deadline and quiet < 3:
        quiet = quiet + 1 if not tracker.getActiveJobsIds() else 0
        time.sleep(0.1)


WORKLOADS = {w.name: w for w in (ReplayCow, StreamMorIvm, WireReplay)}
