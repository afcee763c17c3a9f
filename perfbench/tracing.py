"""Spans recorded from the benchmark's side of each layer boundary.

A span wraps one call into a layer's public function.  While it is open
its Spark jobs run under a job group of their own, so the per-stage
executor run time, CPU time, input bytes and shuffle bytes of each span
can be read back from the JVM status store after the run.  Spans stay in
memory until the run ends.  The untraced run uses ``NoTracer``, whose
hooks leave the engine untouched.
"""

from __future__ import annotations

import contextlib
import threading
import time

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class NoTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}

    @contextlib.contextmanager
    def engine(self, engine):
        yield

    def consumer(self, consumer, table):
        return consumer


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in tracing bookkeeping
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t_in = time.monotonic()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        sp = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "group": f"perfbench-{name}-{sid}",
            **attrs,
        }
        saved = {k: self.sc.getLocalProperty(k) for k in _GROUP_PROPS}
        self.sc.setJobGroup(sp["group"], name)
        stack.append(sp)
        sp["start"] = time.monotonic()
        self.overhead_s += sp["start"] - t_in
        try:
            yield sp
        finally:
            sp["end"] = time.monotonic()
            stack.pop()
            for k, v in saved.items():
                self.sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(sp)
            self.overhead_s += time.monotonic() - sp["end"]

    def wrap(self, name: str, fn, on_result=None):
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, out)
                return out

        return traced

    @contextlib.contextmanager
    def engine(self, engine):
        """Wrap one engine instance's layers: its ``apply_batch``, the
        merge/compaction functions as bound in the engine module, its
        table's ``expire_snapshots`` and its alarms object's
        ``observe_epoch`` (benchmark bookkeeping inside the apply).
        Restored on exit."""
        import binlake_spark.streaming.engine as em

        names = ("merge_into", "merge_into_mor", "compact_buckets")
        saved = {n: getattr(em, n) for n in names}

        def on_apply(sp, out):
            # the engine calls apply_batch both positionally and by keyword
            sp.update(epoch_id=int(out.epoch_id), version=out.version, applied=out.applied)

        def on_merge(sp, out):
            sp.update(version=out.version, dirty_buckets=out.n_dirty_buckets)

        def on_compact(sp, out):
            sp.update(version=out.get("version"), buckets=out.get("compacted_buckets", 0))

        def on_expire(sp, out):
            sp.update(files_removed=int(out.get("files_removed", 0)))

        try:
            em.merge_into = self.wrap("merge", saved["merge_into"], on_merge)
            em.merge_into_mor = self.wrap("merge", saved["merge_into_mor"], on_merge)
            em.compact_buckets = self.wrap("compact", saved["compact_buckets"], on_compact)
            engine.apply_batch = self.wrap("apply", engine.apply_batch, on_apply)
            engine.table.expire_snapshots = self.wrap(
                "expire", engine.table.expire_snapshots, on_expire
            )
            if engine.alarms is not None:
                engine.alarms.observe_epoch = self.wrap(
                    "observe", engine.alarms.observe_epoch
                )
            yield
        finally:
            for n, f in saved.items():
                setattr(em, n, f)
            del engine.apply_batch
            del engine.table.expire_snapshots
            if engine.alarms is not None:
                del engine.alarms.observe_epoch

    def consumer(self, consumer, table):
        return TracedConsumer(self, consumer, table)

    # ----------------------------------------------------------------- #
    def stage_metrics(self) -> dict[str, dict[str, float]]:
        """Per span group: summed executor run ms, CPU ms, input bytes and
        shuffle-write bytes of every stage its jobs ran."""
        sc = self.sc
        jvm = sc._jvm
        stages = sc._jsc.sc().statusStore().stageList(
            None, False, False, sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        by_stage: dict[int, list[float]] = {}
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            acc = by_stage.setdefault(int(s.stageId()), [0.0, 0.0, 0.0, 0.0])
            acc[0] += s.executorRunTime()
            acc[1] += s.executorCpuTime() / 1e6
            acc[2] += s.inputBytes()
            acc[3] += s.shuffleWriteBytes()
        tracker = sc.statusTracker()
        out = {}
        for sp in self.spans:
            stage_ids = set()
            for jid in tracker.getJobIdsForGroup(sp["group"]):
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            tot = [0.0, 0.0, 0.0, 0.0]
            for s in stage_ids:
                for i, v in enumerate(by_stage.get(s, ())):
                    tot[i] += v
            out[sp["group"]] = dict(
                zip(("run_ms", "cpu_ms", "input_bytes", "shuffle_bytes"), tot)
            )
        return out


class TracedConsumer:
    """Proxy around a feed consumer (``refresh(spark)``): records the feed
    window and its changed buckets, then times the refresh in a span."""

    def __init__(self, tracer: Tracer, consumer, table):
        self.tracer = tracer
        self.inner = consumer
        self.table = table

    def refresh(self, spark):
        t = time.monotonic()
        pos = self.inner.position()
        cur = int(self.table.snapshot()["version"])
        changed = (
            len(self.table.changed_buckets(pos, cur))
            if pos is not None and pos != cur
            else 0
        )
        self.tracer.overhead_s += time.monotonic() - t
        with self.tracer.span(
            "ivm", from_version=pos, to_version=cur, changed_buckets=changed
        ):
            return self.inner.refresh(spark)

    def __getattr__(self, name):
        return getattr(self.inner, name)
