"""Per-layer metrics of a traced run, computed from the spans the
benchmark's wrappers recorded, the commit log of each cycle, the lineage
``phase_ms`` the engine commits, and the Spark status store.

Times are medians over the measured epochs (or refreshes, dumps);
``*_runs`` and ``files_removed`` are totals over the run; ``table.*`` is
the last cycle's final table.  A layer a workload bypasses reports 0.
"""

from __future__ import annotations

import os

from perfbench.harness import median

UNITS = {
    "sources.dump_ms": "ms", "sources.blobs": "count",
    "functions.walk_ms": "ms", "functions.rows": "count",
    "engine.apply_ms": "ms", "engine.trigger_gap_ms": "ms",
    "engine.events_in": "count",
    "materialize.ms": "ms", "materialize.lineage_ms": "ms",
    "materialize.run_ms": "ms", "materialize.cpu_ms": "ms",
    "materialize.shuffle_bytes": "bytes", "evolve.ms": "ms",
    "apply.coverage": "ratio",
    "merge.ms": "ms", "merge.write_ms": "ms", "merge.footer_ms": "ms",
    "merge.commit_ms": "ms", "merge.dirty_buckets": "count",
    "merge.rows_applied": "count", "merge.rows_written": "count",
    "merge.bytes_written": "bytes", "merge.input_bytes": "bytes",
    "merge.useful_bucket_frac": "ratio",
    "maint.compact_ms": "ms", "maint.compact_runs": "count",
    "maint.expire_ms": "ms", "maint.files_removed": "count",
    "table.delta_files": "count", "table.tombstones": "count",
    "ivm.refresh_ms": "ms", "ivm.input_bytes": "bytes",
    "feed.changed_buckets": "count", "feed.rows": "count",
    "setup.session_ms": "ms", "setup.warmup_ms": "ms",
    "trace_overhead_frac": "ratio",
}
USEFUL_FRAC_EPOCHS = 8  # merges whose changed buckets are read back


def referenced_bytes(table) -> int:
    """Bytes of the data files the table's current snapshot references."""
    snap = table.snapshot()
    return sum(
        os.path.getsize(os.path.join(table.root, rel))
        for fl in [*snap["files"].values(), *snap.get("deltas", {}).values()]
        for rel in fl
    )


def _ms(sp) -> float:
    return (sp["end"] - sp["start"]) * 1000.0


def per_layer(spark, wl, cycles, tracer, setups, measured_s: float) -> dict:
    stages = tracer.stage_metrics()
    spans = sorted(tracer.spans, key=lambda s: s["start"])
    kids: dict[int, list[dict]] = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)

    v: dict[str, list[float]] = {k: [] for k in UNITS}
    totals = {"maint.compact_runs": 0, "maint.files_removed": 0}
    coverage = []
    for i, c in enumerate(cycles):
        end = cycles[i + 1].t_src if i + 1 < len(cycles) else float("inf")
        mine = [s for s in spans if c.t_src <= s["start"] < end]
        applies = [s for s in mine if s["name"] == "apply" and s.get("applied")]
        refreshes = [s for s in mine if s["name"] == "ivm"]
        lineage = c.commits.lineage
        results = {r.version: r for r in c.commits.results}
        ts = [c.t_src, *c.commits.times]
        for k, ap in enumerate(applies):
            ch = kids.get(ap["id"], [])
            merge = sum(_ms(s) for s in ch if s["name"] == "merge")
            compact = sum(_ms(s) for s in ch if s["name"] == "compact")
            expire = sum(_ms(s) for s in ch if s["name"] == "expire")
            observe = sum(_ms(s) for s in ch if s["name"] == "observe")
            ph = lineage.get(ap["version"], {}).get("phase_ms", {})
            evolve = float(ph.get("evolve_ms", 0))
            apply_ms = _ms(ap) - observe
            mat = apply_ms - merge - compact - expire - evolve
            v["engine.apply_ms"].append(apply_ms)
            v["materialize.ms"].append(mat)
            v["materialize.lineage_ms"].append(float(ph.get("materialize_ms", 0)))
            v["evolve.ms"].append(evolve)
            coverage.append((
                apply_ms,
                (float(ph.get("materialize_ms", 0)) + merge + compact + expire + evolve)
                / apply_ms if apply_ms > 0 else 0.0,
            ))
            st = stages.get(ap["group"], {})
            v["materialize.run_ms"].append(st.get("run_ms", 0.0))
            v["materialize.cpu_ms"].append(st.get("cpu_ms", 0.0))
            v["materialize.shuffle_bytes"].append(st.get("shuffle_bytes", 0.0))
            for s in ch:
                if s["name"] == "merge":
                    r = results.get(s.get("version"))
                    ph_m = lineage.get(s.get("version"), {}).get("phase_ms", {})
                    w, f = float(ph_m.get("write_ms", 0)), float(ph_m.get("footer_ms", 0))
                    v["merge.ms"].append(_ms(s))
                    v["merge.write_ms"].append(w)
                    v["merge.footer_ms"].append(f)
                    v["merge.commit_ms"].append(_ms(s) - w - f)
                    v["merge.dirty_buckets"].append(s.get("dirty_buckets", 0))
                    if r is not None:
                        v["merge.rows_applied"].append(r.n_net)
                        v["merge.rows_written"].append(
                            sum(p["n_rows"] for p in r.partitions)
                        )
                    v["merge.bytes_written"].append(
                        c.commits.version_bytes.get(s.get("version"), 0)
                    )
                    v["merge.input_bytes"].append(
                        stages.get(s["group"], {}).get("input_bytes", 0.0)
                    )
                elif s["name"] == "compact":
                    v["maint.compact_ms"].append(_ms(s))
                    totals["maint.compact_runs"] += 1
                elif s["name"] == "expire":
                    v["maint.expire_ms"].append(_ms(s))
                    totals["maint.files_removed"] += s.get("files_removed", 0)
            if k + 1 < len(ts):
                t0, t1 = ts[k], ts[k + 1]
                prev_refresh = sum(_ms(r) for r in refreshes if t0 <= r["start"] < t1)
                v["engine.trigger_gap_ms"].append(
                    (t1 - t0) * 1000.0 - _ms(ap) - prev_refresh
                )
        events_by_epoch = _events_per_epoch(c)
        v["engine.events_in"].extend(events_by_epoch)
        for r in refreshes:
            v["ivm.refresh_ms"].append(_ms(r))
            v["ivm.input_bytes"].append(stages.get(r["group"], {}).get("input_bytes", 0.0))
            v["feed.changed_buckets"].append(r.get("changed_buckets", 0))
            lo, hi = r.get("from_version"), r.get("to_version")
            if lo is not None and hi is not None:
                v["feed.rows"].append(
                    sum(x.n_net for ver, x in results.items() if lo < ver <= hi)
                )
        dumps = [s for s in mine if s["name"] == "dump"]
        v["sources.dump_ms"].extend(_ms(s) for s in dumps)
        if c.blobs:
            v["sources.blobs"].append(c.blobs)

    out = {k: median(x) for k, x in v.items()}
    out.update(totals)
    if coverage:
        # the epoch whose apply time is the median one
        coverage.sort()
        out["apply.coverage"] = coverage[len(coverage) // 2][1]
    last = cycles[-1]
    out.update(_final_table(spark, last))
    out["merge.useful_bucket_frac"] = _useful_bucket_frac(spark, last)
    if getattr(last, "spool", None):
        out["functions.walk_ms"], out["functions.rows"] = _walk(spark, wl, last, tracer)
    out["setup.session_ms"] = median(a * 1000.0 for a, _ in setups)
    out["setup.warmup_ms"] = median(b * 1000.0 for _, b in setups)
    out["trace_overhead_frac"] = tracer.overhead_s / measured_s if measured_s else 0.0
    metrics = {k: {"value": float(out[k]), "unit": u} for k, u in UNITS.items()}
    metrics["_samples"] = {
        "epochs": len(v["engine.apply_ms"]), "refreshes": len(v["ivm.refresh_ms"]),
        "compactions": totals["maint.compact_runs"], "expiries": len(v["maint.expire_ms"]),
    }
    return metrics


def _events_per_epoch(c) -> list[int]:
    """Source events each commit made visible, from the per-event lags
    (every event of one epoch has the same closed-loop lag) or, for the
    rate stream, from each commit's seq range."""
    import numpy as np

    if c.vocab is None:
        _, counts = np.unique(c.lag_ms, return_counts=True)
        return [int(x) for x in counts]
    tops = [max((p["max_seq"] for p in r.partitions), default=0) for r in c.commits.results]
    tops = np.maximum.accumulate(np.asarray([0, *tops], dtype=np.int64))
    return [int(x) for x in np.diff(tops)]


def _final_table(spark, c) -> dict:
    snap = c.table.snapshot()
    deltas = sum(len(fl) for fl in snap.get("deltas", {}).values())
    tombstones = (
        c.table.read(spark, with_seq=True, with_tombstones=True)
        .filter("_tombstone")
        .count()
    )
    return {"table.delta_files": deltas, "table.tombstones": tombstones}


def _useful_bucket_frac(spark, c) -> float:
    """Buckets holding a real row change (per ``read_changes(v-1, v)``) ÷
    buckets the merge wrote, over the last cycle's merges whose two
    snapshots are still kept."""
    from pyspark.sql import functions as F

    table = c.table
    kept = set(table.versions())
    useful = written = 0
    for r in c.commits.results[-USEFUL_FRAC_EPOCHS:]:
        ver = r.version
        if ver is None or ver - 1 not in kept or ver not in kept or not r.n_dirty_buckets:
            continue
        ch = table.read_changes(spark, from_version=ver - 1, to_version=ver)
        useful += ch.select(table.bucket_expr().alias("_b")).agg(
            F.countDistinct("_b")
        ).first()[0]
        written += r.n_dirty_buckets
    return useful / written if written else 0.0


def _walk(spark, wl, c, tracer) -> tuple[float, int]:
    """A standalone walk of the last cycle's spool through
    ``binlog_rows_stream`` and ``envelope_from_binlog_rows`` into a noop
    sink: the wire decode layers without the engine."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from perfbench.workloads import SPOOL_SCHEMA

    obs = Observation("perfbench-walk")
    env = wl.envelope(spark.read.schema(SPOOL_SCHEMA).parquet(c.spool))
    with tracer.span("walk") as sp:
        env.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
            "overwrite"
        ).save()
    return _ms(sp), int(obs.get["rows"])
