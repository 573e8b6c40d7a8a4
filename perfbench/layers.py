"""Per-layer metrics of the traced run.

``METRICS`` is the single list of per-layer metrics: each entry names the
metric, its unit, which direction is better, and the end-to-end metric it
should move on which workload. ``BENCHMARK.json``'s ``per_layer`` mirrors it
(a test keeps the two equal).

:func:`install` wraps the package's public callables in spans; the
workloads add spans of their own around calls whose work happens after
the call returns (a lazy DataFrame's ``collect``/``count``).
"""

from __future__ import annotations

import os
import statistics

from perfbench import sweep
from perfbench.trace import EventLog, SpanStats, span_stats

# (name, unit, better, moves)
METRICS: list[tuple[str, str, str, str]] = [
    ("session.start_s", "s", "lower", "setup_s, both workloads"),
    ("session.warm_s", "s", "lower", "setup_s, both workloads"),
    ("discovery.list_s", "s", "lower", "op_p50_s on cdc_tail"),
    ("discovery.files_listed", "count", "lower", "op_p50_s on cdc_tail"),
    ("watermarks.load_s", "s", "lower", "op_p50_s on cdc_tail"),
    ("watermarks.commit_s", "s", "lower", "op_p50_s on cdc_tail"),
    ("watermarks.tracked_files", "count", "lower", "op_p50_s on cdc_tail"),
    ("watermarks.store_bytes", "bytes", "lower", "op_p50_s on cdc_tail"),
    ("readers.plan_s", "s", "lower", "op_p50_s on cdc_tail"),
    ("readers.native_files", "count", "higher", "op_p50_s on cdc_tail (rotated files)"),
    ("readers.scanner_files", "count", "lower", "op_p50_s on cdc_tail"),
    ("readers.scan_task_s", "s", "lower", "op_p50_s on cdc_tail"),
    ("readers.input_bytes", "bytes", "lower", "op_p50_s on cdc_tail"),
    ("readers.records", "count", "higher", "throughput_per_s on cdc_tail"),
    ("readers.quarantined", "count", "lower", "throughput_per_s on cdc_tail"),
    ("engine.run_once_s", "s", "lower", "op_p50_s on cdc_tail"),
    ("engine.self_s", "s", "lower", "op_p50_s on cdc_tail"),
    ("engine.driver_s", "s", "lower", "op_p50_s on cdc_tail"),
    ("engine.jobs", "count", "lower", "op_p50_s on cdc_tail"),
    ("engine.stages", "count", "lower", "op_p50_s on cdc_tail"),
    ("engine.tasks", "count", "lower", "op_p50_s on cdc_tail"),
    ("engine.cpu_s", "s", "lower", "op_p50_s on cdc_tail"),
    ("engine.gc_s", "s", "lower", "op_p50_s on cdc_tail"),
    ("lake.merge_s", "s", "lower", "op_p50_s on cdc_tail and query_sweep"),
    ("lake.merge.jobs", "count", "lower", "op_p50_s on cdc_tail"),
    ("lake.merge.driver_s", "s", "lower", "op_p50_s on cdc_tail"),
    ("lake.merge.map_task_s", "s", "lower", "op_p50_s on cdc_tail and query_sweep"),
    ("lake.merge.write_task_s", "s", "lower", "op_p50_s on cdc_tail and query_sweep"),
    ("lake.merge.max_task_s", "s", "lower", "op_p50_s on cdc_tail and query_sweep"),
    ("lake.merge.shuffle_write_bytes", "bytes", "lower", "op_p50_s on cdc_tail"),
    ("lake.merge.output_bytes", "bytes", "lower", "op_p50_s on cdc_tail"),
    ("lake.merge.files_added", "count", "lower", "throughput_per_s on cdc_tail (reads)"),
    ("lake.merge.affected_buckets", "count", "lower", "op_p50_s on cdc_tail"),
    ("lake.compact_s", "s", "lower", "throughput_per_s on cdc_tail (maintenance pause)"),
    ("lake.compact.files_removed", "count", "higher", "throughput_per_s on cdc_tail"),
    ("lake.compact.bytes_rewritten", "bytes", "lower", "throughput_per_s on cdc_tail"),
    ("lake.vacuum_s", "s", "lower", "throughput_per_s on cdc_tail (maintenance pause)"),
    ("lake.vacuum.files_removed", "count", "higher", "throughput_per_s on cdc_tail"),
    ("lake.live_files", "count", "lower", "throughput_per_s on cdc_tail (reads, MV)"),
    ("lake.max_files_per_bucket", "count", "lower", "throughput_per_s on cdc_tail (reads)"),
    ("lake.log_versions", "count", "lower", "throughput_per_s on cdc_tail (reads)"),
    ("lake.bytes_per_event", "bytes", "lower", "throughput_per_s on cdc_tail (reads)"),
    ("lake.read_key_s", "s", "lower", "throughput_per_s on cdc_tail (point lookups)"),
    ("lake.read_key.jobs", "count", "lower", "throughput_per_s on cdc_tail"),
    ("lake.read_key.tasks", "count", "lower", "throughput_per_s on cdc_tail"),
    ("lake.read_key.input_bytes", "bytes", "lower", "throughput_per_s on cdc_tail"),
    ("lake.read_key.driver_s", "s", "lower", "throughput_per_s on cdc_tail"),
    ("lake.read_range_s", "s", "lower", "throughput_per_s on cdc_tail (range reads)"),
    ("lake.read_range.files_opened", "count", "lower", "throughput_per_s on cdc_tail"),
    ("lake.read_range.input_bytes", "bytes", "lower", "throughput_per_s on cdc_tail"),
    ("lake.read_range.task_s", "s", "lower", "throughput_per_s on cdc_tail"),
    ("mv.refresh_s", "s", "lower", "throughput_per_s on cdc_tail (MV refresh)"),
    ("mv.refresh.jobs", "count", "lower", "throughput_per_s on cdc_tail"),
    ("mv.refresh.driver_s", "s", "lower", "throughput_per_s on cdc_tail"),
    ("mv.refresh.task_s", "s", "lower", "throughput_per_s on cdc_tail"),
    ("mv.refresh.files_read", "count", "lower", "throughput_per_s on cdc_tail"),
    ("mv.refresh.groups_refreshed", "count", "lower", "throughput_per_s on cdc_tail"),
    ("sweep.jobs", "count", "lower", "throughput_per_s on query_sweep"),
    ("sweep.tasks", "count", "lower", "throughput_per_s on query_sweep"),
    ("sweep.task_s", "s", "lower", "throughput_per_s on query_sweep"),
    ("sweep.driver_s", "s", "lower", "throughput_per_s on query_sweep"),
    ("sweep.cpu_s", "s", "lower", "throughput_per_s on query_sweep"),
    ("sweep.gc_s", "s", "lower", "throughput_per_s on query_sweep"),
] + [
    (f"sweep.{q}_s", "s", "lower", "op_p50_s and throughput_per_s on query_sweep")
    for q in sweep.LEAVES
]


def install(tracer) -> None:
    """Wrap the public callables whose time the per-layer metrics split."""
    if not tracer.enabled:
        return
    from kafka_connect_fs_spark.plans import lake as lake_mod
    from kafka_connect_fs_spark.plans import materialized as mv_mod
    from kafka_connect_fs_spark.sources import watermarks as wm_mod
    from kafka_connect_fs_spark.streaming import engine as eng_mod

    def files_listed(sp, args, kwargs, out):
        sp.attrs["files"] = len(out)

    def read_items(sp, args, kwargs, out):
        items = args[1] if len(args) > 1 else kwargs.get("items", [])
        sp.attrs["files"] = len(items)
        sp.attrs["bytes"] = sum(w.snap_length - w.start_offset for w in items)

    def batch(sp, args, kwargs, out):
        sp.attrs["events"] = out.n_events
        sp.attrs["rows"] = out.rows_written

    def merge(sp, args, kwargs, out):
        sp.attrs.update(out.metrics)

    def compact(sp, args, kwargs, out):
        sp.attrs["files_removed"] = len(out.removed) if out is not None else 0

    def vacuum(sp, args, kwargs, out):
        sp.attrs["files_removed"] = out

    def refresh(sp, args, kwargs, out):
        sp.attrs["files_read"] = out.n_files_read
        sp.attrs["groups"] = out.n_groups_refreshed

    def tracked(sp, args, kwargs, out):
        sp.attrs["tracked"] = len(out)

    T = tracer
    T.wrap(eng_mod.IngestEngine, "run_once", "engine.run_once", batch)
    T.wrap(eng_mod, "list_files", "discovery.list", files_listed)
    T.wrap(eng_mod, "read_lines", "readers.scanner", read_items)
    T.wrap(eng_mod, "read_line_format_native", "readers.native", read_items)
    T.wrap(wm_mod.WatermarkStore, "load_dict", "watermarks.load", tracked)
    T.wrap(wm_mod.WatermarkStore, "commit", "watermarks.commit")
    T.wrap(lake_mod.LakeTable, "merge", "lake.merge", merge)
    T.wrap(lake_mod.LakeTable, "compact", "lake.compact", compact)
    T.wrap(lake_mod.LakeTable, "vacuum", "lake.vacuum", vacuum)
    T.wrap(lake_mod.LakeTable, "read_key", "lake.read_key.plan")
    T.wrap(lake_mod.LakeTable, "read_range", "lake.read_range.plan")
    T.wrap(mv_mod.IncrementalRollup, "refresh", "mv.refresh", refresh)


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def collect(run, log: EventLog, watermark_dir: str | None = None) -> dict:
    """Per-layer metrics from the measured window's spans: medians per call
    (per ``run_once`` for the readers' metrics); 0 where a workload does not
    reach the layer."""
    by: dict[str, list[SpanStats]] = {}
    for s in span_stats(run.tracer.spans, log):
        by.setdefault(s.span.name, []).append(s)

    def g(name: str) -> list[SpanStats]:
        return by.get(name, [])

    runs = g("engine.run_once")
    readers = g("readers.scanner") + g("readers.native")
    # the MV is itself a lake table: merges inside a refresh are the MV's
    merges = [m for m in g("lake.merge") if not any(_inside(m, r) for r in g("mv.refresh"))]

    def per_run_once(spans, f) -> float:
        return _med(f([s for s in spans if _inside(s, ro)]) for ro in runs)

    def attr(spans, key):
        return _med(s.span.attrs.get(key, 0) for s in spans)

    def dur(spans):
        return _med(s.span.dur for s in spans)

    def field(spans, name):
        return _med(getattr(s, name) for s in spans)

    m = {k: 0.0 for k, *_ in METRICS}
    m["session.start_s"] = run.setup.get("session.start", 0.0)
    m["session.warm_s"] = run.setup.get("session.warm", 0.0)

    lst, load = g("discovery.list"), g("watermarks.load")
    m["discovery.list_s"] = dur(lst)
    m["discovery.files_listed"] = attr(lst, "files")
    m["watermarks.load_s"] = dur(load)
    m["watermarks.commit_s"] = dur(g("watermarks.commit"))
    m["watermarks.tracked_files"] = attr(load, "tracked")
    if watermark_dir and os.path.isdir(watermark_dir):
        m["watermarks.store_bytes"] = _dir_bytes(watermark_dir)

    m["readers.plan_s"] = per_run_once(readers, lambda ks: sum(k.span.dur for k in ks))
    for key, spans in (("native", g("readers.native")), ("scanner", g("readers.scanner"))):
        m[f"readers.{key}_files"] = per_run_once(
            spans, lambda ks: sum(k.span.attrs["files"] for k in ks)
        )
    m["readers.input_bytes"] = per_run_once(
        readers, lambda ks: sum(k.span.attrs["bytes"] for k in ks)
    )
    # the scanner's lines are scanned and cached by the engine's offset-stats
    # job, which runs inside run_once but outside the merge; on the native
    # path the scan is fused into the merge's map stage instead
    m["readers.scan_task_s"] = _med(
        ro.task_s - sum(mg.task_s for mg in merges if _inside(mg, ro)) for ro in runs
    )
    m["readers.records"] = attr(runs, "events")
    m["readers.quarantined"] = _med(
        s.span.attrs["events"] - s.span.attrs["rows"] for s in runs
    )

    m["engine.run_once_s"] = dur(runs)
    for f in ("self_s", "driver_s", "jobs", "stages", "tasks", "cpu_s", "gc_s"):
        m[f"engine.{f}"] = field(runs, f)

    m["lake.merge_s"] = dur(merges)
    for name, f in (
        ("jobs", "jobs"), ("driver_s", "driver_s"), ("map_task_s", "map_task_s"),
        ("write_task_s", "result_task_s"), ("max_task_s", "max_task_s"),
        ("shuffle_write_bytes", "shuffle_write_bytes"), ("output_bytes", "output_bytes"),
    ):
        m[f"lake.merge.{name}"] = field(merges, f)
    m["lake.merge.files_added"] = attr(merges, "files_added")
    m["lake.merge.affected_buckets"] = attr(merges, "affected_buckets")

    comp, vac = g("lake.compact"), g("lake.vacuum")
    m["lake.compact_s"] = dur(comp)
    m["lake.compact.files_removed"] = attr(comp, "files_removed")
    m["lake.compact.bytes_rewritten"] = field(comp, "output_bytes")
    m["lake.vacuum_s"] = dur(vac)
    m["lake.vacuum.files_removed"] = attr(vac, "files_removed")

    rk, rr = g("read_key"), g("read_range")
    m["lake.read_key_s"] = dur(rk)
    for f in ("jobs", "tasks", "input_bytes", "driver_s"):
        m[f"lake.read_key.{f}"] = field(rk, f)
    m["lake.read_range_s"] = dur(rr)
    m["lake.read_range.files_opened"] = attr(rr, "files")
    m["lake.read_range.input_bytes"] = field(rr, "input_bytes")
    m["lake.read_range.task_s"] = field(rr, "task_s")

    mv = g("mv.refresh")
    m["mv.refresh_s"] = dur(mv)
    for f in ("jobs", "driver_s", "task_s"):
        m[f"mv.refresh.{f}"] = field(mv, f)
    m["mv.refresh.files_read"] = attr(mv, "files_read")
    m["mv.refresh.groups_refreshed"] = attr(mv, "groups")

    sweep_spans = g("sweep")
    for f in ("jobs", "tasks", "task_s", "driver_s", "cpu_s", "gc_s"):
        m[f"sweep.{f}"] = field(sweep_spans, f)
    m.update(run.layer)
    return m


def _inside(child: SpanStats, parent: SpanStats) -> bool:
    c, p = child.span, parent.span
    return p.start <= c.start and c.end <= p.end
