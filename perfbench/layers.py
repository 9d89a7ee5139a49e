"""Per-layer metrics of a traced run, and the end-to-end metric each should
move.

Layers are the engine's packages: ``streaming`` (MicroBatchRunner,
CdfTailReplicator), ``engine`` (Engine.apply_epoch),
``operators`` (clean/validate and the bucketed dedup, run standalone on one
epoch slice into a noop sink) and ``lake`` (LakeTable merge, maintenance and
reads). Every workload reports every metric; a layer a workload does not
exercise reads 0.
"""

from __future__ import annotations

import os

from spans import median_or_zero, self_times, span_work

# spans recorded around public calls -> the end-to-end metric their Spark
# work (.tasks/.gc_s/.spill_bytes, per call) feeds
SPANS = {
    "streaming.runner_run": ("events_per_cpu_s", "backlog_replay"),
    "streaming.cdf_poll": ("read_cpu_s", "serve_mixed"),
    "engine.apply_epoch": ("batch_cpu_s_p50", "all"),
    "operators.clean_validate": ("events_per_cpu_s", "backlog_replay"),
    "operators.dedup": ("events_per_cpu_s", "backlog_replay"),
    "lake.merge": ("batch_cpu_s_p50", "all"),
    "lake.compact": ("maintenance_cpu_s", "all"),
    "lake.expire_snapshots": ("maintenance_cpu_s", "all"),
    "lake.lookup": ("read_cpu_s", "all"),
    "lake.scan": ("read_cpu_s", "all"),
}

# name -> (unit, better, (end-to-end metric, workload) it should move)
TARGETS = {
    "streaming.runner_self_s": ("s", "lower", ("events_per_cpu_s", "backlog_replay")),
    "streaming.cdf_poll_s": ("s", "lower", ("read_cpu_s", "serve_mixed")),
    "streaming.cdf_rows_per_poll": ("count", "higher", ("read_cpu_s", "serve_mixed")),
    "engine.apply_epoch_self_s": ("s", "lower", ("batch_cpu_s_p50", "serve_mixed")),
    "engine.jobs_per_epoch": ("count", "lower", ("batch_cpu_s_p50", "serve_mixed")),
    "engine.shuffle_write_bytes_per_event": ("B", "lower", ("events_per_cpu_s", "backlog_replay")),
    # skew idles cores: it costs wall time, not CPU
    "engine.task_skew": ("ratio", "lower", ("events_per_s", "backlog_replay")),
    # useful-outcome ratios: a change must not move them
    "engine.rejected_frac": ("ratio", "lower", ("none", "all")),
    "engine.keys_changed_per_event": ("ratio", "higher", ("none", "all")),
    "operators.clean_validate_s": ("s", "lower", ("events_per_cpu_s", "backlog_replay")),
    "operators.dedup_s": ("s", "lower", ("events_per_cpu_s", "backlog_replay")),
    "operators.dedup_shuffle_bytes": ("B", "lower", ("events_per_cpu_s", "backlog_replay")),
    # per-event operator time over one epoch slice / median apply_epoch
    "operators.share_of_epoch": ("ratio", "lower", ("events_per_cpu_s", "backlog_replay")),
    "lake.merge_s": ("s", "lower", ("events_per_cpu_s", "all")),
    "lake.merge_files_written": ("count", "lower", ("events_per_cpu_s", "all")),
    "lake.write_bytes_per_event": ("B", "lower", ("events_per_cpu_s", "all")),
    "lake.manifest_bytes": ("B", "lower", ("batch_cpu_s_p50", "serve_mixed")),
    "lake.maintenance_bytes_rewritten": ("B", "lower", ("maintenance_cpu_s", "all")),
    "lake.files_expired": ("count", "higher", ("maintenance_cpu_s", "all")),
    "lake.delta_depth_max": ("count", "lower", ("read_cpu_s", "serve_mixed")),
    "lake.lookup_files_read_frac": ("ratio", "lower", ("read_cpu_s", "serve_mixed")),
    "lake.lookup_jobs": ("count", "lower", ("read_cpu_s", "serve_mixed")),
    "lake.scan_rows_read_per_row": ("ratio", "lower", ("read_cpu_s", "serve_mixed")),
    "lake.storage_bytes_per_live_byte": ("ratio", "lower", ("storage_amp", "all")),
    "trace.untraced_events_per_cpu_s": ("1/cpu_s", "higher", ("events_per_cpu_s", "all")),
    "trace.traced_events_per_cpu_s": ("1/cpu_s", "higher", ("events_per_cpu_s", "all")),
    "trace.overhead_frac": ("ratio", "lower", ("none", "all")),
}
for _s, _target in SPANS.items():
    TARGETS[f"{_s}.tasks"] = ("count", "lower", _target)
    TARGETS[f"{_s}.gc_s"] = ("s", "lower", _target)
    TARGETS[f"{_s}.spill_bytes"] = ("B", "lower", _target)


def _named(spans, name):
    return [s for s in spans if s.name == name]


def _skew(work) -> float:
    """max / median task run time of the stage that read the most shuffle
    bytes (the dedup reduce stage of an epoch)."""
    if not work.stages:
        return 0.0
    _, runs = max(work.stages.values(), key=lambda st: st[0])
    mid = median_or_zero(runs)
    return max(runs) / mid if mid else 0.0


def derive(spans, groups, pass_out: dict, extras: dict) -> dict[str, float]:
    """Every per-layer metric from the traced pass. ``extras`` carries the
    numbers measured outside spans (throughput of the traced and untraced
    passes, engine metrics/lineage sums)."""
    selfs = self_times(spans)
    m: dict[str, float] = {k: 0.0 for k in TARGETS}
    events = pass_out["events"]

    applies = _named(spans, "engine.apply_epoch")
    apply_ids = {s.id for s in applies}
    if applies:
        incl = [span_work(spans, groups, s.id, inclusive=True) for s in applies]
        m["engine.apply_epoch_self_s"] = median_or_zero(selfs[s.id] for s in applies)
        m["engine.jobs_per_epoch"] = median_or_zero(w.jobs for w in incl)
        m["engine.shuffle_write_bytes_per_event"] = (
            sum(w.shuffle_write_bytes for w in incl) / events
        )
        m["engine.task_skew"] = median_or_zero(_skew(w) for w in incl)

    runs = _named(spans, "streaming.runner_run")
    m["streaming.runner_self_s"] = sum(selfs[s.id] for s in runs)
    polls = _named(spans, "streaming.cdf_poll")
    m["streaming.cdf_poll_s"] = median_or_zero(s.duration for s in polls)
    # change rows each poll merged into the replica (one per changed key)
    m["streaming.cdf_rows_per_poll"] = median_or_zero(
        span_work(spans, groups, s.id, inclusive=True).output_records for s in polls
    )

    m["engine.rejected_frac"] = extras["rejected"] / max(extras["events_in"], 1)
    m["engine.keys_changed_per_event"] = extras["keys_changed"] / max(
        extras["events_in"], 1
    )

    for name, key in (("operators.clean_validate", "operators.clean_validate_s"),
                      ("operators.dedup", "operators.dedup_s")):
        m[key] = median_or_zero(s.duration for s in _named(spans, name))
    if applies:
        # the slice is the first WAL file: one epoch on backlog_replay
        m["operators.share_of_epoch"] = (
            m["operators.clean_validate_s"] + m["operators.dedup_s"]
        ) / median_or_zero(s.duration for s in applies)
    dd = _named(spans, "operators.dedup")
    if dd:
        m["operators.dedup_shuffle_bytes"] = median_or_zero(
            span_work(spans, groups, s.id, inclusive=True).shuffle_write_bytes
            for s in dd
        )

    merges = [s for s in _named(spans, "lake.merge") if s.parent in apply_ids]
    if merges:
        m["lake.merge_s"] = median_or_zero(s.duration for s in merges)
        m["lake.merge_files_written"] = median_or_zero(
            s.attrs.get("result", {}).get("delta_files", 0) for s in merges
        )
        m["lake.write_bytes_per_event"] = sum(
            span_work(spans, groups, s.id, inclusive=True).output_bytes for s in merges
        ) / events
        m["lake.delta_depth_max"] = max(s.attrs.get("delta_depth", 0) for s in merges)
    table = pass_out["table"]
    sid = table.current_snapshot()["snapshot_id"]
    m["lake.manifest_bytes"] = os.path.getsize(
        os.path.join(table.meta_dir, f"v{sid:08d}.json")
    )
    m["lake.maintenance_bytes_rewritten"] = sum(
        span_work(spans, groups, s.id, inclusive=True).output_bytes
        for s in spans
        if s.name == "lake.compact"
    )
    m["lake.files_expired"] = sum(
        s.attrs.get("result", {}).get("removed_files", 0)
        for s in _named(spans, "lake.expire_snapshots")
    )
    lookups = _named(spans, "lake.lookup")
    m["lake.lookup_files_read_frac"] = median_or_zero(
        st["files_read"] / st["files_in_buckets"]
        for s in lookups
        if (st := s.attrs.get("result", {})).get("files_in_buckets")
    )
    m["lake.lookup_jobs"] = median_or_zero(
        span_work(spans, groups, s.id, inclusive=True).jobs for s in lookups
    )
    m["lake.scan_rows_read_per_row"] = median_or_zero(
        span_work(spans, groups, s.id, inclusive=True).input_records / s.attrs["rows"]
        for s in _named(spans, "lake.scan")
        if s.attrs.get("rows")
    )
    m["lake.storage_bytes_per_live_byte"] = pass_out["storage_amp"]

    m["trace.untraced_events_per_cpu_s"] = extras["untraced_events_per_cpu_s"]
    m["trace.traced_events_per_cpu_s"] = extras["traced_events_per_cpu_s"]
    m["trace.overhead_frac"] = 1.0 - (
        extras["traced_events_per_cpu_s"] / extras["untraced_events_per_cpu_s"]
    )

    for name in SPANS:
        sp = _named(spans, name)
        if not sp:
            continue
        own = [span_work(spans, groups, s.id) for s in sp]
        m[f"{name}.tasks"] = sum(w.tasks for w in own) / len(sp)
        m[f"{name}.gc_s"] = sum(w.gc_s for w in own) / len(sp)
        m[f"{name}.spill_bytes"] = sum(w.spill_bytes for w in own) / len(sp)
    return m
