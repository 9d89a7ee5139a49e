"""The benchmark's own arithmetic: percentiles, self time, event-log
parsing, the state digest, and BENCHMARK.json agreeing with the code.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import layers  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402
import walgen  # noqa: E402
from spans import (  # noqa: E402
    Span,
    parse_event_log,
    quantile,
    reportable_percentiles,
    self_times,
    span_work,
    summarize,
)


# ------------------------------------------------------------ percentiles
def test_percentile_rule_needs_ten_samples_beyond():
    assert reportable_percentiles(0) == []
    assert reportable_percentiles(1) == [50]
    assert reportable_percentiles(99) == [50]
    assert reportable_percentiles(100) == [50, 90]
    assert reportable_percentiles(999) == [50, 90]
    assert reportable_percentiles(1000) == [50, 90, 99]
    assert reportable_percentiles(10_000) == [50, 90, 99, 99.9]


def test_quantile_interpolates_and_summary_reports_supported_only():
    assert quantile([3, 1, 2], 0.5) == 2
    assert quantile([1, 2, 3, 4], 0.5) == 2.5
    assert quantile([1, 2, 3, 4], 0.25) == 1.75
    assert quantile([5], 0.9) == 5
    s = summarize(range(1, 101))
    assert s["n"] == 100 and s["p50"] == 50.5 and "p90" in s and "p99" not in s
    assert "p90" not in summarize(range(50))
    with pytest.raises(ValueError):
        quantile([], 0.5)


# -------------------------------------------------------------- self time
def test_self_time_subtracts_union_of_children():
    spans = [
        Span("a", "root", None, 0.0, 10.0),
        Span("b", "child", "a", 1.0, 4.0),
        Span("c", "child", "a", 3.0, 5.0),  # overlaps b: counted once
        Span("d", "child", "a", 9.0, 12.0),  # clipped to the parent
        Span("e", "grandchild", "b", 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st["a"] == pytest.approx(10 - 4 - 1)
    assert st["b"] == pytest.approx(3 - 0.5)
    assert st["c"] == pytest.approx(2)
    assert st["e"] == pytest.approx(0.5)


# -------------------------------------------------------------- event log
def _task(stage, run_ms, gc_ms=0, shuffle_write=0, shuffle_read=0, out=0,
          out_records=0, records=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": shuffle_read},
            "Output Metrics": {"Bytes Written": out, "Records Written": out_records},
            "Input Metrics": {"Records Read": records},
        },
    }


def test_event_log_joins_tasks_to_job_groups(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb0"}},
        _task(0, 10, gc_ms=5, shuffle_write=100, records=7),
        _task(1, 30, shuffle_read=60, out=40, out_records=3),
        _task(1, 10, shuffle_read=40, out=2, spill=9),
        # job 1 reuses stage 1 (skipped) and runs stage 2 under another group
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "pb1"}},
        _task(2, 4),
        # an untagged job
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},
        _task(3, 1),
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = parse_event_log(str(log))
    a, b = g["pb0"], g["pb1"]
    assert (a.jobs, a.tasks, a.gc_s, a.spill_bytes) == (1, 3, 0.005, 9)
    assert (a.shuffle_write_bytes, a.shuffle_read_bytes) == (100, 100)
    assert (a.output_bytes, a.output_records, a.input_records) == (42, 3, 7)
    assert a.stages[1] == [100, [30, 10]]
    assert (b.jobs, b.tasks) == (1, 1)
    assert g[""].tasks == 1

    spans = [Span("pb0", "engine.apply_epoch", None, 0, 1),
             Span("pb1", "lake.merge", "pb0", 0.2, 0.5)]
    assert span_work(spans, g, "pb0").tasks == 3
    assert span_work(spans, g, "pb0", inclusive=True).tasks == 4
    assert layers._skew(a) == 1.5  # stage 1 read most shuffle: 30 / 20


# ------------------------------------------------------------------ state
def test_state_digest_is_order_independent_and_sensitive():
    rows = [("r", "a", "s1", 1), ("r", "b", "s2", 2), ("q", "a", "s3", 3)]
    d = reference.state_digest(rows)
    assert d == reference.state_digest(reversed(rows))
    assert d[0] == 3
    assert reference.state_digest(rows[:2]) != d
    assert reference.state_digest([("r", "a", "s1", 9)] + rows[1:]) != d
    assert reference.state_digest([("r", "a", "sX", 1)] + rows[1:]) != d
    assert reference.state_digest([]) == (0, "0000000000000000")


def test_reference_applies_rejects_renames_and_tombstones(tmp_path):
    tbl = walgen.generate(11, 3000)
    files = walgen.write_files(tbl, str(tmp_path), [0, 1500, 3000])
    ref = reference.ReferenceState(files, 3000)
    # brute-force replay in lsn order, the engine's documented semantics
    state = {}
    for ev in sorted(tbl.to_pylist(), key=lambda e: e["lsn"]):
        op = ev["op"]
        if op.startswith("SCHEMA") or not ev["commit"].strip():
            continue
        content = (ev["content"] or "").strip(reference._TRIM)
        key = (ev["repo"], ev["path"])
        if op == "DELETE":
            state[key] = None
        elif op == "RENAME":
            if ev["new_path"] != ev["path"]:
                state[key] = None
            state[(ev["repo"], ev["new_path"])] = (content, ev["lsn"])
        else:
            state[key] = (content, ev["lsn"])
    import hashlib

    want = {
        k: (hashlib.sha256(v[0].encode()).hexdigest(), v[1])
        for k, v in state.items() if v is not None
    }
    assert ref.live == want
    assert ref.deleted == {k for k, v in state.items() if v is None}
    assert reference.ReferenceState(files, 1500).live != ref.live


def test_generator_is_seeded():
    a = walgen.generate(5, 500)
    assert a.equals(walgen.generate(5, 500))
    b = walgen.generate(6, 500)
    # the seed moves keys and ops, not only content
    assert a.column("repo").to_pylist() != b.column("repo").to_pylist()
    assert a.column("op").to_pylist() != b.column("op").to_pylist()


def test_read_mix_is_fixed_and_keys_are_seeded():
    import numpy as np

    import workloads

    ref = type("Ref", (), {})()
    ref.live = {(walgen.repo_name(0), f"p{i}"): ("sha", i) for i in range(30)}
    ref.live.update({(walgen.repo_name(r), "p"): ("sha", 0) for r in (1, 2, 3)})
    ref.deleted = {(walgen.repo_name(4), "gone")}
    mix = ("live", "deleted", "absent", "live")
    keys = workloads.lookup_keys(np.random.default_rng(1), ref, mix)
    assert [k in ref.live for k in keys] == [True, False, False, True]
    assert keys[1] in ref.deleted
    assert keys[2] not in ref.deleted
    other = workloads.lookup_keys(np.random.default_rng(2), ref, mix)
    assert [k in ref.live for k in other] == [True, False, False, True]
    # the hot repo is the one with the most live rows; cold ones are the rest
    repos = workloads.scan_repos(np.random.default_rng(1), ref, ("hot", "cold", "cold"))
    assert repos[0] == walgen.repo_name(0)
    assert walgen.repo_name(0) not in repos[1:]


def test_host_slowdown_is_median_probe_cpu_over_reference():
    import workloads

    ref = workloads.PROBE_REF_CPU_S
    # (wall, cpu, unstolen wall): only CPU counts, as a median, so one
    # burst does not move it
    probe = [(9.0, 1.5 * ref, 0.1), (0.1, 1.4 * ref, 9.0), (0.1, 9 * ref, 0.1)]
    assert workloads.host_slowdown(probe) == pytest.approx(1.5)


# ------------------------------------------------------- BENCHMARK.json
def test_benchmark_json_matches_code():
    root = os.path.dirname(BENCH)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == (
        run.END_TO_END
    )
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        k: v[:2] for k, v in layers.TARGETS.items()
    }


# ------------------------------------------------------------- CPU clock
def test_proc_stat_parsing_and_steal_share(tmp_path):
    import workloads

    # comm may hold spaces and parentheses; utime/stime are fields 14/15
    stat = tmp_path / "stat"
    rest = ["S"] + ["0"] * 10 + ["250", "50"] + ["0"] * 30
    stat.write_text("4242 (C2 CompilerThre (x)) " + " ".join(rest) + "\n")
    assert workloads._stat_cpu_ticks(str(stat)) == ("C2 CompilerThre (x)", 300)
    # busy = user + nice + system + irq + softirq; idle and iowait excluded
    assert workloads.steal_frac((100, 10), (190, 20)) == pytest.approx(10 / 100)
    assert workloads.steal_frac((5, 5), (5, 5)) == 0.0
    assert workloads.unstolen(2.0, (100, 10), (190, 20)) == pytest.approx(1.8)
