"""Tests of the benchmark's own code: event-log parsing, span self times,
digests and the input generators. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

import gzip
import json
import os
import struct
import sys

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from digest import digest_rows, digest_table, dir_bytes  # noqa: E402
from ledger import (  # noqa: E402
    Tracer, parse_event_log, read_event_log, self_times, span_jobs, union_length,
)


def _task(stage, run_ms, cpu_ns, **extra):
    metrics = {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
               "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
               "Shuffle Read Metrics": {"Remote Bytes Read": 7, "Local Bytes Read": 3},
               "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 11,
               "Input Metrics": {"Bytes Read": 1000}}
    metrics.update(extra)
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": metrics}


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "App ID": "local-1"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "s2"}},
    _task(0, 200, 150_000_000),
    _task(0, 300, 100_000_000),
    _task(1, 100, 100_000_000),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_500},
    # a job whose second stage was skipped (no task ran in it)
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2_000, "Stage IDs": [2, 3],
     "Properties": {}},
    _task(3, 50, 50_000_000),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2_250},
]


def test_parse_event_log_sums_task_metrics_per_job():
    jobs = parse_event_log(json.dumps(e) for e in EVENTS)
    j0, j1 = jobs[0], jobs[1]
    assert j0["group"] == "s2" and j1["group"] is None
    assert (j0["submit"], j0["end"]) == (1.0, 1.5)
    assert j0["tasks"] == 3 and j0["n_stages"] == 2
    assert j0["executor_run_s"] == 0.6
    assert abs(j0["executor_cpu_s"] - 0.35) < 1e-12
    assert j0["gc_s"] == 0.015
    assert j0["shuffle_write_bytes"] == 300 and j0["shuffle_read_bytes"] == 30
    assert j0["spill_bytes"] == 33 and j0["input_bytes"] == 3000
    assert j1["n_stages"] == 1 and j1["tasks"] == 1


def test_read_event_log_rolling_layout(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = [json.dumps(e) + "\n" for e in EVENTS]
    # parts must be read in index order, not name order (events_10 < events_2)
    (d / "events_2_local-1").write_text("".join(lines[:4]))
    (d / "events_10_local-1").write_text("".join(lines[4:]))
    (d / "events_1_local-1").write_text("")
    jobs = read_event_log(str(tmp_path), "local-1")
    assert jobs[0]["tasks"] == 3 and jobs[1]["tasks"] == 1


def test_self_times_subtract_direct_children_only():
    spans = [
        {"id": "s1", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "s2", "parent": "s1", "start": 1.0, "end": 4.0},
        {"id": "s3", "parent": "s1", "start": 5.0, "end": 9.0},
        {"id": "s4", "parent": "s3", "start": 5.0, "end": 6.0},
    ]
    assert self_times(spans) == {"s1": 3.0, "s2": 3.0, "s3": 3.0, "s4": 1.0}


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4), (3.5, 3.7)]) == 3.0


def test_span_jobs_routes_by_group():
    spans = [{"id": "s1"}, {"id": "s2"}]
    jobs = parse_event_log(json.dumps(e) for e in EVENTS)
    by = span_jobs(spans, jobs)
    assert [j["submit"] for j in by["s2"]] == [1.0] and not by["s1"]


def test_tracer_records_nested_spans_without_spark():
    t = Tracer()
    with t.span("pass"):
        with t.span("a"):
            pass
    inner, outer = t.spans
    assert (inner["name"], inner["parent"]) == ("a", outer["id"])
    assert outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_digest_is_order_independent_and_row_sensitive():
    rows = [(1, "a", 0.5), (2, "b", None), (3, "c", [1, 2])]
    base = digest_rows(rows)
    assert digest_rows(list(reversed(rows))) == base
    assert digest_rows(rows[:2]) != base
    assert digest_rows(rows + [rows[0]]) != base
    assert digest_rows([(1, "a", 0.5), (2, "b", None), (3, "c", [2, 1])]) != base
    t = pa.table({"x": [1, 2, 3], "y": ["a", "b", "c"]})
    assert digest_table(t) == digest_table(t.select(["y", "x"]))
    assert digest_table(t).startswith("3:")


def test_dir_bytes_skips_checksums_and_marker(tmp_path):
    out = tmp_path / "t.parquet"
    out.mkdir()
    (out / "part-0.parquet").write_bytes(b"x" * 10)
    (out / "_meta.json").write_bytes(b"y" * 3)
    (out / ".part-0.parquet.crc").write_bytes(b"z" * 8)
    (out / "_SUCCESS").write_bytes(b"")
    assert dir_bytes(str(out)) == 13
    assert dir_bytes(str(out / "part-0.parquet")) == 10


def test_md_tag():
    assert gen.md_tag("ACGT", "ACGT") == "4"
    assert gen.md_tag("ACTT", "ACGT") == "2G1"
    assert gen.md_tag("TCGA", "ACGT") == "0A2T0"


def test_read_records_are_seeded():
    a = gen.read_records(3, 50, 20, 10)
    assert a == gen.read_records(3, 50, 20, 10)
    assert a != gen.read_records(4, 50, 20, 10)
    assert len({r["name"] for r in a}) == 80


def test_write_bam_is_valid_bgzf(tmp_path):
    recs = gen.read_records(1, 30, 10, 9)
    path = str(tmp_path / "r.bam")
    gen.write_bam(path, recs)
    raw = gzip.open(path).read()  # BGZF is a series of gzip members
    assert raw[:4] == b"BAM\x01"
    l_text = struct.unpack_from("<i", raw, 4)[0]
    off = 8 + l_text
    n_ref = struct.unpack_from("<i", raw, off)[0]
    off += 4
    for _ in range(n_ref):
        off += 4 + struct.unpack_from("<i", raw, off)[0] + 4
    n = 0
    while off < len(raw):
        off += 4 + struct.unpack_from("<i", raw, off)[0]
        n += 1
    assert off == len(raw) and n == len(recs)
    with open(path, "rb") as fh:
        assert fh.read()[-28:] == gen._BGZF_EOF


def test_tables_are_deterministic():
    a, b = gen.tables(), gen.tables()
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[k].equals(b[k]) for k in a)
