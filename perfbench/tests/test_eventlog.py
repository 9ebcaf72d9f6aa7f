"""The event-log reader on a small captured log: a traced one-source
backfill (30 Spark jobs) with the benchmark's spans around it.

    python -m pytest perfbench/tests -q
"""

import json
import math
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench.eventlog import Attribution, EventLog, callsite_module, union_s  # noqa: E402

DATA = Path(__file__).resolve().parent / "data"


@pytest.fixture(scope="module")
def log():
    return EventLog(DATA / "small_backfill.events")


@pytest.fixture(scope="module")
def op(log):
    spans = json.loads((DATA / "small_backfill.spans.json").read_text())
    return Attribution(log, spans).op_metrics(0)


def test_union_merges_overlaps():
    assert union_s([]) == 0
    assert union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_s([(5, 6), (0, 10)]) == 10


def test_callsite_module():
    assert callsite_module("collect at /x/tokens_ts/pipeline.py:171") == ("pipeline", "pipeline.py:171")
    assert callsite_module("count at /x/tokens_ts/io/catalog.py:9") == ("io.catalog", "io/catalog.py:9")
    assert callsite_module("parquet at NativeMethodAccessorImpl.java:0") == (None, None)


def test_jobs_and_call_sites(log):
    assert len(log.jobs) == 30
    sites = {j.site for j in log.jobs.values() if j.site}
    assert sites == {f"pipeline.py:{n}" for n in (171, 182, 201, 245, 253)}
    assert all(j.end is not None and j.end >= j.submit for j in log.jobs.values())


def test_op_counts(op):
    assert op["jobs"] == 30
    # raw (16 files), t1m, t1h, t1d and the manifest row: 5 writes, 20 files
    assert op["files_written"] == 20
    assert op["write_jobs"] == 11
    assert op["checkpoint_jobs"] == 1
    assert op["python_task_s"] == 0


def test_tier_shuffle_is_that_of_the_tier_writes(op):
    """Only jobs under the t1m/t1h/t1d write spans count. Each tier write
    recomputes its chain from the 99 raw points: t1m shuffles 99 records,
    t1h 99 + 3 (rollup, then cascade), t1d 99 + 3 + 3."""
    assert op["tier_shuffle_records"] == 99 + (99 + 3) + (99 + 3 + 3)
    assert op["tier_shuffle_bytes"] > 0


def test_times_partition_the_op(op):
    # span self times tile the op wall, and so do in-job and outside-job time
    assert math.isclose(sum(op["layer_self_s"].values()), op["wall_s"], rel_tol=1e-9)
    assert 0 < op["outside_jobs_s"] < op["wall_s"]
    assert 0 < op["planning_s"] <= op["outside_jobs_s"]
    assert op["pipeline_scan_s"] > 0
