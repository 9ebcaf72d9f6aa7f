"""Shape of a backfill wave: its Spark job count, manifest metrics that
come from the writes' own observations, and the JVM-built manifest
append."""

import pyspark.sql.functions as F

from tokens_ts import checkpoint, grid, pipeline
from tokens_ts.io.catalog import Catalog


def test_one_source_backfill_job_count(spark, seq_tiny, tmp_path):
    """A one-source backfill launches only the jobs that do work:
    pending discovery, the manifest read, one write per table and the
    manifest append — no checksum pass, count read-backs or schema
    inference (31 jobs before the writes reported their own metrics)."""
    seq = grid.with_event_time(seq_tiny).where(F.col("source") == "src01")
    sc = spark.sparkContext
    group = "test-one-source-backfill"
    sc.setJobGroup(group, "one-source backfill")
    try:
        r = pipeline.run_backfill(spark, seq, str(tmp_path / "w"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert r["partitions"] == ["src01"]
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 13, len(jobs)


def test_backfill_lineage_from_observed_writes(spark, seq_tiny, tmp_path):
    """At commit_batch=2 over 4 sources every wave holds two partitions,
    so each per-partition figure comes from a conditional aggregate in
    a shared observation. Each manifest row must equal what separate
    scans of the input and of the written tables give — including the
    input observation, which sits under both branches of the
    default_extraction union."""
    seq = grid.with_event_time(seq_tiny)
    root = str(tmp_path / "w")
    r = pipeline.run_backfill(spark, seq, root, commit_batch=2)
    assert r["partitions"] == ["src00", "src01", "src02", "src03"]

    cat = Catalog(root)
    expected = {
        p["partition_id"]: {
            "rows_in": p["rows_in"],
            "token_checksum": p["token_checksum"],
        }
        for p in checkpoint.token_checksum_by_partition(seq).collect()
    }
    for r_ in (
        cat.read(spark, "raw")
        .groupBy("source")
        .agg(
            F.count("*").alias("points_raw"),
            F.max(F.unix_micros("event_ts")).alias("max_event_us"),
        )
        .collect()
    ):
        expected[r_["source"]].update(
            points_raw=r_["points_raw"], max_event_us=r_["max_event_us"]
        )
    for tier, name in pipeline.TIER_NAMES.items():
        for r_ in cat.read(spark, name).groupBy("source").count().collect():
            expected[r_["source"]][f"points_{tier}"] = r_["count"]

    rows = checkpoint.read_manifest(spark, cat).collect()
    assert sorted(m["partition_id"] for m in rows) == sorted(expected)
    for m in rows:
        got = {k: m[k] for k in expected[m["partition_id"]]}
        assert got == expected[m["partition_id"]], m["partition_id"]
    # wall_ms is the wave time ÷ wave size, shared within a wave
    by_id = {m["partition_id"]: m["wall_ms"] for m in rows}
    assert by_id["src00"] == by_id["src01"] and by_id["src02"] == by_id["src03"]


def test_record_done_round_trip(spark, tmp_path):
    """Rows appended by record_done read back field for field through
    read_manifest and survive compact_manifest unchanged — including a
    null max_event_us and 64-bit checksums."""
    path = str(tmp_path / "m")
    lineage = [
        {
            "partition_id": "src00",
            "rows_in": 339,
            "points_raw": 1017,
            "points_1m": 400,
            "points_1h": 12,
            "points_1d": 3,
            "token_checksum": -(2**63) + 5,
            "wall_ms": 12.5,
            "max_event_us": 1_767_249_540_000_000,
        },
        {"partition_id": "batch:e1", "rows_in": 7, "max_event_us": None},
        {
            "partition_id": "retention:t1m",
            "rows_in": 0,
            "token_checksum": None,
            "max_event_us": 0,
        },
    ]
    checkpoint.record_done(spark, path, lineage, "run1", {"src00": 2})

    def snapshot():
        return {
            r["partition_id"]: r.asDict()
            for r in checkpoint.read_manifest(spark, path).collect()
        }

    before = snapshot()
    assert len(before) == 3
    src = before["src00"]
    assert (src["status"], src["attempt"], src["job_run_id"]) == ("done", 3, "run1")
    for k in ("rows_in", "points_raw", "points_1m", "points_1h", "points_1d",
              "token_checksum", "wall_ms", "max_event_us"):
        assert src[k] == lineage[0][k], k
    e1 = before["batch:e1"]
    assert e1["max_event_us"] is None and e1["rows_in"] == 7
    assert (e1["points_raw"], e1["token_checksum"], e1["wall_ms"]) == (0, 0, 0.0)
    assert e1["attempt"] == 1
    assert before["retention:t1m"]["max_event_us"] == 0
    assert len({r["ts"] for r in before.values()}) == 1
    assert (
        checkpoint.read_manifest(spark, path).schema.simpleString()
        == checkpoint.MANIFEST_SCHEMA.simpleString()
    )

    assert checkpoint.compact_manifest(spark, path) == 3
    assert snapshot() == before
