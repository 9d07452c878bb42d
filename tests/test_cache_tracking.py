"""Unit tests for the tracked-persist cache registry and the
process-scoped scratch root (functions/cache.py, sources/scratch.py).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from damg7245_casestudy_03_ai_scoring_engine_spark.functions import cache as C
from damg7245_casestudy_03_ai_scoring_engine_spark.sources.scratch import scratch_dir


def test_same_plan_reuses_cached_frame(spark):
    df1 = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("x"))
    out1 = C.tracked_persist(df1, "unit.same")
    # identical plan → the FIRST frame is returned (warm-cache reuse)
    df2 = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("x"))
    out2 = C.tracked_persist(df2, "unit.same")
    assert out2 is out1
    assert out1.storageLevel.useMemory
    C.release_all()


def test_changed_plan_evicts_and_replaces(spark):
    df1 = spark.range(100).select(F.col("id"))
    out1 = C.tracked_persist(df1, "unit.change")
    df2 = spark.range(200).select(F.col("id"))  # different plan
    out2 = C.tracked_persist(df2, "unit.change")
    assert out2 is not out1
    assert not out1.storageLevel.useMemory  # evicted
    assert out2.storageLevel.useMemory
    C.release_all()


def test_release_all_unpersists_everything(spark):
    frames = [
        C.tracked_persist(spark.range(10 + i), f"unit.rel{i}") for i in range(3)
    ]
    assert C.release_all() == 3
    for f in frames:
        assert not f.storageLevel.useMemory
    assert C.release_all() == 0  # registry emptied


def test_distinct_tags_track_independently(spark):
    a = C.tracked_persist(spark.range(5), "unit.a")
    b = C.tracked_persist(spark.range(6), "unit.b")
    # replacing tag a must not disturb tag b
    a2 = C.tracked_persist(spark.range(7), "unit.a")
    assert a2 is not a and b.storageLevel.useMemory
    C.release_all()


def test_scratch_dirs_share_one_process_root():
    d1 = scratch_dir("unit_one_")
    d2 = scratch_dir("unit_two_")
    assert os.path.isdir(d1) and os.path.isdir(d2)
    assert d1 != d2
    # both under the same per-process root (removed atexit)
    assert os.path.dirname(d1) == os.path.dirname(d2)
    assert "spark_graft_scratch_" in os.path.dirname(d1)


def test_session_memo_builds_once_per_key(spark):
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    assert C.session_memo(spark, ("unit", "once"), build) == 1
    assert C.session_memo(spark, ("unit", "once"), build) == 1
    assert C.session_memo(spark, ("unit", "other"), build) == 2
    assert len(calls) == 2
    # a rejected entry is rebuilt and replaced
    assert C.session_memo(spark, ("unit", "once"), build, valid=lambda v: v > 1) == 3
    assert C.session_memo(spark, ("unit", "once"), build) == 3


def test_session_memo_is_scoped_to_its_session(spark):
    key = ("unit", "scoped")
    C.session_memo(spark, key, lambda: "first session")
    other = spark.newSession()
    assert C.session_memo(other, key, lambda: "new session") == "new session"
    assert C.session_memo(spark, key, lambda: "rebuilt") == "first session"


def test_session_persist_repersists_after_release_all(spark):
    built = []

    def build():
        built.append(1)
        return spark.range(11)

    df = C.session_persist(spark, "unit.session_persist", build)
    assert df.storageLevel.useMemory
    C.release_all()
    assert not df.storageLevel.useMemory
    again = C.session_persist(spark, "unit.session_persist", build)
    assert again.storageLevel.useMemory
    assert len(built) == 1, "re-persisted, not rebuilt"
    C.release_all()

