"""Streaming drift monitors (streaming/monitor.py): per-batch
profiles equal the batch operator given the same split, replay
overwrites rather than duplicates, and empty batches are scored (not
skipped) so written partitions align with declared batch indices.
"""

import os

import pytest
from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.operators.drift import psi_profile
from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.monitor import stream_psi_monitor


def _vals(spark, xs):
    return spark.createDataFrame([(float(x),) for x in xs], "value double")


def _stage_single_wave(spark, df, base):
    """One single-file wave under base/src (the __spark_entry__
    staging in miniature)."""
    import glob
    import shutil

    src = os.path.join(base, "src")
    os.makedirs(src, exist_ok=True)
    tmp = os.path.join(base, "tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(src, "wave-0.parquet"))
    shutil.rmtree(tmp)
    return src


def test_stream_batch_equals_batch_operator(spark, tmp_path):
    ref = _vals(spark, range(100))
    batch = _vals(spark, range(50, 150))
    base = str(tmp_path / "m1")
    src = _stage_single_wave(spark, batch, base)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = os.path.join(base, "profiles")
    stream_psi_monitor(stream, ref, out, os.path.join(base, "ckpt"))
    got = (
        spark.read.parquet(out)
        .orderBy("bucket")
        .select("bucket", "ref_n", "cur_n", "psi_term", "psi_total")
        .collect()
    )
    want = (
        psi_profile(ref, batch)
        .select("bucket", "ref_n", "cur_n", "psi_term", "psi_total")
        .collect()
    )
    assert got == want


def _cats(spark, pairs):
    return spark.createDataFrame(
        [(c,) for c, n in pairs for _ in range(n)], "event_type string"
    )


@pytest.mark.parametrize("kind", ["psi", "ks", "chi2"])
def test_stream_replay_overwrites_not_duplicates(spark, tmp_path, kind):
    """A fresh checkpoint replays the wave with the SAME batch id; each
    monitor's dynamic partition overwrite must leave one copy of the
    batch's profile, not two."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.monitor import (
        stream_chi2_monitor,
        stream_ks_monitor,
    )

    monitor, ref, batch, n_rows = {
        "psi": (stream_psi_monitor, _vals(spark, range(100)),
                _vals(spark, range(30, 80)), 10),
        "ks": (stream_ks_monitor, _vals(spark, range(60)),
               _vals(spark, range(20, 80)), 1),
        "chi2": (stream_chi2_monitor, _cats(spark, [("a", 30), ("b", 20)]),
                 _cats(spark, [("a", 10), ("b", 25), ("c", 5)]), 3),
    }[kind]
    base = str(tmp_path / kind)
    src = _stage_single_wave(spark, batch, base)
    out = os.path.join(base, "profiles")

    def _run(ck):
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        monitor(stream, ref, out, os.path.join(base, ck))
        profiles = spark.read.parquet(out)
        return profiles.orderBy(*profiles.columns).collect()

    first = _run("ckpt_a")
    second = _run("ckpt_b")
    assert second == first and len(first) == n_rows


def test_stream_empty_batch_scored_full_spine(spark, tmp_path):
    """An empty micro-batch is SCORED, not skipped: the written
    profile carries the full bucket spine with all-zero cur_n, so the
    written partitions stay aligned one-to-one with the twin's
    declared batch indices (a skipped batch would shift them)."""
    ref = _vals(spark, range(10))
    empty = _vals(spark, []).where(F.lit(False))
    base = str(tmp_path / "m3")
    src = _stage_single_wave(spark, empty, base)
    out = os.path.join(base, "profiles")
    stream = (
        spark.readStream.schema(empty.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_psi_monitor(stream, ref, out, os.path.join(base, "ckpt"))
    rows = spark.read.parquet(out).orderBy("bucket").collect()
    assert [r.bucket for r in rows] == list(range(1, 11))
    assert all(r.cur_n == 0 for r in rows)
    assert all(r.ref_n >= 0 for r in rows) and sum(r.ref_n for r in rows) == 10


# --------------------------------------------------------- KS monitor


def test_stream_ks_batch_equals_batch_operator(spark, tmp_path):
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.drift import ks_2sample
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.monitor import stream_ks_monitor

    ref = _vals(spark, range(100))
    batch = _vals(spark, range(50, 150))
    base = str(tmp_path / "k1")
    src = _stage_single_wave(spark, batch, base)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = os.path.join(base, "verdicts")
    stream_ks_monitor(stream, ref, out, os.path.join(base, "ckpt"))
    got = (
        spark.read.parquet(out)
        .select("ks_stat", "ks_at", "n_a", "n_b")
        .collect()
    )
    want = ks_2sample(ref, batch).collect()
    assert got == want
    assert got[0].n_a == 100 and got[0].n_b == 100
    # CDFs: ref uniform on [0,100), batch on [50,150) -> max gap 0.5
    assert abs(got[0].ks_stat - 0.5) < 1e-9


def test_stream_ks_empty_batch_scored_null_stat(spark, tmp_path):
    """An empty micro-batch writes a one-row NULL-statistic verdict
    for its own batch id — aligned with the twin, never skipped."""
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.monitor import stream_ks_monitor

    ref = _vals(spark, range(10))
    empty = _vals(spark, []).where(F.lit(False))
    base = str(tmp_path / "k2")
    src = _stage_single_wave(spark, empty, base)
    stream = (
        spark.readStream.schema(empty.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = os.path.join(base, "verdicts")
    stream_ks_monitor(stream, ref, out, os.path.join(base, "ckpt"))
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    assert rows[0].ks_stat is None
    assert rows[0].n_a == 10 and rows[0].n_b == 0


# -------------------------------------------------------- χ² monitor


def test_stream_chi2_batch_equals_batch_operator(spark, tmp_path):
    from yelp_review_data_analysis_using_big_data_technologies_spark.operators.drift import chi2_drift
    from yelp_review_data_analysis_using_big_data_technologies_spark.streaming.monitor import stream_chi2_monitor

    ref = _cats(spark, [("a", 30), ("b", 20)])
    batch = _cats(spark, [("a", 10), ("b", 25), ("c", 5)])
    base = str(tmp_path / "c1")
    src = _stage_single_wave(spark, batch, base)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = os.path.join(base, "profiles")
    stream_chi2_monitor(stream, ref, out, os.path.join(base, "ckpt"))
    got = (
        spark.read.parquet(out)
        .orderBy("category")
        .select("category", "ref_n", "cur_n", "contrib", "chi2_total", "dof")
        .collect()
    )
    want = (
        chi2_drift(ref, batch)
        .select("category", "ref_n", "cur_n", "contrib", "chi2_total", "dof")
        .collect()
    )
    assert got == want
    assert [r.category for r in got] == ["a", "b", "c"]
    assert got[2].ref_n == 0  # batch-only category surfaces
