"""Streaming-specific checks beyond the oracle parity sweep: the
exactly-once foreachBatch metrics sink writes real files, and the
streaming plans agree with their batch twins row-for-row."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from test_oracle_parity import _canon_rows  # rootdir tests/ on sys.path

from cs_5542_lab_6_spark.registry import all_oracles
from cs_5542_lab_6_spark.streaming.batch_twins import (
    events_session_windows,
    events_tumbling_daily,
)
from cs_5542_lab_6_spark.streaming.stream import (
    stream_session_windows,
    stream_tumbling_daily,
)


def test_stream_equals_batch_twin(spark, sf_dir):
    got = {tuple(r) for r in stream_tumbling_daily(spark, sf_dir).collect()}
    want = {tuple(r) for r in events_tumbling_daily(spark, sf_dir).collect()}
    assert got == want


def test_memory_sink_runs_leave_no_temp_view(spark, sf_dir, oracle):
    """Each run's memory-sink view is dropped once read (it would pin the
    run's rows for the session's life); the returned rows stay intact."""
    runs = [stream_tumbling_daily(spark, sf_dir) for _ in range(2)]
    views = [t.name for t in spark.catalog.listTables() if t.isTemporary]
    assert not [v for v in views if v.startswith("stream_tumbling_daily_")]
    want = oracle.sql(all_oracles()["stream_tumbling_daily"])
    for df in runs:
        assert _canon_rows(df.columns, df.collect()) == _canon_rows(
            want.columns, want.fetchall()
        )


def test_shuffle_width_sizes_a_single_file_source(spark, tmp_path, monkeypatch):
    """``_shuffle_width`` over a plain file (a fixture's events.parquet)
    sizes from the file's bytes, and restores the session's width on
    exit, also when the body raises."""
    from cs_5542_lab_6_spark.streaming import stream as S

    src = tmp_path / "events.parquet"
    src.write_bytes(b"x" * 100)
    monkeypatch.setattr(S, "STREAM_STATE_TARGET_BYTES", 32)
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    with S._shuffle_width(spark, str(src)) as w:
        # ceil(100 / 32), under the test session's width of 8
        assert w.width == 4
        assert spark.conf.get(key) == "4"
    assert spark.conf.get(key) == saved
    with pytest.raises(RuntimeError, match="body failed"):
        with S._shuffle_width(spark, str(src)):
            raise RuntimeError("body failed")
    assert spark.conf.get(key) == saved


def test_session_stream_equals_batch_twin(spark, sf_dir):
    got = {tuple(r) for r in stream_session_windows(spark, sf_dir).collect()}
    want = {tuple(r) for r in events_session_windows(spark, sf_dir).collect()}
    assert got == want


def test_idempotent_foreach_batch_survives_replay(spark, sf_dir, tmp_path):
    """Exactly-once property: re-running the stream from a FRESH
    checkpoint against the SAME output directory (the worst-case replay
    — every batch re-delivered) must leave the output byte-identical to
    a single run, because each batch overwrites its own batch_id
    partition instead of appending. After each run the log has the
    sink's columns and accounts for every event exactly once."""
    import shutil

    from cs_5542_lab_6_spark.sources import load_table
    from cs_5542_lab_6_spark.streaming.stream import write_metrics_stream_idempotent

    n_events = load_table(spark, sf_dir, "events").count()

    def read_log():
        log = spark.read.parquet(out)
        assert set(log.columns) == {"event_type", "n_events", "total_value", "batch_id"}
        rows = log.drop("batch_id").collect()
        assert sum(r["n_events"] for r in rows) == n_events
        return sorted(tuple(r) for r in rows)

    out = str(tmp_path / "metrics")
    n1 = write_metrics_stream_idempotent(spark, sf_dir, out)
    assert n1 >= 1
    first = read_log()

    # simulate the replay: wipe the checkpoint (not the data) and re-run
    shutil.rmtree(out + "/_checkpoint")
    n2 = write_metrics_stream_idempotent(spark, sf_dir, out)
    assert n2 == n1
    second = read_log()
    assert second == first  # no duplicated rows, no drift


def test_idempotent_sink_drops_stale_batch_tail(spark, sf_dir, tmp_path):
    """Coarser-rebatching replay (ADVICE r5): if an earlier run left
    HIGHER-numbered batch_id partitions than the replay produces (e.g.
    maxFilesPerTrigger changed), the first replayed batch must sweep
    the stale tail — otherwise those partitions survive as duplicates
    that no overwrite ever touches."""
    import os
    import shutil

    from cs_5542_lab_6_spark.streaming.stream import write_metrics_stream_idempotent

    out = str(tmp_path / "metrics")
    write_metrics_stream_idempotent(spark, sf_dir, out)
    clean = sorted(
        tuple(r) for r in spark.read.parquet(out).drop("batch_id").collect()
    )

    # plant a stale high-numbered partition, as a prior finer-grained
    # run would have left behind
    stale = os.path.join(out, "batch_id=999")
    src = next(
        os.path.join(out, d) for d in os.listdir(out) if d.startswith("batch_id=")
    )
    shutil.copytree(src, stale)
    shutil.rmtree(out + "/_checkpoint")

    write_metrics_stream_idempotent(spark, sf_dir, out)
    assert not os.path.exists(stale)
    after = sorted(
        tuple(r) for r in spark.read.parquet(out).drop("batch_id").collect()
    )
    assert after == clean


def test_update_top_purchases_folds_batches():
    """stream_user_top_purchases' applyInPandasWithState update function
    over a fake GroupState: three micro-batches for one user fold into
    the running count and top-3 values, and the state carries them
    from batch to batch."""
    import pandas as pd

    from cs_5542_lab_6_spark.streaming.stream import update_top_purchases

    batches = [
        pd.DataFrame({"value": [5.0, 1.0]}),
        pd.DataFrame({"value": [9.5, 2.0, 0.5]}),
        pd.DataFrame({"value": [7.25]}),
    ]

    class FakeGroupState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    gs = FakeGroupState()
    rows = [next(update_top_purchases((42,), iter([b]), gs)) for b in batches]
    # final state after the drained sequence: count 6, top-3 of all values
    final = rows[-1].iloc[0]
    assert final["n_purchases"] == 6
    assert [final["top1"], final["top2"], final["top3"]] == [9.5, 7.25, 5.0]
    assert gs.get == (6, 9.5, 7.25, 5.0)


def test_lateness_audit_drop_rule_matches_real_stream(spark, sf_dir, tmp_path):
    """The events_lateness_audit drop rule IS Spark's: replay the derived
    arrival order through a real maxFilesPerTrigger=1 file stream (one
    parquet file per derived micro-batch, lexicographic names) with the
    same 10-minute watermark and a 1-day append aggregation. The
    predicted output — kept events only, windows closed by the final
    watermark — must equal the stream's actual append output row-exactly,
    and the stream must report watermark drops (the rule binds)."""
    from pyspark.sql import functions as F

    from cs_5542_lab_6_spark.sources.tables import load_table
    from cs_5542_lab_6_spark.streaming.batch_twins import (
        LATENESS_DELAY_MS,
        lateness_flagged,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    flagged = lateness_flagged(ev)

    # one file per derived micro-batch, written in batch order
    src = tmp_path / "arrival"
    src.mkdir()
    arr = flagged.select("b", "ts").withColumn("value", F.lit(1.0))
    batches = [r.b for r in arr.select("b").distinct().orderBy("b").collect()]
    for b in batches:
        one = arr.filter(F.col("b") == b).select("ts", "value").coalesce(1)
        tmp = tmp_path / f"stage_{b}"
        one.write.mode("overwrite").parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        part.rename(src / f"batch_{b:06d}.parquet")

    sdf = (
        spark.readStream.schema("ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = (
        sdf.withWatermark("ts", f"{LATENESS_DELAY_MS // 60000} minutes")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .count()
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("lateness_replay")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_dropped_stream = sum(
        so["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for so in p["stateOperators"]
    )

    # prediction from the pinned rule: kept events, emitted windows only
    bmax_ms = (
        flagged.groupBy("b")
        .agg(F.expr("floor(max(unix_micros(ts)) / 1000)").cast("long").alias("m"))
        .agg(F.max("m"))
        .collect()[0][0]
    )
    final_wm = F.timestamp_millis(F.lit(bmax_ms - LATENESS_DELAY_MS))
    pred = (
        flagged.filter(~F.col("dropped"))
        .filter(F.col("window_end") <= final_wm)
        .groupBy("window_start", "window_end")
        .agg(F.count("*").alias("count"))
    )
    predicted = sorted(
        (r.window_start, r.window_end, r["count"]) for r in pred.collect()
    )
    actual = sorted(
        (r.ws, r.wend, r["count"])
        for r in spark.sql(
            "SELECT w.start AS ws, w.end AS wend, count FROM lateness_replay"
        ).collect()
    )
    assert n_dropped_stream > 0  # the watermark rule actually binds
    assert predicted == actual


def test_scd2_stream_replay_is_idempotent(spark, sf_dir, tmp_path):
    """write_metrics_stream_idempotent's replay discipline for the SCD2
    stream: run the changelog stream to completion, wipe ONLY the
    checkpoint (state dirs and delta files stay), run again — every
    micro-batch reprocesses against the same versioned state and the
    final dimension must equal both the first run's and the one-shot
    batch rebuild."""
    import shutil

    from cs_5542_lab_6_spark.operators.lakehouse import orders_scd2_dimension
    from cs_5542_lab_6_spark.streaming.stream import scd2_stream_run

    wd = str(tmp_path / "scd2")
    os.makedirs(wd)
    v1 = scd2_stream_run(spark, sf_dir, wd)
    assert v1 >= 2  # genuinely multi-batch
    first = sorted(
        map(tuple, spark.read.parquet(f"{wd}/dim_v{v1}").collect())
    )

    shutil.rmtree(f"{wd}/ckpt")  # lose the stream's memory, keep the state
    v2 = scd2_stream_run(spark, sf_dir, wd)
    assert v2 == v1
    replayed = sorted(
        map(tuple, spark.read.parquet(f"{wd}/dim_v{v2}").collect())
    )
    assert replayed == first

    batch = sorted(map(tuple, orders_scd2_dimension(spark, sf_dir).collect()))
    assert replayed == batch


def test_scd2_stream_resumes_partial_progress(spark, sf_dir, tmp_path):
    """The OTHER restart shape (r11 advice): a crash mid-run that KEEPS
    the checkpoint. Spark replays only the uncommitted batches with
    their original batch_ids, so the apply must key its state read off
    batch_id — a driver-local counter would restart at 0 and merge the
    tail deltas onto dim_v0. Inject a crash before batch 2, resume with
    the same workdir/checkpoint, and the final dimension must equal the
    one-shot batch rebuild."""
    import pyspark.errors

    from cs_5542_lab_6_spark.operators.lakehouse import orders_scd2_dimension
    from cs_5542_lab_6_spark.streaming.stream import scd2_stream_run

    wd = str(tmp_path / "scd2_partial")
    os.makedirs(wd)
    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        scd2_stream_run(spark, sf_dir, wd, fail_at_batch=2)
    # batches 0 and 1 committed before the crash; the tail did not run
    assert os.path.isdir(f"{wd}/dim_v2") and not os.path.isdir(f"{wd}/dim_v3")

    v = scd2_stream_run(spark, sf_dir, wd)  # same checkpoint, no injection
    assert v >= 3
    resumed = sorted(map(tuple, spark.read.parquet(f"{wd}/dim_v{v}").collect()))
    batch = sorted(map(tuple, orders_scd2_dimension(spark, sf_dir).collect()))
    assert resumed == batch


def test_dedup_admission_stream_replay_and_index_delta(spark, sf_dir, tmp_path):
    """The streaming admission's two contracts beyond the driver's oracle
    row: (a) checkpoint-wipe replay idempotence — wipe ONLY ckpt, rerun,
    every batch rescreens against the same standing index and the
    verdict union is unchanged; (b) index maintenance — the union of the
    per-batch index deltas is EXACTLY the shingle rows of the admitted
    ('unique') docs, so standing index ∪ deltas is the index a
    follow-on replay would screen against."""
    import shutil

    from cs_5542_lab_6_spark.operators.dedup import shingles_of
    from cs_5542_lab_6_spark.sources.tables import load_table
    from cs_5542_lab_6_spark.streaming.stream import (
        ADMISSION_FILES,
        dedup_admission_stream_run,
    )

    wd = str(tmp_path / "adm")
    os.makedirs(wd)
    n1 = dedup_admission_stream_run(spark, sf_dir, wd)
    assert n1 == ADMISSION_FILES  # genuinely multi-batch
    first = sorted(
        map(tuple, spark.read.parquet(f"{wd}/verdicts/b*").collect())
    )

    shutil.rmtree(f"{wd}/ckpt")  # lose the stream's memory, keep outputs
    n2 = dedup_admission_stream_run(spark, sf_dir, wd)
    assert n2 == n1
    replayed = sorted(
        map(tuple, spark.read.parquet(f"{wd}/verdicts/b*").collect())
    )
    assert replayed == first

    verdicts = spark.read.parquet(f"{wd}/verdicts/b*")
    admitted = verdicts.filter(F.col("verdict") == "unique").select(
        F.col("new_doc_id").alias("doc_id")
    )
    expected_delta = sorted(
        map(
            tuple,
            shingles_of(load_table(spark, sf_dir, "documents"))
            .join(admitted, "doc_id")
            .collect(),
        )
    )
    actual_delta = sorted(
        map(tuple, spark.read.parquet(f"{wd}/index_delta/b*").collect())
    )
    assert actual_delta == expected_delta and actual_delta


def test_scd2_stream_catchup_trigger_matches_rebuild(spark, sf_dir, tmp_path):
    """The catch-up-replay knob: files_per_trigger=2 merges two changelog
    files per micro-batch (fewer, larger deltas; batch_id-keyed state
    still advances one version per trigger) and the final dimension must
    equal both the one-shot batch rebuild and the one-file-per-batch
    replay — sequential composition is split-agnostic."""
    from cs_5542_lab_6_spark.operators.lakehouse import orders_scd2_dimension
    from cs_5542_lab_6_spark.streaming.stream import scd2_stream_run

    wd1 = str(tmp_path / "scd2_f1")
    wd2 = str(tmp_path / "scd2_f2")
    os.makedirs(wd1)
    os.makedirs(wd2)
    v1 = scd2_stream_run(spark, sf_dir, wd1)  # contract default: 1 file/batch
    v2 = scd2_stream_run(spark, sf_dir, wd2, files_per_trigger=2)
    assert v2 < v1  # genuinely fewer micro-batches
    one = sorted(map(tuple, spark.read.parquet(f"{wd1}/dim_v{v1}").collect()))
    two = sorted(map(tuple, spark.read.parquet(f"{wd2}/dim_v{v2}").collect()))
    batch = sorted(map(tuple, orders_scd2_dimension(spark, sf_dir).collect()))
    assert one == two == batch


def test_scd2_stream_rebatch_after_ckpt_wipe_drops_stale_state(
    spark, sf_dir, tmp_path
):
    """Workdir reuse at a DIFFERENT batching (r12 advice): run at one
    file per trigger, wipe the checkpoint, rerun with files_per_trigger
    large enough to produce fewer batches. The head version is read as
    max over dim_v* dirs, so without dropping stale state the first
    run's higher-numbered dirs would win and the caller reads a
    dimension the rerun never produced."""
    import shutil

    from cs_5542_lab_6_spark.operators.lakehouse import orders_scd2_dimension
    from cs_5542_lab_6_spark.streaming.stream import scd2_stream_run

    wd = str(tmp_path / "scd2_rebatch")
    os.makedirs(wd)
    v1 = scd2_stream_run(spark, sf_dir, wd)
    # a KEPT checkpoint owns the batching — availableNow would silently
    # ignore a different files_per_trigger, so it must fail loudly
    with pytest.raises(ValueError, match="files_per_trigger=1"):
        scd2_stream_run(spark, sf_dir, wd, files_per_trigger=3)
    shutil.rmtree(f"{wd}/ckpt")
    v2 = scd2_stream_run(spark, sf_dir, wd, files_per_trigger=3)
    assert v2 < v1  # fewer batches AND no stale dim_v{v1} winning the max
    assert not os.path.isdir(f"{wd}/dim_v{v1}")
    two = sorted(map(tuple, spark.read.parquet(f"{wd}/dim_v{v2}").collect()))
    batch = sorted(map(tuple, orders_scd2_dimension(spark, sf_dir).collect()))
    assert two == batch


@pytest.mark.slow
def test_dedup_admission_rejects_rebatch_on_reused_workdir(
    spark, sf_dir, tmp_path
):
    """The arrivals layout is baked on first run; a reuse with a
    different n_files would silently replay the OLD batching (r12
    advice) — it must fail loudly instead. A PARTIAL bake (no
    completion marker — the crash-between-makedirs-and-moves state)
    must repair by rebuilding, not brick the workdir."""
    from cs_5542_lab_6_spark.streaming.stream import dedup_admission_stream_run

    wd = str(tmp_path / "adm_rebatch")
    os.makedirs(wd)
    assert dedup_admission_stream_run(spark, sf_dir, wd, n_files=3) == 3
    with pytest.raises(ValueError, match="baked with n_files=3"):
        dedup_admission_stream_run(spark, sf_dir, wd, n_files=2)

    wd2 = str(tmp_path / "adm_partial_bake")
    os.makedirs(f"{wd2}/arrivals")  # bake started, never completed
    assert dedup_admission_stream_run(spark, sf_dir, wd2, n_files=3) == 3

    # a TORN marker (crash mid-write before the content landed) must be
    # treated like a missing one — repair, not a permanent ValueError
    wd3 = str(tmp_path / "adm_torn_marker")
    os.makedirs(f"{wd3}/arrivals")
    open(f"{wd3}/arrivals/_BAKED_N_FILES", "w").close()  # empty file
    assert dedup_admission_stream_run(spark, sf_dir, wd3, n_files=3) == 3


@pytest.mark.slow
def test_dedup_admission_verdicts_invariant_to_batching(spark, sf_dir, tmp_path):
    """Every micro-batch screens against the same standing index
    snapshot, so the verdict union must be invariant to how the arrival
    cut is split into files — replay at 2 and 7 files per run and
    compare to the one-shot batch screen."""
    from cs_5542_lab_6_spark.operators.dedup import dedup_incremental
    from cs_5542_lab_6_spark.streaming.stream import dedup_admission_stream_run

    batch = sorted(map(tuple, dedup_incremental(spark, sf_dir).collect()))
    for n in (2, 7):
        wd = str(tmp_path / f"adm_{n}")
        os.makedirs(wd)
        got = dedup_admission_stream_run(spark, sf_dir, wd, n_files=n)
        assert got == n
        streamed = sorted(
            map(tuple, spark.read.parquet(f"{wd}/verdicts/b*").collect())
        )
        assert streamed == batch


def test_dedup_admission_catchup_trigger_matches_batch(spark, sf_dir, tmp_path):
    """The r17 catch-up-replay knob on the admission stream (the
    registered query runs at files_per_trigger=2): merging two arrival
    files per trigger must produce genuinely fewer micro-batches and a
    verdict union identical to the one-shot batch screen — every trigger
    still screens against the same standing snapshot. A kept checkpoint
    owns its batching (the SCD2 marker guard, mirrored)."""
    from cs_5542_lab_6_spark.operators.dedup import dedup_incremental
    from cs_5542_lab_6_spark.streaming.stream import dedup_admission_stream_run

    batch = sorted(map(tuple, dedup_incremental(spark, sf_dir).collect()))
    wd = str(tmp_path / "adm_fpt2")
    os.makedirs(wd)
    got = dedup_admission_stream_run(
        spark, sf_dir, wd, n_files=4, files_per_trigger=2
    )
    assert got == 2  # 4 files, 2 per trigger
    streamed = sorted(
        map(tuple, spark.read.parquet(f"{wd}/verdicts/b*").collect())
    )
    assert streamed == batch
    # kept checkpoint + different trigger batching must fail loudly
    # (availableNow would silently replay nothing at ANY knob value)
    with pytest.raises(ValueError, match="files_per_trigger=2"):
        dedup_admission_stream_run(
            spark, sf_dir, wd, n_files=4, files_per_trigger=1
        )


def test_dedup_admission_stream_resumes_partial_progress(spark, sf_dir, tmp_path):
    """Kept-checkpoint crash resume for the admission stream — same
    batch_id-keyed exactly-once idiom as the SCD2 stream: crash before
    batch 2, resume with the same checkpoint, and the verdict union must
    equal the one-shot batch screen (dedup_incremental)."""
    import pyspark.errors

    from cs_5542_lab_6_spark.operators.dedup import dedup_incremental
    from cs_5542_lab_6_spark.streaming.stream import dedup_admission_stream_run

    wd = str(tmp_path / "adm_partial")
    os.makedirs(wd)
    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        dedup_admission_stream_run(spark, sf_dir, wd, fail_at_batch=2)
    assert os.path.isdir(f"{wd}/verdicts/b1") and not os.path.isdir(
        f"{wd}/verdicts/b2"
    )

    dedup_admission_stream_run(spark, sf_dir, wd)  # same ckpt, no injection
    resumed = sorted(
        map(tuple, spark.read.parquet(f"{wd}/verdicts/b*").collect())
    )
    batch = sorted(map(tuple, dedup_incremental(spark, sf_dir).collect()))
    assert resumed == batch


def test_lateness_rule_holds_at_other_batch_sizes(spark, sf_dir, tmp_path):
    """The pinned drop rule is not an artifact of the 100-row batching:
    replay at 250 rows per micro-batch (different batch count, different
    watermark trajectory) and the predicted append output must again be
    row-exact against the real stream."""
    from pyspark.sql import functions as F

    from cs_5542_lab_6_spark.sources.tables import load_table
    from cs_5542_lab_6_spark.streaming.batch_twins import (
        LATENESS_DELAY_MS,
        lateness_flagged,
    )

    rows = 250
    ev = load_table(spark, sf_dir, "events")
    flagged = lateness_flagged(ev, batch_rows=rows)

    src = tmp_path / "arrival250"
    src.mkdir()
    arr = flagged.select("b", "ts")
    for b in [r.b for r in arr.select("b").distinct().orderBy("b").collect()]:
        tmp = tmp_path / f"stage_{b}"
        arr.filter(F.col("b") == b).select("ts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp))
        next(tmp.glob("part-*.parquet")).rename(src / f"batch_{b:06d}.parquet")

    sdf = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = (
        sdf.withWatermark("ts", f"{LATENESS_DELAY_MS // 60000} minutes")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .count()
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("lateness_replay_250")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt250"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    bmax_ms = (
        flagged.groupBy("b")
        .agg(F.expr("floor(max(unix_micros(ts)) / 1000)").cast("long").alias("m"))
        .agg(F.max("m"))
        .collect()[0][0]
    )
    final_wm = F.timestamp_millis(F.lit(bmax_ms - LATENESS_DELAY_MS))
    pred = (
        flagged.filter(~F.col("dropped"))
        .filter(F.col("window_end") <= final_wm)
        .groupBy("window_start", "window_end")
        .agg(F.count("*").alias("count"))
    )
    predicted = sorted(
        (r.window_start, r.window_end, r["count"]) for r in pred.collect()
    )
    actual = sorted(
        (r.ws, r.wend, r["count"])
        for r in spark.sql(
            "SELECT w.start AS ws, w.end AS wend, count FROM lateness_replay_250"
        ).collect()
    )
    assert predicted == actual
