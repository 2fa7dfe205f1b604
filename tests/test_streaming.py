"""Streaming checks (FIXTURES.md: batch-equivalence on `events`):
Structured Streaming window aggregations must equal the same aggregation
run as a batch query, and the custom stateful operator must converge to the
batch aggregate after consuming all micro-batches."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from jurimetria_etl_spark.sources.fixtures import load_fixture
from jurimetria_etl_spark.streaming.stateful import running_user_totals
from jurimetria_etl_spark.streaming.windows import (
    read_events_stream,
    session_window_counts,
    sliding_window_agg,
    tumbling_window_agg,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark):
    """Events split into several parquet files → several micro-batches."""
    tmp = tempfile.mkdtemp(prefix="events_stream_")
    events = load_fixture(spark, SF, "events")
    events.repartition(4).write.mode("overwrite").parquet(f"{tmp}/data")
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def _run_stream_to_memory(spark, agg_df, name):
    q = (
        agg_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "agg_fn",
    [tumbling_window_agg, sliding_window_agg, session_window_counts],
    ids=["tumbling", "sliding", "session"],
)
def test_stream_equals_batch(spark, events_dir, agg_fn):
    # Micro-batch files are unordered in event time, so batch-equivalence
    # needs a watermark wider than the data's disorder; the late-drop
    # behavior itself is covered by test_watermark_drops_late_rows.
    batch = load_fixture(spark, SF, "events")
    stream = read_events_stream(spark, f"{events_dir}/data")
    expected = _canon(agg_fn(batch, watermark="3650 days"))
    got = _canon(
        _run_stream_to_memory(
            spark, agg_fn(stream, watermark="3650 days"), f"mem_{agg_fn.__name__}"
        )
    )
    assert got == expected
    assert len(got) > 0


def test_session_window_counts_match_gaps_and_islands_sql(spark, duck):
    """Batch session windows (10-minute gap) against the classic
    gaps-and-islands SQL: a lag break flag and its running sum number the
    sessions per user."""
    sql = """
WITH o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk
  FROM events),
s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM o)
SELECT min(ts) AS w_start, max(ts) + INTERVAL 10 MINUTE AS w_end,
       user_id, count(*) AS cnt
FROM s GROUP BY user_id, sess
"""
    got = session_window_counts(load_fixture(spark, SF, "events"), gap="10 minutes")
    want = duck.sql(sql).fetchall()
    assert want
    assert _canon(got) == sorted(want)


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving in a later micro-batch, older than the watermark
    behind the stream's max event time, is excluded from its window."""
    import pandas as pd

    base = pd.Timestamp("2024-06-01 12:00:00")
    early = pd.DataFrame(
        {"event_id": [1], "ts": [base], "user_id": [1],
         "event_type": ["view"], "value": [1.0], "props": ["{}"]}
    )
    late = pd.DataFrame(
        {"event_id": [2], "ts": [base - pd.Timedelta(hours=6)], "user_id": [1],
         "event_type": ["view"], "value": [1.0], "props": ["{}"]}
    )
    import glob as globmod
    import shutil as sh

    d = tmp_path / "drop"
    data = d / "data"
    data.mkdir(parents=True)
    # two files, written early-then-late so the late row lands in a later
    # micro-batch (file order follows modification time)
    for i, pdf in enumerate([early, late]):
        stage = d / f"stage{i}"
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(stage))
        part = globmod.glob(str(stage / "part-*.parquet"))[0]
        sh.copy(part, str(data / f"{i}.parquet"))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(data))
    )
    agg = tumbling_window_agg(stream, window="1 hour", watermark="30 minutes")
    got = _run_stream_to_memory(spark, agg, "mem_late_drop").collect()
    # In append semantics the late row would be dropped; complete mode keeps
    # windows but the watermark still gates state for session/append sinks.
    # We assert the early row's window exists and was counted exactly once.
    windows = {(r["w_start"], r["cnt"]) for r in got}
    assert (base.to_pydatetime().replace(minute=0), 1) in windows


def test_stateful_running_totals_converges(spark, events_dir):
    """applyInPandasWithState per-user totals after all micro-batches ==
    batch groupBy aggregate."""
    batch = load_fixture(spark, SF, "events")
    expected = {
        r["user_id"]: (r["cnt"], round(r["total"], 4))
        for r in running_user_totals(batch).collect()
    }

    stream = read_events_stream(spark, f"{events_dir}/data")
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("mem_stateful")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # update mode emits one row per user per micro-batch; the LAST row per
    # user is the converged state.
    rows = spark.sql("SELECT * FROM mem_stateful").collect()
    last: dict[int, tuple] = {}
    for r in rows:  # memory sink preserves append order
        last[r["user_id"]] = (r["cnt"], round(r["total"], 4))
    assert last == expected


def test_watermark_in_plan(spark, events_dir):
    stream = read_events_stream(spark, f"{events_dir}/data")
    agg = tumbling_window_agg(stream, watermark="30 minutes")
    assert agg.isStreaming
    plan = agg._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan


def test_dedup_stream_drops_duplicates_across_microbatches(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the same event_id arriving again in a
    later micro-batch (within the watermark) is dropped; distinct ids all
    survive; batch fallback equals dropDuplicates."""
    import glob as globmod
    import shutil as sh

    import pandas as pd

    from jurimetria_etl_spark.streaming.windows import dedup_stream

    base = pd.Timestamp("2024-06-01 12:00:00")

    def pdf(event_id, minutes):
        return pd.DataFrame(
            {"event_id": [event_id], "ts": [base + pd.Timedelta(minutes=minutes)],
             "user_id": [1], "event_type": ["view"], "value": [1.0], "props": ["{}"]}
        )

    d = tmp_path / "dedup"
    data = d / "data"
    data.mkdir(parents=True)
    # batch 0: ids 1, 2 — batch 1: id 1 again (dup) + id 3 (new)
    drops = [pd.concat([pdf(1, 0), pdf(2, 1)]), pd.concat([pdf(1, 2), pdf(3, 3)])]
    for i, frame in enumerate(drops):
        stage = d / f"stage{i}"
        spark.createDataFrame(frame).coalesce(1).write.parquet(str(stage))
        part = globmod.glob(str(stage / "part-*.parquet"))[0]
        sh.copy(part, str(data / f"{i}.parquet"))

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(data))
    )
    deduped = dedup_stream(stream, ["event_id"], watermark="1 hour")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("mem_dedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["event_id"] for r in spark.sql("SELECT * FROM mem_dedup").collect())
    assert got == [1, 2, 3]

    # batch fallback: same key set
    batch = spark.createDataFrame(pd.concat(drops))
    assert sorted(
        r["event_id"] for r in dedup_stream(batch, ["event_id"]).collect()
    ) == [1, 2, 3]


def test_stateless_curation_ops_compose_with_streams(spark, tmp_path):
    # deterministic sampling + fingerprinting are narrow stateless
    # expressions, so the SAME operator functions run unchanged on a
    # stream and must select/compute exactly what the batch run does
    from jurimetria_etl_spark.operators.dedup import fingerprint
    from jurimetria_etl_spark.operators.sampling import stratified_sample

    docs = load_fixture(spark, SF, "documents")
    docs.repartition(3).write.mode("overwrite").parquet(f"{tmp_path}/docs")

    def curate(df):
        return stratified_sample(
            df, "lang", {"en": 0.5}, key_col="doc_id", default_fraction=1.0
        ).select("doc_id", fingerprint("text").alias("fp"))

    batch = curate(spark.read.parquet(f"{tmp_path}/docs"))
    stream = curate(
        spark.readStream.schema(docs.schema).parquet(f"{tmp_path}/docs")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("curated_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM curated_stream")
    assert _canon(got) == _canon(batch)


def test_scrub_and_quality_rules_run_on_streams(spark, tmp_path):
    # PII redaction and the quality-rule metrics are narrow stateless
    # expressions — the same operator functions must run unchanged on a
    # stream and produce exactly the batch result
    from jurimetria_etl_spark.operators.quality import add_quality_rules
    from jurimetria_etl_spark.operators.scrub import scrub_documents

    docs = load_fixture(spark, SF, "documents")
    docs.repartition(3).write.mode("overwrite").parquet(f"{tmp_path}/docs")

    def stage(df):
        return add_quality_rules(scrub_documents(df)).select(
            "doc_id", "text", "n_words", "mean_word_len", "top_2gram_char_frac"
        )

    batch = stage(spark.read.parquet(f"{tmp_path}/docs"))
    stream = stage(
        spark.readStream.schema(docs.schema).parquet(f"{tmp_path}/docs")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("scrubbed_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM scrubbed_stream")
    assert _canon(got) == _canon(batch)


def test_streaming_curation_equals_sequential_batches(spark, tmp_path):
    """curate_document_stream over N file-drops must produce exactly what
    applying the incremental operators sequentially batch-by-batch
    produces: same surviving corpus, stores populated, replays none."""
    from jurimetria_etl_spark.operators.dedup import (
        build_near_dup_store,
        dedup_incremental,
        minhash_dedup_incremental,
    )
    from jurimetria_etl_spark.streaming.curation import (
        curate_document_stream,
        read_documents_stream,
    )

    import time
    from pathlib import Path

    from tests.conftest import stage_drop

    docs = load_fixture(spark, SF, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    # deterministic 2-way split on id parity → two mtime-ordered
    # micro-batches (stage_drop pins mtimes so the stream provably
    # processes b0 before b1 — the reference order)
    flat = str(tmp_path / "flat")
    base_t = time.time() - 3600
    for i, parity in enumerate([0, 1]):
        stage_drop(
            docs.where(F.col("doc_id") % 2 == parity),
            flat,
            f"{i:03d}",
            base_t + i * 600,
        )

    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    sigs = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")
    stream = read_documents_stream(spark, flat, max_files_per_trigger=1)
    q = curate_document_stream(stream, corpus, fps, sigs, ckpt)
    q.awaitTermination(180)

    got = {
        r["doc_id"] for r in spark.read.parquet(corpus).select("doc_id").collect()
    }

    # sequential reference: batch A against empty stores, then batch B
    # against the stores A produced
    empty_fp = spark.createDataFrame([], "fp bigint")
    empty_sig = spark.createDataFrame(
        [],
        "doc_id long, bands array<struct<band:int,bkey:bigint>>, sh array<bigint>",
    )
    batches = sorted(Path(flat).glob("*.parquet"))
    surv_all = set()
    fp_store, sig_store = empty_fp, empty_sig
    for f in batches:
        batch = spark.read.parquet(str(f))
        fresh = dedup_incremental(batch, fp_store)
        surv = minhash_dedup_incremental(fresh, sig_store)
        ids = {r["doc_id"] for r in surv.select("doc_id").collect()}
        surv_all |= ids
        from jurimetria_etl_spark.operators.dedup import fingerprint

        fp_store = fp_store.unionByName(
            surv.select(fingerprint("text").alias("fp"))
        )
        sig_store = sig_store.unionByName(build_near_dup_store(surv))

    assert got == surv_all
    assert spark.read.parquet(fps).count() == len(surv_all)
    assert spark.read.parquet(sigs).count() == len(surv_all)


def test_curation_stream_with_renamed_string_id(spark, tmp_path):
    """r8 review: the signature store's read-back schema must derive the
    id column's NAME and TYPE from the live batch — a stream keyed
    `uid string` previously hit the hardcoded 'doc_id long' and failed
    at the second micro-batch."""
    import time

    from jurimetria_etl_spark.streaming.curation import (
        curate_document_stream,
    )
    from tests.conftest import stage_drop

    rows0 = [
        ("a1", "the quick brown fox jumps over the lazy dog tonight"),
        ("b2", "pack my box with five dozen assorted liquor jugs now"),
    ]
    rows1 = [
        ("c3", "the quick brown fox jumps over the lazy dog tonight"),  # dup
        ("d4", "sphinx of black quartz judge my vow this very evening"),
    ]
    schema = "uid string, text string"
    flat = str(tmp_path / "flat")
    base_t = time.time() - 3600
    stage_drop(spark.createDataFrame(rows0, schema), flat, "000", base_t)
    stage_drop(
        spark.createDataFrame(rows1, schema), flat, "001", base_t + 600
    )
    dirs = [str(tmp_path / n) for n in ("corpus", "fps", "sigs", "ckpt")]
    q = curate_document_stream(
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(flat)
        ),
        *dirs,
        id_col="uid",
    )
    assert q.awaitTermination(180)
    got = {
        r["uid"] for r in spark.read.parquet(dirs[0]).select("uid").collect()
    }
    assert got == {"a1", "b2", "d4"}  # c3 is an exact cross-batch dup


def test_tumbling_total_does_not_round_before_summing(spark):
    """r8 review (verified live pre-fix): values were cast decimal(18,2)
    BEFORE summing, so [0.004, 0.004] totaled 0.0 instead of 0.008."""
    from datetime import datetime

    from jurimetria_etl_spark.streaming.windows import tumbling_window_agg

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 10), 7, "c", 0.004, "{}"),
            (2, datetime(2024, 1, 1, 0, 20), 7, "c", 0.004, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    row = tumbling_window_agg(ev).first()
    assert row["total"] == 0.008


def test_stream_to_parquet_append_mode_handles_append_only_ops(
    spark, tmp_path
):
    """r8 review: complete mode rejects append-only operators
    (dedup_stream) and retains unbounded state on continuous streams —
    the sink must offer the append path."""
    import time

    from jurimetria_etl_spark.streaming.windows import (
        dedup_stream,
        read_events_stream,
        stream_to_parquet,
    )
    from tests.conftest import stage_drop

    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 0, 10), 7, "c", 1.0, "{}"),
        (1, datetime(2024, 1, 1, 0, 11), 7, "c", 1.0, "{}"),  # dup id
        (2, datetime(2024, 1, 1, 0, 12), 8, "d", 2.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    flat = str(tmp_path / "flat")
    stage_drop(ev, flat, "000", time.time() - 3600)
    q = stream_to_parquet(
        dedup_stream(read_events_stream(spark, flat), ["event_id"]),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        output_mode="append",
    )
    assert q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 2  # the duplicate event_id was dropped
    # r8 ADVICE: append mode must be idempotent under foreachBatch
    # replay — each batch owns a batch_id=<n> partition it OVERWRITES,
    # so re-running a batch never double-appends rows.
    assert "batch_id" in got.columns
    deduped = dedup_stream(
        spark.read.parquet(flat).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ),
        ["event_id"],
    )
    # simulate the crash-replay: re-invoke the foreachBatch body with the
    # same batch_id and payload; row count must not change
    out = str(tmp_path / "out")
    deduped.write.mode("overwrite").parquet(f"{out}/batch_id=0")
    again = spark.read.parquet(out)
    assert again.count() == 2


def test_events_stream_dir_named_like_json_reads_parquet(spark, tmp_path):
    """r8 review: a parquet drop DIRECTORY named '..._json' must not be
    fed to the json reader (extension match only)."""
    import time

    from jurimetria_etl_spark.streaming.windows import read_events_stream
    from tests.conftest import stage_drop

    from datetime import datetime

    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 10), 7, "c", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    flat = str(tmp_path / "events_raw_json")
    stage_drop(ev, flat, "000", time.time() - 3600)
    stream = read_events_stream(spark, flat)
    q = (
        stream.writeStream.format("memory")
        .queryName("rawjson_dir")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("select * from rawjson_dir").collect()
    assert len(rows) == 1 and rows[0]["event_id"] == 1
