"""Structured Streaming tier maintenance: micro-batch partial appends +
compaction must equal the batch rollup of the same data; the watermarked
windowed aggregate must produce the exact tier counts."""

import pytest
from pyspark.sql import functions as F

from tsdat_spark.rollup import rollup_tier
from tsdat_spark.standardize import with_token_len, with_turn_latency
from tsdat_spark.streaming import compact_tier, stream_append_tier, stream_windowed_counts
from tsdat_spark.synth import SynthSpec, generate_transcripts

KEYS = ["conv_id", "role"]


@pytest.fixture(autouse=True)
def _quiesce_streams(spark):
    """Streaming isolation: no test starts while another test's query (or a
    deliberately-failed one, e.g. the disorder test) still owns state-store
    maintenance threads or a memory sink. Stops stray active queries on both
    sides of every test in this module."""
    for q in spark.streams.active:
        try:
            q.stop()
        except Exception:
            pass
    spark.streams.resetTerminated()
    yield
    for q in spark.streams.active:
        try:
            q.stop()
        except Exception:
            pass


@pytest.fixture(scope="module")
def turns(spark):
    df = with_turn_latency(with_token_len(generate_transcripts(
        spark, SynthSpec(n_convs=12, base_turns=60, n_mega=1, mega_turns=300))))
    df.persist(); df.count()
    yield df
    df.unpersist()


def _tier_key(r):
    return (r["conv_id"], r["role"], r["bin_start"])


def test_stream_append_plus_compaction_equals_batch(spark, turns, tmp_path):
    src = str(tmp_path / "src")
    tier_path = str(tmp_path / "tier_1m")
    ckpt = str(tmp_path / "ckpt")

    # land the input as TWO separate file drops (micro-batch boundaries land
    # mid-conversation, so cross-batch merge is actually exercised)
    a, b = turns.randomSplit([0.5, 0.5], seed=7)
    a.write.mode("overwrite").parquet(src)
    schema = turns.schema.simpleString()[7:-1].replace(":", " ").replace(",", ", ")

    q = stream_append_tier(spark, src, schema, tier_path, ckpt, "1m", KEYS)
    q.awaitTermination(120)
    b.write.mode("append").parquet(src)
    q2 = stream_append_tier(spark, src, schema, tier_path, ckpt, "1m", KEYS)
    q2.awaitTermination(120)

    compacted = compact_tier(spark, tier_path, "1m", KEYS)
    batch = rollup_tier(turns, "1m", series_keys=KEYS)

    got = {_tier_key(r): r for r in compacted.collect()}
    exp = {_tier_key(r): r for r in batch.collect()}
    assert got.keys() == exp.keys()
    for k, e in exp.items():
        g = got[k]
        assert g["n_turns"] == e["n_turns"]
        assert g["token_len_sum"] == e["token_len_sum"]
        assert g["n_latency"] == e["n_latency"]
        # digests merged across micro-batch boundaries: quantiles within
        # sketch tolerance of the single-pass batch digest
        if e["n_latency"] > 0:
            assert g["latency_p50"] == pytest.approx(e["latency_p50"], rel=0.1, abs=1e-6)


def test_windowed_counts_matches_batch(spark, turns, tmp_path):
    src = str(tmp_path / "wsrc")
    turns.write.mode("overwrite").parquet(src)
    schema = turns.schema.simpleString()[7:-1].replace(":", " ").replace(",", ", ")
    stream = spark.readStream.schema(schema).parquet(src)
    agg = stream_windowed_counts(stream, "1m", KEYS)
    q = (
        agg.writeStream.format("memory").queryName("win_counts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {_tier_key(r): r for r in spark.sql("select * from win_counts").collect()}

    exp_df = turns.groupBy(F.date_trunc("minute", "ts").alias("bin_start"), *KEYS).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("token_len").alias("token_len_sum"),
        F.count("latency_us").alias("n_latency"),
    )
    exp = {_tier_key(r): r for r in exp_df.collect()}
    assert got.keys() == exp.keys()
    for k, e in exp.items():
        assert got[k]["n_turns"] == e["n_turns"]
        assert (got[k]["token_len_sum"] or 0) == (e["token_len_sum"] or 0)


def test_stateful_sessionize_stream(spark, turns, tmp_path):
    """applyInPandasWithState session windows: sessions emitted exactly once
    when closed, and sessions spanning a micro-batch boundary merge through
    the group state. Expected = batch windowed sessionize (ts order) minus
    each conversation's still-open tail session."""
    from pyspark.sql import Window as W

    from tsdat_spark.streaming import sessionize_stream

    import datetime as dt

    # purpose-built multi-session series: 4 convs x 40 turns, a >30min gap
    # every 8 turns -> 5 sessions per conv, spread over hours so the mid-way
    # cut leaves closed sessions on BOTH sides and an open one spanning it
    rows = []
    base = dt.datetime(2024, 1, 1)
    for c in range(4):
        for i in range(40):
            ts = base + dt.timedelta(seconds=c * 7 + i * 60 + (i // 8) * 2400)
            rows.append((f"s{c}", i, ts, i % 7 + 1))
    sess_turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, token_len int"
    )
    sess_turns.persist(); sess_turns.count()
    turns = sess_turns  # shadow the fixture: everything below uses this table

    src = str(tmp_path / "sess_src")
    # two SEQUENTIAL drops split on time: the query processes drop 1 as one
    # micro-batch (open sessions land in group state), then drop 2 arrives
    # and those spanning sessions must merge THROUGH the state.
    cut = turns.agg(F.percentile_approx("ts", 0.5)).first()[0]
    turns.where(F.col("ts") <= cut).write.mode("overwrite").parquet(src)

    schema = turns.schema.simpleString()[7:-1].replace(":", " ").replace(",", ", ")
    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = (
        sessionize_stream(stream2, gap_s=1800)
        .writeStream.format("memory").queryName("sessions2")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "sess_ckpt2"))
        .start()
    )
    q2.processAllAvailable()
    n_after_drop1 = spark.sql("select count(*) from sessions2").first()[0]
    turns.where(F.col("ts") > cut).write.mode("append").parquet(src)
    q2.processAllAvailable()
    q2.stop()

    got = {
        (r["conv_id"], r["session_idx"]): r
        for r in spark.sql("select * from sessions2").collect()
    }
    # both micro-batches emitted something: state really spanned batches
    assert 0 < n_after_drop1 < len(got)

    # expected: batch sessionize in ts order, minus each conv's tail session
    w = W.partitionBy("conv_id").orderBy("ts")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_s = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = turns.withColumn(
        "session_idx", F.sum(new_s).over(w.rowsBetween(W.unboundedPreceding, 0)) - 1
    )
    agg = sess.groupBy("conv_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.coalesce(F.sum("token_len"), F.lit(0)).alias("token_len_sum"),
    )
    last = agg.groupBy("conv_id").agg(F.max("session_idx").alias("mx"))
    closed = agg.join(last, "conv_id").where(F.col("session_idx") < F.col("mx"))
    exp = {(r["conv_id"], r["session_idx"]): r for r in closed.collect()}

    assert got.keys() == exp.keys()
    for k, e in exp.items():
        g = got[k]
        assert (g["n_turns"], g["token_len_sum"]) == (e["n_turns"], e["token_len_sum"])
        assert g["session_start"] == e["session_start"] and g["session_end"] == e["session_end"]


def test_sessionize_stream_gap_on_batch_boundary(spark, tmp_path):
    """When a micro-batch boundary coincides with a session gap (the new
    batch's first turn is > gap after the state session's last turn), the
    session held in state must still be emitted — this path previously
    dropped it silently."""
    import datetime as dt

    from tsdat_spark.streaming import sessionize_stream

    base = dt.datetime(2024, 3, 1)
    mk = lambda mins, i: ("g0", i, base + dt.timedelta(minutes=mins), 5)
    # session 0: t=0..7min; session 1: t=60..67min; session 2 (open): t=120min
    drop1 = [mk(m, i) for i, m in enumerate(range(0, 8))]
    drop2 = [mk(60 + m, 8 + i) for i, m in enumerate(range(0, 8))] + [mk(120, 16)]
    ddl = "conv_id string, turn_idx int, ts timestamp, token_len int"

    src = str(tmp_path / "gap_src")
    spark.createDataFrame(drop1, ddl).write.mode("overwrite").parquet(src)
    q = (
        sessionize_stream(spark.readStream.schema(ddl).parquet(src), gap_s=1800)
        .writeStream.format("memory").queryName("gap_sessions")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "gap_ckpt"))
        .start()
    )
    q.processAllAvailable()
    assert spark.sql("select count(*) from gap_sessions").first()[0] == 0
    # one file, so the running query cannot pick up part of this drop
    spark.createDataFrame(drop2, ddl).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    got = {
        r["session_idx"]: r
        for r in spark.sql("select * from gap_sessions").collect()
    }
    assert set(got) == {0, 1}
    s0 = got[0]
    assert s0["n_turns"] == 8 and s0["token_len_sum"] == 40
    assert s0["session_start"] == base
    assert s0["session_end"] == base + dt.timedelta(minutes=7)
    s1 = got[1]
    assert s1["n_turns"] == 8
    assert s1["session_start"] == base + dt.timedelta(minutes=60)
    assert s1["session_end"] == base + dt.timedelta(minutes=67)


def test_sessionize_stream_rejects_cross_batch_disorder(spark, tmp_path):
    """A micro-batch whose earliest turn for a key precedes the state's last
    seen turn violates the arrival contract and must fail the query loudly,
    not silently mis-sessionize."""
    import datetime as dt

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from tsdat_spark.streaming import sessionize_stream

    base = dt.datetime(2024, 3, 2)
    ddl = "conv_id string, turn_idx int, ts timestamp, token_len int"
    drop1 = [("d0", i, base + dt.timedelta(minutes=10 + i), 3) for i in range(4)]
    # disordered: earlier than everything in drop1
    drop2 = [("d0", 9, base, 3)]

    src = str(tmp_path / "dis_src")
    spark.createDataFrame(drop1, ddl).write.mode("overwrite").parquet(src)
    q = (
        sessionize_stream(spark.readStream.schema(ddl).parquet(src), gap_s=1800)
        .writeStream.format("memory").queryName("dis_sessions")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "dis_ckpt"))
        .start()
    )
    q.processAllAvailable()
    spark.createDataFrame(drop2, ddl).write.mode("append").parquet(src)
    with pytest.raises(StreamingQueryException, match="cross-batch disorder"):
        q.processAllAvailable()
        q.awaitTermination(30)
    q.stop()


def test_dedup_stream_drops_cross_batch_duplicates(spark, tmp_path):
    """First occurrence of each md5 key survives; duplicates in the SAME
    and in LATER micro-batches (within the watermark) are dropped."""
    import datetime as dt

    from tsdat_spark.streaming import dedup_stream

    base = dt.datetime(2024, 3, 3)
    ddl = "doc_id long, text_md5 string, ts timestamp"
    drop1 = [
        (1, "aaa", base),
        (2, "bbb", base + dt.timedelta(minutes=1)),
        (3, "aaa", base + dt.timedelta(minutes=2)),   # same-batch dup
    ]
    drop2 = [
        (4, "bbb", base + dt.timedelta(minutes=3)),   # cross-batch dup
        (5, "ccc", base + dt.timedelta(minutes=4)),   # new key
    ]

    src = str(tmp_path / "dd_src")
    spark.createDataFrame(drop1, ddl).write.mode("overwrite").parquet(src)
    q = (
        dedup_stream(spark.readStream.schema(ddl).parquet(src), watermark="1 hour")
        .writeStream.format("memory").queryName("dd_out")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .start()
    )
    q.processAllAvailable()
    spark.createDataFrame(drop2, ddl).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    rows = spark.sql("select * from dd_out").collect()
    # exactly one survivor per key; the batch-2 duplicate of 'bbb' (doc 4)
    # MUST be dropped (cross-batch dedup is the guaranteed part); WITHIN
    # batch 1 either copy of 'aaa' may survive (Spark keeps an arbitrary
    # within-batch row — documented in dedup_stream)
    by_key = {}
    for r in rows:
        by_key.setdefault(r["text_md5"], []).append(r["doc_id"])
    assert {k: len(v) for k, v in by_key.items()} == {"aaa": 1, "bbb": 1, "ccc": 1}
    assert by_key["aaa"][0] in (1, 3)
    assert by_key["bbb"] == [2]      # doc 4 (later batch) never survives
    assert by_key["ccc"] == [5]


def test_sessionize_eventtime_accepts_cross_batch_disorder(spark, tmp_path):
    """The event-time variant must produce correct sessions from batches
    arriving OUT of time order (where the ordered-contract operator raises):
    drop 1 carries the LATER session, drop 2 the earlier one, drop 3 a
    watermark-advancing turn that closes both."""
    import datetime as dt

    from tsdat_spark.streaming import sessionize_stream_eventtime

    base = dt.datetime(2024, 4, 1)
    mk = lambda mins, i: ("e0", i, base + dt.timedelta(minutes=mins), 5)
    ddl = "conv_id string, turn_idx int, ts timestamp, token_len int"
    drop1 = [mk(60 + m, i) for i, m in enumerate(range(0, 8))]      # session 1
    drop2 = [mk(m, 8 + i) for i, m in enumerate(range(0, 8))]       # session 0 (earlier!)
    drop3 = [mk(600, 16)]                                            # watermark push

    src = str(tmp_path / "et_src")
    spark.createDataFrame(drop1, ddl).write.mode("overwrite").parquet(src)
    q = (
        sessionize_stream_eventtime(
            # the admissible-disorder horizon IS the watermark: 2h covers the
            # 60-minute cross-batch skew this test constructs
            spark.readStream.schema(ddl).parquet(src), gap_s=1800, watermark="2 hours"
        )
        .writeStream.format("memory").queryName("et_sessions")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "et_ckpt"))
        .start()
    )
    q.processAllAvailable()
    spark.createDataFrame(drop2, ddl).write.mode("append").parquet(src)
    q.processAllAvailable()
    spark.createDataFrame(drop3, ddl).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    got = {r["session_idx"]: r for r in spark.sql("select * from et_sessions").collect()}
    assert set(got) == {0, 1}, got
    s0, s1 = got[0], got[1]
    assert s0["session_start"] == base and s0["session_end"] == base + dt.timedelta(minutes=7)
    assert s0["n_turns"] == 8 and s0["token_len_sum"] == 40
    assert s1["session_start"] == base + dt.timedelta(minutes=60)
    assert s1["session_end"] == base + dt.timedelta(minutes=67)
    assert s1["n_turns"] == 8


def test_sessionize_eventtime_merges_fragments_across_batches(spark, tmp_path):
    """A late middle turn must MERGE two state fragments into one session:
    drop 1 = turns at t=0 and t=40min (two fragments, gap 30min), drop 2 =
    t=20min (bridges them), drop 3 = watermark push. One merged session."""
    import datetime as dt

    from tsdat_spark.streaming import sessionize_stream_eventtime

    base = dt.datetime(2024, 4, 2)
    ddl = "conv_id string, turn_idx int, ts timestamp, token_len int"
    mk = lambda mins, i: ("f0", i, base + dt.timedelta(minutes=mins), 2)
    src = str(tmp_path / "fm_src")
    spark.createDataFrame([mk(0, 0), mk(40, 1)], ddl).write.mode("overwrite").parquet(src)
    q = (
        sessionize_stream_eventtime(
            spark.readStream.schema(ddl).parquet(src), gap_s=1800, watermark="1 hour"
        )
        .writeStream.format("memory").queryName("fm_sessions")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "fm_ckpt"))
        .start()
    )
    q.processAllAvailable()
    spark.createDataFrame([mk(20, 2)], ddl).write.mode("append").parquet(src)
    q.processAllAvailable()
    spark.createDataFrame([mk(600, 3)], ddl).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    rows = spark.sql("select * from fm_sessions").collect()
    assert len(rows) == 1, rows
    s = rows[0]
    assert s["session_idx"] == 0 and s["n_turns"] == 3 and s["token_len_sum"] == 6
    assert s["session_start"] == base and s["session_end"] == base + dt.timedelta(minutes=40)


def test_sessionize_eventtime_timeout_flushes_quiet_conversation(spark, tmp_path):
    """A conversation that goes quiet is flushed by the event-time TIMEOUT
    when OTHER keys advance the watermark — no further turn of its own."""
    import datetime as dt

    from tsdat_spark.streaming import sessionize_stream_eventtime

    base = dt.datetime(2024, 4, 3)
    ddl = "conv_id string, turn_idx int, ts timestamp, token_len int"
    src = str(tmp_path / "to_src")
    quiet = [("q0", i, base + dt.timedelta(minutes=i), 1) for i in range(3)]
    spark.createDataFrame(quiet, ddl).write.mode("overwrite").parquet(src)
    q = (
        sessionize_stream_eventtime(
            spark.readStream.schema(ddl).parquet(src), gap_s=1800, watermark="10 minutes"
        )
        .writeStream.format("memory").queryName("to_sessions")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "to_ckpt"))
        .start()
    )
    q.processAllAvailable()
    # a DIFFERENT conversation far in the future advances the watermark
    other = [("q1", 0, base + dt.timedelta(hours=5), 1)]
    spark.createDataFrame(other, ddl).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    rows = [r for r in spark.sql("select * from to_sessions").collect() if r["conv_id"] == "q0"]
    assert len(rows) == 1, rows
    assert rows[0]["n_turns"] == 3 and rows[0]["session_end"] == base + dt.timedelta(minutes=2)


def test_sessionize_eventtime_resume_after_quiet_keeps_session_idx(spark, tmp_path):
    """A conversation fully flushed by the timeout (all fragments closed,
    none open) that later RESUMES must continue its per-conversation
    session_idx (0, 1, ...) — not restart at 0 and emit a duplicate
    (conv_id, session_idx) key. Regression: the all-closed path used to
    state.remove(), discarding the emitted counter."""
    import datetime as dt

    from tsdat_spark.streaming import sessionize_stream_eventtime

    base = dt.datetime(2024, 4, 4)
    ddl = "conv_id string, turn_idx int, ts timestamp, token_len int"
    src = str(tmp_path / "rs_src")
    s0 = [("r0", i, base + dt.timedelta(minutes=i), 1) for i in range(3)]
    spark.createDataFrame(s0, ddl).write.mode("overwrite").parquet(src)
    q = (
        sessionize_stream_eventtime(
            spark.readStream.schema(ddl).parquet(src), gap_s=1800, watermark="10 minutes"
        )
        .writeStream.format("memory").queryName("rs_sessions")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "rs_ckpt"))
        .start()
    )
    q.processAllAvailable()
    # another key pushes the watermark far past r0's session → timeout
    # flush closes EVERYTHING r0 has open
    spark.createDataFrame(
        [("r1", 0, base + dt.timedelta(hours=5), 1)], ddl
    ).write.mode("append").parquet(src)
    q.processAllAvailable()
    # r0 resumes with a brand-new session near the watermark, then r1
    # pushes the watermark again to close it
    s1 = [("r0", 10 + i, base + dt.timedelta(hours=5, minutes=i), 2) for i in range(2)]
    spark.createDataFrame(s1, ddl).write.mode("append").parquet(src)
    q.processAllAvailable()
    spark.createDataFrame(
        [("r1", 1, base + dt.timedelta(hours=12), 1)], ddl
    ).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    rows = sorted(
        (r for r in spark.sql("select * from rs_sessions").collect()
         if r["conv_id"] == "r0"),
        key=lambda r: r["session_start"],
    )
    assert [r["session_idx"] for r in rows] == [0, 1], rows
    assert rows[0]["n_turns"] == 3 and rows[1]["n_turns"] == 2


def test_builtin_session_window_counts(spark, tmp_path):
    """The built-in session_window formulation must produce the same
    closed sessions (start/end/counts) as the custom stateful operator's
    semantics: >gap starts a new session; emission once the watermark
    passes a session."""
    import datetime as dt

    from tsdat_spark.streaming import stream_session_counts

    base = dt.datetime(2024, 4, 10)
    mk = lambda mins, i: ("b0", i, base + dt.timedelta(minutes=mins), 4)
    ddl = "conv_id string, turn_idx int, ts timestamp, token_len int"
    # two sessions (0-7min, 60-67min) + a far-future watermark pusher
    drop1 = [mk(m, i) for i, m in enumerate(range(0, 8))] + \
            [mk(60 + m, 8 + i) for i, m in enumerate(range(0, 8))]
    drop2 = [mk(600, 16)]

    src = str(tmp_path / "sw_src")
    spark.createDataFrame(drop1, ddl).write.mode("overwrite").parquet(src)
    q = (
        stream_session_counts(
            spark.readStream.schema(ddl).parquet(src), gap_s=1800, watermark="10 minutes"
        )
        .writeStream.format("memory").queryName("sw_sessions")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "sw_ckpt"))
        .start()
    )
    q.processAllAvailable()
    spark.createDataFrame(drop2, ddl).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    rows = sorted(spark.sql("select * from sw_sessions").collect(),
                  key=lambda r: r["session_start"])
    assert len(rows) == 2
    s0, s1 = rows
    assert s0["session_start"] == base and s0["session_end"] == base + dt.timedelta(minutes=7)
    assert s0["n_turns"] == 8 and s0["token_len_sum"] == 32
    assert s1["session_start"] == base + dt.timedelta(minutes=60)
    assert s1["n_turns"] == 8


@pytest.mark.parametrize("seed", [11, 23])
def test_sessionize_eventtime_random_disorder_matches_batch(spark, tmp_path, seed):
    """Property-style: random turn times split into random micro-batches
    with bounded (within-watermark) disorder must yield EXACTLY the batch
    sessionization of the union — counts, bounds, and time-ordered
    session_idx — once a far-future turn closes everything."""
    import datetime as dt
    import random

    from pyspark.sql import Window as W

    from tsdat_spark.streaming import sessionize_stream_eventtime

    rng = random.Random(seed)
    base = dt.datetime(2024, 5, 1)
    gap_s = 1800
    # ~60 turns over ~6 hours: dense runs with occasional > gap holes
    times, t = [], 0.0
    for _ in range(60):
        t += rng.choice([rng.uniform(10, 600), rng.uniform(2000, 4000)])
        times.append(t)
    rows = [("r0", i, base + dt.timedelta(seconds=s), 3) for i, s in enumerate(times)]

    # shuffle locally within a 20-minute disorder horizon (< 1h watermark):
    # sort by ts + bounded random jitter, then slice into batches
    jittered = sorted(rows, key=lambda r: (r[2], ))
    jittered = sorted(jittered, key=lambda r: r[2] + dt.timedelta(
        seconds=rng.uniform(0, 1200)))
    cuts = sorted(rng.sample(range(1, len(rows)), 4))
    batches = [jittered[a:b] for a, b in zip([0, *cuts], [*cuts, len(rows)])]
    closer_ts = base + dt.timedelta(seconds=max(times) + 8 * 3600)
    batches.append([("r0", 999, closer_ts, 3)])

    ddl = "conv_id string, turn_idx int, ts timestamp, token_len int"
    src = str(tmp_path / f"rd_src_{seed}")
    spark.createDataFrame(batches[0], ddl).write.mode("overwrite").parquet(src)
    q = (
        sessionize_stream_eventtime(
            spark.readStream.schema(ddl).parquet(src), gap_s=gap_s, watermark="1 hour"
        )
        .writeStream.format("memory").queryName(f"rd_sessions_{seed}")
        .outputMode("append").option("checkpointLocation", str(tmp_path / f"rd_ckpt_{seed}"))
        .start()
    )
    q.processAllAvailable()
    for b in batches[1:]:
        spark.createDataFrame(b, ddl).write.mode("append").parquet(src)
        q.processAllAvailable()
    q.stop()

    got = {
        r["session_idx"]: (r["n_turns"], r["session_start"], r["session_end"], r["token_len_sum"])
        for r in spark.sql(f"select * from rd_sessions_{seed}").collect()
    }

    # batch oracle over the ORIGINAL rows (without the closer's own session)
    df = spark.createDataFrame(rows, ddl)
    w = W.partitionBy("conv_id").orderBy("ts")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_s = F.when(gap.isNull() | (gap > gap_s * 1_000_000), 1).otherwise(0)
    sess = df.withColumn(
        "sidx", F.sum(new_s).over(w.rowsBetween(W.unboundedPreceding, 0)) - 1)
    exp = {
        r["sidx"]: (r["n"], r["st"], r["en"], r["tk"])
        for r in sess.groupBy("sidx").agg(
            F.count(F.lit(1)).alias("n"), F.min("ts").alias("st"),
            F.max("ts").alias("en"), F.sum("token_len").alias("tk")).collect()
    }
    assert got == exp, (got, exp)


def test_sessionize_eventtime_counter_ttl_evicts_state(spark, tmp_path):
    """ADVICE r5: counter-only state must not grow forever with distinct
    conv_ids. A conversation quiet past ``counter_ttl_s`` has its counter
    evicted by the event-time timeout; resuming past the TTL restarts
    session_idx at 0 (the documented trade for bounded state)."""
    import datetime as dt

    from tsdat_spark.streaming import sessionize_stream_eventtime

    base = dt.datetime(2024, 4, 5)
    ddl = "conv_id string, turn_idx int, ts timestamp, token_len int"
    src = str(tmp_path / "ttl_src")
    s0 = [("t0", i, base + dt.timedelta(minutes=i), 1) for i in range(3)]
    spark.createDataFrame(s0, ddl).write.mode("overwrite").parquet(src)
    q = (
        sessionize_stream_eventtime(
            spark.readStream.schema(ddl).parquet(src), gap_s=1800,
            watermark="10 minutes", counter_ttl_s=3600,
        )
        .writeStream.format("memory").queryName("ttl_sessions")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "ttl_ckpt"))
        .start()
    )
    q.processAllAvailable()
    # another key pushes the watermark past t0's close → flush, counter kept
    spark.createDataFrame(
        [("t1", 0, base + dt.timedelta(hours=5), 1)], ddl
    ).write.mode("append").parquet(src)
    q.processAllAvailable()
    # ... and then far past the 1h counter TTL → counter state evicted
    spark.createDataFrame(
        [("t1", 1, base + dt.timedelta(hours=12), 1)], ddl
    ).write.mode("append").parquet(src)
    q.processAllAvailable()
    # t0 resumes past the TTL; close its new session via the watermark
    s1 = [("t0", 10, base + dt.timedelta(hours=12, minutes=5), 2)]
    spark.createDataFrame(s1, ddl).write.mode("append").parquet(src)
    q.processAllAvailable()
    spark.createDataFrame(
        [("t1", 2, base + dt.timedelta(hours=24), 1)], ddl
    ).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    rows = sorted(
        (r for r in spark.sql("select * from ttl_sessions").collect()
         if r["conv_id"] == "t0"),
        key=lambda r: r["session_start"],
    )
    # both sessions emitted; the second restarted at idx 0 (TTL contract)
    assert [r["session_idx"] for r in rows] == [0, 0], rows
    assert rows[0]["n_turns"] == 3 and rows[1]["n_turns"] == 1
