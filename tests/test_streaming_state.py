"""Stateful streaming sessionization vs the batch window computation.

The applyInPandasWithState operator must produce exactly the sessions
the batch lag/cumsum sessionizer finds — closed sessions after the
stream drains (final open sessions stay in state unless timed out;
the comparison accounts for that)."""
import os

import pandas as pd
import pytest


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    events = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("user_id", "ts", "value")
        .limit(2000)
    )
    events.coalesce(2).write.mode("overwrite").parquet(str(d / "in"))
    return str(d)


def _batch_sessions(spark, path):
    """Window-function twin (same GAP) incl. the open last session."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = (
        spark.read.parquet(path)
        .withColumn("us", F.unix_micros(F.col("ts").cast("timestamp")))
    )
    w = Window.partitionBy("user_id").orderBy("us")
    sess = (
        e.withColumn(
            "new_s",
            ((F.col("us") - F.lag("us").over(w) >= 1_800_000_000)
             | F.lag("us").over(w).isNull()).cast("int"))
        .withColumn("sid", F.sum("new_s").over(w))
        .groupBy("user_id", "sid")
        .agg(
            F.min("us").alias("session_start_us"),
            F.max("us").alias("session_end_us"),
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )
    return sess


def test_stateful_sessions_match_batch(spark, events_dir):
    from document_extractor_spark.streaming_state import stateful_sessions

    in_dir = os.path.join(events_dir, "in")
    out_dir = os.path.join(events_dir, "out")
    ckpt = os.path.join(events_dir, "ckpt")

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .parquet(in_dir)
    )
    q = (
        stateful_sessions(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir).toPandas()
    want = _batch_sessions(spark, in_dir).toPandas()
    assert len(got) > 0

    # the stream emits only CLOSED sessions; every emitted session must
    # exactly match a batch session (same start/end/count/sum)
    key = ["user_id", "session_start_us"]
    merged = got.merge(want, on=key, suffixes=("", "_b"), how="left")
    assert merged.session_end_us_b.notna().all()
    assert (merged.session_end_us == merged.session_end_us_b).all()
    assert (merged.n_events == merged.n_events_b).all()
    assert ((merged.total_value - merged.total_value_b).abs() < 1e-9).all()

    # per user, the stream may hold back at most the final open session
    got_n = got.groupby("user_id").size()
    want_n = want.groupby("user_id").size()
    joined = pd.concat([got_n, want_n], axis=1).fillna(0)
    joined.columns = ["got", "want"]
    assert ((joined["want"] - joined["got"]).isin([0, 1])).all()


def test_late_in_gap_event_does_not_rewind_session(spark, tmp_path):
    """A watermark-allowed late event arriving in a LATER micro-batch,
    inside the open session's gap, must merge without rewinding
    `last`: the next event's gap is measured from the latest event
    seen, so the session is not wrongly split (ADVICE r1 regression)."""
    import time

    from document_extractor_spark.streaming_state import stateful_sessions

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    t0 = 1_700_000_000_000_000  # us
    mins = 60_000_000

    def write_file(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "us", "value"])
        pdf["ts"] = pd.to_datetime(pdf.us, unit="us", utc=True)
        sdf = spark.createDataFrame(pdf[["user_id", "ts", "value"]])
        sdf.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(in_dir, name))
        time.sleep(1.1)  # distinct mtimes -> deterministic batch order

    # batch 1: session opens, last = t0 + 10min
    write_file("a", [(1, t0, 1.0), (1, t0 + 10 * mins, 1.0)])
    # batch 2: late in-gap event (t0+5min) + follow-up at t0+38min whose
    # gap vs the TRUE last (10min) is 28min < 30 -> must merge; vs a
    # rewound last (5min) it would be 33min -> wrong split
    write_file("b", [(1, t0 + 5 * mins, 1.0), (1, t0 + 38 * mins, 1.0)])
    # batch 3: far-future event closes the session
    write_file("c", [(1, t0 + 300 * mins, 1.0)])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir + "/*")
    )
    q = (
        stateful_sessions(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir).toPandas()
    closed = got[got.user_id == 1].sort_values("session_start_us")
    assert len(closed) == 1, closed.to_string()
    s = closed.iloc[0]
    assert s.session_start_us == t0
    assert s.session_end_us == t0 + 38 * mins  # not rewound, not split
    assert s.n_events == 4


def test_same_batch_stragglers_merge(spark, tmp_path):
    """Two watermark-allowed stragglers in ONE later micro-batch that
    are within a gap of each other must emit as a single merged early
    session, matching the batch twin (review finding)."""
    import time

    from document_extractor_spark.streaming_state import stateful_sessions

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    t0 = 1_700_000_000_000_000
    mins = 60_000_000

    def write_file(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "us", "value"])
        pdf["ts"] = pd.to_datetime(pdf.us, unit="us", utc=True)
        spark.createDataFrame(pdf[["user_id", "ts", "value"]]) \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(in_dir, name))
        time.sleep(1.1)

    # batch 1: open session starts at t0+100min
    write_file("a", [(1, t0 + 100 * mins, 1.0)])
    # batch 2: stragglers at t0+45 and t0+50 (both > gap before s0, but
    # 5min apart -> ONE early session [45,50] n=2)
    write_file("b", [(1, t0 + 45 * mins, 1.0), (1, t0 + 50 * mins, 1.0)])
    # batch 3: close the main session
    write_file("c", [(1, t0 + 400 * mins, 1.0)])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1").parquet(in_dir + "/*"))
    q = (stateful_sessions(stream)
         .writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = (spark.read.parquet(out_dir).toPandas()
           .sort_values("session_start_us").reset_index(drop=True))
    early = got[got.session_start_us == t0 + 45 * mins]
    assert len(early) == 1, got.to_string()
    assert early.iloc[0].session_end_us == t0 + 50 * mins
    assert early.iloc[0].n_events == 2
    # the main session emits separately, unpolluted
    main = got[got.session_start_us == t0 + 100 * mins]
    assert len(main) == 1 and main.iloc[0].n_events == 1


class _FakeState:
    """Minimal GroupState stand-in for driving the session fn directly."""

    def __init__(self, value=None):
        self._v = value
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def setTimeoutTimestamp(self, ts):
        pass


def test_in_batch_straggler_merges_after_backward_extension():
    """An early straggler classified against the PRE-extension open
    session must merge once a later in-batch event extends the session
    start to within a gap of it (the batch twin's global sort merges
    them) — previously emitted as a spurious separate session."""
    import pandas as pd

    from document_extractor_spark.streaming_state import (
        GAP_US, sessionize_with_state)

    MIN = 60_000_000
    T = 10_000 * MIN
    state = _FakeState((T, T, 1, 1.0))   # open session at T
    batch = pd.DataFrame({"us": [T - 35 * MIN, T - 10 * MIN],
                          "value": [2.0, 3.0]})
    [out] = list(sessionize_with_state((7,), [batch], state))
    assert len(out) == 0                  # nothing spuriously closed
    s0, last, n, tot = state.get
    assert s0 == T - 35 * MIN             # straggler merged into open
    assert (last, n, tot) == (T, 3, 6.0)

    # control: straggler STAYS separate when nothing bridges the gap
    state = _FakeState((T, T, 1, 1.0))
    batch = pd.DataFrame({"us": [T - 35 * MIN], "value": [2.0]})
    [out] = list(sessionize_with_state((7,), [batch], state))
    assert [tuple(r) for r in out.itertuples(index=False)] == [
        (7, T - 35 * MIN, T - 35 * MIN, 1, 2.0)]
    assert state.get == (T, T, 1, 1.0)
