"""applyInPandasWithState tests: custom stateful totals must equal the
batch aggregate."""

from __future__ import annotations

from pyspark.sql import functions as F

from document_vector_indexer_spark.io import load_table
from document_vector_indexer_spark.streaming import windows as W
from document_vector_indexer_spark.streaming.stateful import (
    running_user_totals,
    running_user_totals_jvm,
)

SF = "/root/testdata/sf0.001"


def test_stateful_totals_match_batch(spark):
    stream = running_user_totals(W.read_events_stream(spark, SF))
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_state")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # one availableNow pass may still split into several micro-batches;
    # the LAST emitted row per user carries the final running total
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM t_state").collect()
    }
    batch = {
        r.user_id: (r.n, r.total)
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.rint(F.col("value") * 100).cast("long")) / 100.0).alias("total"),
        )
        .collect()
    }
    assert got.keys() == batch.keys()
    for u in batch:
        assert got[u][0] == batch[u][0], f"user {u} count"
        assert abs(got[u][1] - batch[u][1]) < 0.02, f"user {u} total"


def test_jvm_totals_match_python_path_across_flushes(spark, tmp_path):
    """running_user_totals_jvm (the r12 scale path: built-in streaming
    agg, no Python harness) must converge to EXACTLY the same final
    state as the applyInPandasWithState operator, across real
    micro-batch boundaries (maxFilesPerTrigger=1 over a 4-file split,
    so state genuinely accumulates across flushes on both paths)."""
    src = str(tmp_path / "events_split_jvm")
    ev = load_table(spark, SF, "events")
    ev.repartition(4).write.parquet(src)

    def final_state(stream_df, name):
        q = (
            stream_df.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert len(q.recentProgress) >= 4, "expected one flush per file"
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        out: dict = {}
        for r in rows:  # memory sink appends in batch order
            out[r.user_id] = (r.n_events, r.total_value)
        return out

    def reader():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    py = final_state(running_user_totals(reader()), "t_state_py_vs_jvm")
    jvm = final_state(running_user_totals_jvm(reader()), "t_state_jvm")
    assert py == jvm  # bit-equal totals, same user set


def test_stateful_totals_across_multiple_flushes(spark, tmp_path):
    """State must accumulate ACROSS micro-batch flushes, not within one:
    split the events into 4 files and trigger per-file
    (maxFilesPerTrigger=1), so most users' state is updated in several
    distinct flushes; the LAST emission per user must still equal the
    batch aggregate, and users seen in k batches must have emitted k
    monotonically non-decreasing rows (update-mode contract)."""
    src = str(tmp_path / "events_split")
    ev = load_table(spark, SF, "events")
    ev.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_state_multi")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 4, "expected one flush per input file"
    rows = spark.sql("SELECT * FROM t_state_multi").collect()
    # multi-flush actually happened for real users (hash split spreads
    # every frequent user across several files)
    from collections import Counter

    per_user = Counter(r.user_id for r in rows)
    assert max(per_user.values()) >= 2, "no user was flushed twice"
    # memory sink appends in batch order; per user the running totals
    # must be non-decreasing across flushes
    seen: dict = {}
    for r in rows:
        prev = seen.get(r.user_id, (0, 0.0))
        assert r.n_events >= prev[0] and r.total_value >= prev[1] - 1e-9
        seen[r.user_id] = (r.n_events, r.total_value)
    # and the final row per user equals the batch aggregate
    batch = {
        r.user_id: (r.n, r.total)
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.rint(F.col("value") * 100).cast("long")) / 100.0).alias(
                "total"
            ),
        )
        .collect()
    }
    assert seen.keys() == batch.keys()
    for u in batch:
        assert seen[u][0] == batch[u][0]
        assert abs(seen[u][1] - batch[u][1]) < 0.02


def test_stateful_idle_timeout_evicts_and_restarts():
    """The idle-timeout eviction path, pinned without a clock: drive
    the updater function directly with a fake GroupState. A timed-out
    group removes its state and emits nothing; the next batch restarts
    from zero."""
    import pandas as pd

    from document_vector_indexer_spark.streaming.stateful import (
        make_user_totals_updater,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self.hasTimedOut = False
            self._v = None
            self.timeout_set_ms = None
            self.removed = False

        @property
        def get(self):  # property, matching the real GroupState API
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

        def remove(self):
            self.removed = True
            self.exists = False
            self._v = None

        def setTimeoutDuration(self, ms):
            self.timeout_set_ms = ms

    upd = make_user_totals_updater(idle_timeout_ms=60_000)
    st = FakeState()
    batch = [pd.DataFrame({"value": [1.25, 2.50]})]
    out = list(upd((7,), iter(batch), st))
    assert st._v == (2, 375) and st.timeout_set_ms == 60_000
    assert out[0]["total_value"].iloc[0] == 3.75
    # timeout fires: state dropped, nothing emitted
    st.hasTimedOut = True
    assert list(upd((7,), iter([]), st)) == [] and st.removed
    # next event restarts from zero, not from the evicted totals
    st.hasTimedOut = False
    out2 = list(upd((7,), iter([pd.DataFrame({"value": [0.75]})]), st))
    assert st._v == (1, 75) and out2[0]["n_events"].iloc[0] == 1
