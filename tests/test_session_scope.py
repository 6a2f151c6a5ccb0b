"""session.scoped: the one way a query gets non-default SQL settings.

A scoped session starts from the caller's effective runtime settings
and temp views, and nothing set on it reaches the caller. Queries whose
scoped results come back without a copy must keep them through the
next call of the same query."""

from __future__ import annotations

import pytest

from etl_spark_eks_spark import registry
from etl_spark_eks_spark.session import ENGINE_CONF, apply_engine_conf, scoped

ANSI = "spark.sql.ansi.enabled"
WIDTH = "spark.sql.shuffle.partitions"


@pytest.fixture(scope="module", autouse=True)
def _load_registry():
    registry.load_all()


def _runtime_configured(spark):
    """A session whose settings exist only at runtime: a newSession()
    (which starts from SparkConf) with ANSI flipped and the engine
    profile applied, the way a driver configures its plain session."""
    base = spark.newSession()
    ansi = "false" if base.conf.get(ANSI) == "true" else "true"
    base.conf.set(ANSI, ansi)
    apply_engine_conf(base)
    return base, ansi


def test_scoped_carries_runtime_conf_and_never_writes_back(spark):
    base, ansi = _runtime_configured(spark)
    base.range(3).createOrReplaceTempView("scope_probe")
    width = base.conf.get(WIDTH)
    sess = scoped(base, {WIDTH: "3"})

    assert sess.conf.get(ANSI) == ansi
    for k in ENGINE_CONF:
        assert sess.conf.get(k, None) == base.conf.get(k, None), k
    assert sess.table("scope_probe").count() == 3
    assert sess.conf.get(WIDTH) == "3"
    # the scoped session's actions run under the carried ANSI mode
    bad = sess.sql("SELECT CAST('x' AS INT) AS v")
    if ansi == "true":
        with pytest.raises(Exception):
            bad.collect()
    else:
        assert bad.first()["v"] is None

    sess.conf.set(ANSI, "true" if ansi == "false" else "false")
    assert base.conf.get(WIDTH) == width
    assert base.conf.get(ANSI) == ansi
    base.conf.set(WIDTH, "5")
    assert sess.conf.get(WIDTH) == "3"


def test_collected_result_outlives_table_rewrite(spark, sf_dir):
    """q_b119 returns values_df of its collected rows because a later
    call rewrites the saveAsTable tables its result reads: emptying a
    table after the call must not change the returned frame."""
    from etl_spark_eks_spark.sources.parquet_io import scratch_path, sf_tag

    q = registry.QUERIES["q_b119_analyze_cbo_stats"]
    first = q(spark, sf_dir)
    tag = sf_tag(sf_dir)
    fact = f"wh_cbo_orders_{tag}"
    spark.createDataFrame([], spark.table(fact).schema).write.format(
        "parquet"
    ).mode("overwrite").option(
        "path", scratch_path("q_b119", tag, "orders")
    ).saveAsTable(fact)
    try:
        got = sorted(tuple(r) for r in first.collect())
    finally:
        want = sorted(tuple(r) for r in q(spark, sf_dir).collect())
    assert want and got == want


def test_scoped_streams_reach_the_callers_listeners(spark, sf_dir):
    """A stream started on a scoped session reports every progress
    event exactly once to a StreamingQueryListener on the caller
    (a clone has its own StreamingQueryManager)."""
    from pyspark.sql.streaming import StreamingQueryListener

    from etl_spark_eks_spark.streaming.stream_ops import events_stream_batched

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.seen = []

        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryProgress(self, event):
            self.seen.append((str(event.progress.runId), event.progress.batchId))

    listener = Progress()
    spark.streams.addListener(listener)
    try:
        sess = scoped(spark, {WIDTH: "2"})
        q = (
            events_stream_batched(sess, sf_dir)
            .writeStream.format("noop")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    want = sorted((str(p.runId), p.batchId) for p in q.recentProgress)
    assert want and sorted(listener.seen) == want
