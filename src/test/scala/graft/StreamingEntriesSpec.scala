package graft

import graft.streaming.StreamingEntries
import org.apache.spark.sql.functions._

/** The drained streaming entries must be batch-equivalent — these are the
  * local mirrors of their DuckDB oracles. */
class StreamingEntriesSpec extends SparkSpec {

  test("connector append stream: one manifest commit per micro-batch, counts prefix-sum, final table exact") {
    import graft.sources.connector.TokenRangeSource
    // fresh run (the prebuilt cache would otherwise serve a prior JVM run)
    StreamingEntries.clearConnectorStreamCache()
    val got = StreamingEntries.stConnectorAppend(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getAs[Double]("total_value"))).toMap
    val want = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), graft.Cols.sumExact(col("value"), 2).as("tv"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getAs[Double]("tv"))).toMap
    assert(got == want, "the streamed table must equal the batch aggregate")

    // the manifest history is the stream's commit log: one version per
    // micro-batch (4 staged files, maxFilesPerTrigger=1)
    val dir = StreamingEntries.connectorStreamDir(spark, sf)
    val vs = TokenRangeSource.versions(dir)
    assert(vs.size == 4, s"expected 4 batch commits, got $vs")
    // version-pinned counts prefix-sum: each commit adds exactly one
    // whole batch (no torn batch is ever a readable state)
    val counts = vs.map(v => spark.read
      .format(classOf[TokenRangeSource].getName)
      .option("pk", "event_id").option("version", v.toString)
      .load(dir).count())
    assert(counts == counts.sorted, s"commit log must be monotone: $counts")
    val total = Tables.events(spark, sf).count()
    assert(counts.last == total)
    val batchSizes = (0L +: counts).sliding(2).map(p => p(1) - p(0)).toSeq
    assert(batchSizes.forall(_ > 0) && batchSizes.sum == total)
  }

  test("streamed bitmap partials carry the exact daily distinct counts") {
    val streamed = StreamingEntries.stBitmapDaily(spark, sf).collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(streamed == exact)
  }

  test("watermarked dedup equals batch DISTINCT on the retry key") {
    val streamed = StreamingEntries.stDedupWatermark(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSet
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        date_trunc("minute", col("ts")).as("minute"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSet
    assert(streamed == batch)
  }

  test("drained tumbling windows equal the batch twin exactly") {
    val streamed = StreamingEntries.stTumbling(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val batch = operators.Events.tumblingWindow(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(streamed == batch)
  }

  test("drained session windows: events covered, ends = last + gap") {
    val rows = StreamingEntries.stSessions(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_events")).sum == Tables.events(spark, sf).count())
    rows.foreach { r =>
      assert(!r.getAs[java.sql.Timestamp]("session_end")
        .before(r.getAs[java.sql.Timestamp]("session_start")))
    }
  }

  test("drained sliding windows equal the batch twin exactly") {
    val streamed = StreamingEntries.stSliding(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val batch = operators.Events.slidingWindow(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(streamed == batch)
  }

  test("drained stateful funnel equals the batch funnel counts") {
    val streamed = StreamingEntries.stFunnel(spark, sf).head()
    val batch = operators.Events.funnel(spark, sf).head()
    assert(streamed.getLong(0) == batch.getLong(0))
    assert(streamed.getLong(1) == batch.getLong(1))
    assert(streamed.getLong(2) == batch.getLong(2))
  }

  test("streamed anomaly z-scores equal the batch twin exactly") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[java.sql.Timestamp]("day"), r.getAs[String]("event_type"))
    val streamed = StreamingEntries.stAnomalyZscore(spark, sf).collect()
      .map(r => key(r) -> (r.getAs[Long]("n_events"), r.getAs[Double]("zscore"))).toMap
    val batch = operators.Events.anomalyZscore(spark, sf).collect()
      .map(r => key(r) -> (r.getAs[Long]("n_events"), r.getAs[Double]("zscore"))).toMap
    assert(streamed == batch,
      s"streaming arrival order moved a z-score: ${streamed.size} vs ${batch.size}")
  }

  test("streamed Markov steps equal the batch lead() multiset exactly") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[String]("from_type"), r.getAs[String]("to_type"))
    val streamed = StreamingEntries.stMarkovTransitions(spark, sf).collect()
      .map(r => key(r) -> (r.getAs[Long]("n_transitions"), r.getAs[Double]("p"))).toMap
    val batch = operators.Events.markovTransitions(spark, sf).collect()
      .map(r => key(r) -> (r.getAs[Long]("n_transitions"), r.getAs[Double]("p"))).toMap
    assert(streamed == batch,
      s"cross-batch state diverged from lead(): ${streamed.size} vs ${batch.size}")
  }

  test("drained dedup fp set equals the batch fingerprint set") {
    val streamed = StreamingEntries.stDedup(spark, sf).collect()
      .map(_.getString(0)).toSet
    val batch = Tables.documents(spark, sf)
      .select(functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(streamed == batch)
  }
}
