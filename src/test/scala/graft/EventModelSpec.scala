package graft

import org.apache.spark.sql.types._

/** Model-based correctness for the wide-column write semantics on HOSTILE
  * event logs: seeded random writes with deliberate timestamp COLLISIONS
  * (the tie-break path the corpus data never exercises — real ingest does),
  * checked against sequential in-memory models. LWW must resolve ties by
  * (ts DESC, event_id DESC) exactly; counters must be order-free exact
  * decimal sums; tumbling windows must partition the log. */
class EventModelSpec extends SparkSpec {

  // (event_id, tsNanos, user_id, event_type, value)
  private type Ev = (Long, Long, Long, String, Double)
  private def evId(e: Ev) = e._1
  private def evTs(e: Ev) = e._2
  private def evUser(e: Ev) = e._3
  private def evTyp(e: Ev) = e._4
  private def evVal(e: Ev) = e._5

  private lazy val (dir, events) = {
    val rnd = new scala.util.Random(20260813L)
    val types = Array("click", "view", "purchase", "signup")
    // only 40 distinct timestamps for 240 writes → heavy (user, type, ts)
    // collisions; values exactly 2dp like the corpus
    val base = 1704067200L * 1000000000L // 2024-01-01T00:00Z in nanos
    val evs: Seq[Ev] = (1L to 240L).map { id =>
      (id, base + rnd.nextInt(40) * 3600L * 1000000000L,
        1L + rnd.nextInt(5), types(rnd.nextInt(4)),
        math.round(rnd.nextDouble() * 10000).toDouble / 100)
    }
    val s2 = spark
    import s2.implicits._
    // ts stored as an epoch-NANOS long — Tables.events' integral DIV
    // conversion branch
    val df = evs.toDF("event_id", "ts", "user_id", "event_type", "value")
    val d = java.nio.file.Files.createTempDirectory("graft_event_model")
    df.coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    (d.toString, evs)
  }

  test("LWW register resolves timestamp ties by event_id, newest wins") {
    val got = operators.WideColumn.upsertLww(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
        (r.getAs[Double]("latest_value"), r.getAs[java.sql.Timestamp]("write_ts").getTime))
      .toMap
    val want = events.groupBy(e => (evUser(e), evTyp(e))).map { case (k, es) =>
      val w = es.maxBy(e => (evTs(e), evId(e)))
      k -> (evVal(w), evTs(w) / 1000000L) // ms, matching Timestamp.getTime
    }
    assert(got.keySet == want.keySet)
    got.foreach { case (k, (v, ts)) =>
      assert((v, ts) == want(k), s"key $k: got ($v,$ts) want ${want(k)}")
    }
  }

  test("counter column equals an exact sequential fold of the increments") {
    val got = operators.WideColumn.counterColumn(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_increments"), r.getAs[Double]("counter_value"))).toMap
    val want = events.filter(evTyp(_) == "click").groupBy(evUser).map { case (u, es) =>
      u -> (es.size.toLong,
        es.map(e => BigDecimal(evVal(e)).setScale(2)).sum.toDouble)
    }
    assert(got == want)
  }

  test("sessionization groups tied timestamps and splits on every >30min gap") {
    val got = operators.Events.sessionization(spark, dir).collect()
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (u, rs) => u -> (rs.length, rs.map(_.getAs[Long]("n_events")).sum) }
    // model: per user, events sorted by (ts, id) fold into sessions on
    // gap > 30 min. The synthetic log sits on hour boundaries, so every
    // distinct-ts step opens a session and tied writes share one.
    val want = events.groupBy(evUser).map { case (u, es) =>
      u -> (es.map(evTs).distinct.size, es.size.toLong)
    }
    assert(got == want)
  }

  test("tumbling windows partition the log: per-hour-type counts and sums") {
    val got = operators.Events.tumblingWindow(spark, dir).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").getTime,
        r.getAs[String]("event_type")) -> r.getAs[Long]("n_events")).toMap
    val want = events.groupBy(e => (evTs(e) / 1000000L, evTyp(e)))
      .map { case ((ms, t), es) => (ms, t) -> es.size.toLong }
    // events were generated ON hour boundaries, so hour-trunc is identity
    assert(got == want)
    assert(got.values.sum == events.size)
  }
}
