package graft.sources.connector

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The CDC TAIL (VERDICT r14 next-round #1): `readStream` FROM a
  * token-range table, offset = manifest version, each micro-batch = the
  * files ADDED between two versions. The load-bearing claims:
  *   - a fresh stream backfills the whole table, and its drained rows
  *     equal the batch read exactly;
  *   - offsets RECOVER across restarts — after a stop, new appends, and
  *     a restart on the same checkpoint, only the new rows drain (no
  *     duplicates, no losses);
  *   - a rewrite version (compact/DELETE) inside the tailed range fails
  *     the stream LOUDLY (append-only histories — the declared scope);
  *   - the version pin makes a bounded AvailableNow drain stable even
  *     though a writer could keep committing. */
class TokenRangeTailSpec extends SparkSpec {
  private val fmt = classOf[TokenRangeSource].getName

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val ddl = "pk BIGINT, v STRING"

  private def append(dir: String, keys: Seq[Long]): Unit = {
    val s2 = spark; import s2.implicits._
    keys.map(i => (i, s"a$i")).toDF("pk", "v")
      .write.format(fmt).option("pk", "pk").option("schema", ddl)
      .mode("append").save(dir)
  }

  /** One AvailableNow drain of the tail into a driver buffer via
    * foreachBatch (checkpointable, unlike the memory sink); returns the
    * drained pks. */
  private def drainTail(dir: String, ckpt: String): Seq[Long] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val q = spark.readStream.format(fmt).option("pk", "pk").load(dir)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select("pk").collect().foreach(r => got.add(r.getLong(0)))
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    got.asScala()
  }
  private implicit class QOps(q: java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]) {
    def asScala(): Seq[Long] = {
      val b = Seq.newBuilder[Long]
      q.forEach(l => b += l.longValue)
      b.result()
    }
  }

  test("the tail is reachable BY NAME through the catalog: readStream.table drains, changeFeed option included (r16)") {
    val wh = freshDir("graft_tail_cat")
    val cat = "graft_tail_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[TokenRangeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.ks")
    spark.sql(s"CREATE TABLE $cat.ks.t (pk BIGINT, v STRING) " +
      "TBLPROPERTIES('pk'='pk')")
    spark.sql(s"INSERT INTO $cat.ks.t SELECT id, concat('a', id) FROM range(0, 12)")
    // plain tail via the catalog identifier — no path anywhere
    val got = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val q = spark.readStream.table(s"$cat.ks.t")
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select("pk").collect().foreach(r => got.add(r.getLong(0)))
      }
      .option("checkpointLocation", freshDir("graft_tail_cat_ck"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(got.asScala().sorted == (0L until 12L))
    // CHANGE-FEED tail via the `t$changes` metadata table (reader
    // options cannot extend a catalog table's schema, so the feed gets
    // its own name — Iceberg's `t.history` idiom)
    val path = new java.io.File(new java.io.File(wh, "ks"), "t").getAbsolutePath
    TableMeta.enableChangeFeed(path)
    spark.sql(s"DELETE FROM $cat.ks.t WHERE pk = 3") // pk fast path, sidecar
    // batch SQL first: SELECT over the feed relation works by name
    val sqlFeed = spark.sql(
      s"SELECT _change_type, pk FROM $cat.ks.`t$$changes`").collect()
      .map(r => s"${r.getString(0)}:${r.getLong(1)}")
    assert(sqlFeed.count(_ == "delete:3") == 1, s"got ${sqlFeed.toSeq}")
    // the feed relation is read-only
    val exw = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.ks.`t$$changes` VALUES (99, 'x', 'insert', 1)")
    }
    assert(exw.getMessage.contains("read-only"), exw.getMessage)
    val types = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q2 = spark.readStream.table(s"$cat.ks.`t$$changes`")
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select(TokenRangeSource.ChangeTypeCol, "pk").collect()
          .foreach(r => types.add(s"${r.getString(0)}:${r.getLong(1)}"))
      }
      .option("checkpointLocation", freshDir("graft_tail_cat_ck2"))
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val b = Seq.newBuilder[String]; types.forEach(b += _)
    val drained = b.result()
    assert(drained.count(_ == "delete:3") == 1,
      s"the feed must serve the delete by name, got $drained")
    assert(drained.count(_.startsWith("insert:")) == 12)
  }

  test("fresh tail backfills the table; restart drains ONLY the new appends; second restart drains nothing") {
    val dir = freshDir("graft_tr_tail1")
    val ckpt = freshDir("graft_tr_tail1_ck")
    append(dir, 0L until 64L)
    append(dir, 64L until 96L)
    // run 1: backfill — everything committed so far, exactly once
    val run1 = drainTail(dir, ckpt)
    assert(run1.sorted == (0L until 96L),
      s"backfill must equal the batch read, got ${run1.size} rows")
    // stop; two more appends; run 2 on the SAME checkpoint: only the new
    append(dir, 96L until 128L)
    append(dir, 128L until 160L)
    val run2 = drainTail(dir, ckpt)
    assert(run2.sorted == (96L until 160L),
      s"restart must resume at the checkpointed version, got ${run2.sorted.take(5)}...")
    // run 3 with nothing new: drains nothing
    assert(drainTail(dir, ckpt).isEmpty)
  }

  test("a rewrite version inside the tailed range fails the stream loudly") {
    val dir = freshDir("graft_tr_tail2")
    val ckpt = freshDir("graft_tr_tail2_ck")
    append(dir, 0L until 64L)
    assert(drainTail(dir, ckpt).size == 64)
    // a DELETE rewrite retires files — the next tailed range is not
    // append-only and must refuse, not double surviving rows
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(3L))
    append(dir, 100L until 110L)
    val ex = intercept[Exception] { drainTail(dir, ckpt) }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ causes(t.getCause)
    assert(causes(ex).exists(_.contains("content-changing rewrite")),
      s"expected the append-only refusal, got: ${causes(ex).mkString(" | ")}")
  }

  test("maxVersionsPerTrigger bounds each micro-batch; AvailableNow drains in multiple real steps") {
    val dir = freshDir("graft_tr_tail4")
    val ckpt = freshDir("graft_tr_tail4_ck")
    (0 until 4).foreach(r => append(dir, (r * 10L) until ((r + 1) * 10L)))
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val q = spark.readStream.format(fmt).option("pk", "pk")
      .option("maxVersionsPerTrigger", "1").load(dir)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (b.limit(1).count() > 0) batches.incrementAndGet()
        b.select("pk").collect().foreach(r => got.add(r.getLong(0)))
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(got.asScala().sorted == (0L until 40L), "capped drain loses nothing")
    // 4 appends = 5 versions past the empty pin; at 1 version/trigger the
    // drain must take ≥ 4 non-empty micro-batches (one giant backfill
    // batch would mean the cap was ignored)
    assert(batches.get() >= 4,
      s"expected ≥4 bounded micro-batches, got ${batches.get()}")
  }

  test("drained stream equals batch read through the connector (content hash)") {
    val dir = freshDir("graft_tr_tail3")
    val ckpt = freshDir("graft_tr_tail3_ck")
    (0 until 4).foreach(r => append(dir, (r * 50L) until ((r + 1) * 50L)))
    val streamed = drainTail(dir, ckpt).sorted
    val batch = spark.read.format(fmt).option("pk", "pk").load(dir)
      .select("pk").collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed == batch)
  }
}
