package graft.sources.connector

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Composite-keyed STREAMING ingest (VERDICT r13 next-round #6):
  * foreachBatch through the sink with `pk=a,b` (+ a clustering key) must
  * keep st_connector_append's guarantee — ONE manifest version per
  * non-empty micro-batch, each batch atomic — while routing every row on
  * the TUPLE ring and keeping bucket files ck-sorted. The walk below
  * replays the manifest history version-by-version and asserts the row
  * counts are exactly the batch prefix sums. */
class TokenRangeStreamingCompositeSpec extends SparkSpec {
  private val fmt = classOf[TokenRangeSource].getName

  test("composite streaming ingest: one version per micro-batch, tuple pruning + ck order hold") {
    val s2 = spark; import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tr_stc").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_tr_stc_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tr_stc_ckpt").toString

    // 4 source files → 4 micro-batches (maxFilesPerTrigger=1); ck arrives
    // shuffled inside each batch (i * 37 % 256 scrambles seq order)
    (0 until 4).foreach { b =>
      (0 until 256).map { i =>
        (b.toLong, (i % 8).toString, (i * 37 % 256).toLong, s"p$b-$i")
      }.toDF("user_id", "etype", "seq", "payload")
        .coalesce(1).write.mode("append").parquet(srcDir)
    }

    val sch = spark.read.parquet(srcDir).schema
    val q = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.format(fmt).option("pk", "user_id,etype").option("ck", "seq")
          .option("schema",
            "user_id BIGINT, etype STRING, seq BIGINT, payload STRING")
          .mode("append").save(dir)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // one version per micro-batch: counts walk the exact prefix sums —
    // every batch atomic, none torn, none merged
    val vs = TokenRangeSource.versions(dir)
    assert(vs.size == 4, s"4 batches must publish 4 versions, got $vs")
    val counts = vs.map { v =>
      spark.read.format(fmt).option("pk", "user_id,etype")
        .option("version", v.toString).load(dir).count()
    }
    assert(counts == Seq(256L, 512L, 768L, 1024L),
      s"versioned counts must be batch prefix sums, got $counts")

    // tuple-equality point lookup prunes to ONE bucket through the scan
    val one = spark.read.format(fmt).option("pk", "user_id,etype").load(dir)
      .filter(col("user_id") === 2L && col("etype") === "3")
    assert(one.count() == 32)
    val plan = one.queryExecution.executedPlan.toString()
    assert(plan.contains("TokenRanges: 1"),
      s"composite lookup must prune to the owning bucket:\n${plan.take(900)}")

    // clustering order held through the streaming path: bucket files are
    // ck-sorted despite the scrambled arrival order
    val f = TokenRangeSource.visibleFiles(dir).head._2
    val seqs = spark.read.parquet(f).select("seq").collect().map(_.getLong(0))
    assert(seqs.sameElements(seqs.sorted), s"rows inside $f must be ck-sorted")
    assert(TableMeta.load(dir).ck.contains("seq ASC"))
    assert(TableMeta.load(dir).pk.contains("user_id,etype"))
  }
}
