package graft.sources.connector

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The r11 connector guarantees (VERDICT r10 next-round #2/#3):
  * manifest-atomic publish — a reader racing an in-flight write sees the
  * OLD version in full, aborted/failed jobs leave nothing visible (and a
  * failed OVERWRITE keeps the old table, the ADVICE r10 #1 data-loss
  * fix), concurrent appends both land — and the widened type surface:
  * TEXT partition keys (the reference's `users PRIMARY KEY (username)`,
  * server.py:263-269) with timestamp/decimal/binary payload columns,
  * round-tripped bit-exact with the point lookup pruned to the owning
  * bucket. */
class TokenRangeAtomicitySpec extends SparkSpec {
  private val fmt = classOf[TokenRangeSource].getName

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_tr_atomic").toString

  private val ddl = "pk BIGINT, v STRING"
  private val schema = StructType.fromDDL(ddl)

  private def seed(dir: String, n: Long = 100L): Unit = {
    val s2 = spark; import s2.implicits._
    (0L until n).map(i => (i, s"a$i")).toDF("pk", "v")
      .write.format(fmt).option("pk", "pk").option("schema", ddl)
      .mode("append").save(dir)
  }
  private def load(dir: String) =
    spark.read.format(fmt).option("pk", "pk").load(dir)

  /** Stage `rows` through the REAL write path (factory → task writer →
    * task commit), returning the job-level write + its commit messages —
    * the job itself deliberately NOT committed. */
  private def stage(dir: String, rows: Seq[(Long, String)],
      truncate: Boolean): (TokenRangeBatchWrite, Array[org.apache.spark.sql.connector.write.WriterCommitMessage]) = {
    val bw = new TokenRangeBatchWrite(dir, TableMeta.load(dir), schema, Seq(0), truncate)
    val w = bw.createBatchWriterFactory(null).createWriter(0, 0L)
    rows.foreach { case (k, v) =>
      w.write(new GenericInternalRow(Array[Any](k, UTF8String.fromString(v))))
    }
    (bw, Array(w.commit()))
  }

  test("atomic publish: in-flight write invisible, job commit flips atomically") {
    val dir = freshDir()
    seed(dir)
    assert(load(dir).count() == 100)
    val (bw, msgs) = stage(dir, (1000L until 1050L).map(i => (i, s"b$i")), truncate = false)
    // reader racing the in-flight job: the OLD version, in full
    assert(load(dir).count() == 100, "staged-but-uncommitted rows must be invisible")
    bw.commit(msgs)
    assert(load(dir).count() == 150, "job commit must flip to the new version")
    assert(load(dir).filter(col("pk") >= 1000L).count() == 50)
    // staging area reaped after commit
    val staging = new java.io.File(dir, "_staging")
    assert(!staging.exists() ||
      Option(staging.listFiles()).getOrElse(Array.empty).isEmpty)
  }

  test("atomic publish: aborted append and FAILED OVERWRITE leave the old table intact") {
    val dir = freshDir()
    seed(dir)
    val before = load(dir).collect().map(_.toSeq).toSet

    // aborted append: nothing visible, staging gone
    val (bw1, msgs1) = stage(dir, Seq((5000L, "x")), truncate = false)
    bw1.abort(msgs1)
    assert(load(dir).collect().map(_.toSeq).toSet == before)

    // failed overwrite (the ADVICE r10 #1 scenario: the old factory
    // truncated bucket dirs up front, so this crash DESTROYED the table):
    // truncate is now logical, applied only at the commit flip — an abort
    // mid-overwrite must leave every old row readable
    val (bw2, msgs2) = stage(dir, Seq((6000L, "y")), truncate = true)
    assert(load(dir).collect().map(_.toSeq).toSet == before,
      "in-flight overwrite must not disturb readers")
    bw2.abort(msgs2)
    assert(load(dir).collect().map(_.toSeq).toSet == before,
      "a failed overwrite must leave the previous table version intact")

    // and a SUCCESSFUL overwrite replaces the content atomically
    val (bw3, msgs3) = stage(dir, Seq((7000L, "z")), truncate = true)
    bw3.commit(msgs3)
    assert(load(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((7000L, "z")))
  }

  test("atomic publish: two concurrent appends both become fully visible") {
    val dir = freshDir()
    seed(dir)
    // interleaved: both jobs stage before either commits
    val (bwA, msgsA) = stage(dir, (2000L until 2020L).map(i => (i, s"A$i")), truncate = false)
    val (bwB, msgsB) = stage(dir, (3000L until 3030L).map(i => (i, s"B$i")), truncate = false)
    assert(load(dir).count() == 100)
    bwA.commit(msgsA)
    assert(load(dir).count() == 120)
    bwB.commit(msgsB)
    assert(load(dir).count() == 150, "neither append may clobber the other")
    assert(load(dir).filter(col("pk") >= 3000L).count() == 30)
  }

  test("manifest CAS under thread-level contention: every committer lands, no version lost or doubled") {
    val dir = freshDir()
    seed(dir, 10L)
    val v0 = TokenRangeSource.currentVersion(dir).get
    // 8 committers race full job commits (stage -> lock -> move -> CAS
    // flip) from their own threads; the CAS + rebase must make ALL of
    // their batches visible regardless of interleaving
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        val base = 1000L * (t + 1)
        val (bw, msgs) = stage(dir,
          (base until base + 10L).map(i => (i, s"t$t-$i")), truncate = false)
        bw.commit(msgs)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(load(dir).count() == 90, "all 8 racing appends must be visible")
    (1 to 8).foreach { t =>
      val base = 1000L * t
      assert(load(dir).filter(col("pk") >= base && col("pk") < base + 10L)
        .count() == 10, s"committer $t's batch must land whole")
    }
    // version history: strictly increasing, no gaps, one flip per commit
    val vs = TokenRangeSource.versions(dir)
    assert(vs == (vs.min to vs.max), s"no version gaps: $vs")
    assert(vs.max == v0 + 8, s"exactly 8 flips after v$v0: $vs")
    // monotone growth: each version's file list contains its predecessor's
    // minus nothing (appends never retire files)
    vs.sliding(2).filter(_.size == 2).foreach { w =>
      val (a, b) = (w.head, w.last)
      val fa = TokenRangeSource.visibleRelFiles(dir, Some(a)).map(_._2).toSet
      val fb = TokenRangeSource.visibleRelFiles(dir, Some(b)).map(_._2).toSet
      assert(fa.subsetOf(fb), s"v$a not within v$b - a committed file was dropped")
    }
  }

  test("TEXT partition key: users-shaped table, ts/decimal/binary round trip, pruned point lookup") {
    val dir = freshDir()
    val userDdl = "username STRING, user_id BIGINT, balance DECIMAL(12,2), " +
      "created TIMESTAMP, avatar BINARY"
    val s2 = spark; import s2.implicits._
    val users = Seq(
      ("alice", 1L, "1234.56", "2024-01-15 10:30:00.123456", Array[Byte](1, 2, 3)),
      ("bob", 2L, "-7.01", "2023-06-30 23:59:59.999999", Array[Byte](-1, 0, 127)),
      ("carol", 3L, "0.00", "1970-01-01 00:00:00", Array.empty[Byte]))
    val df = users.toDF("username", "user_id", "balance_s", "created_s", "avatar")
      .select(col("username"), col("user_id"),
        col("balance_s").cast(DecimalType(12, 2)).as("balance"),
        col("created_s").cast("timestamp").as("created"), col("avatar"))
    df.write.format(fmt).option("pk", "username").option("schema", userDdl)
      .mode("append").save(dir)

    def loadUsers = spark.read.format(fmt).option("pk", "username").load(dir)
    // schema survives the round trip exactly (annotated-INT64 decimal,
    // µs-UTC timestamp, un-annotated binary)
    assert(loadUsers.schema("balance").dataType == DecimalType(12, 2))
    assert(loadUsers.schema("created").dataType == TimestampType)
    assert(loadUsers.schema("avatar").dataType == BinaryType)
    val got = loadUsers.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDecimal(2).toPlainString, r.getTimestamp(3).toString,
      r.getAs[Array[Byte]](4).toSeq)).toSet
    val want = df.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDecimal(2).toPlainString, r.getTimestamp(3).toString,
      r.getAs[Array[Byte]](4).toSeq)).toSet
    assert(got == want, "ts/decimal/binary must survive the connector bit-exact")

    // bucket placement: every physical row token-hashes to its dir's bucket
    TokenRangeSource.bucketDirs(dir).foreach { case (k, d) =>
      val names = spark.read.parquet(d.getAbsolutePath)
        .select("username").collect().map(_.getString(0))
      assert(names.nonEmpty && names.forall(TokenLayout.bucketOfStringValue(_) == k),
        s"rows in tb=$k must hash there")
    }

    // point lookup on the TEXT pk: exact result, pruned to ONE token range,
    // filter reported pushed (wc_point_lookup's shape through the connector)
    val one = loadUsers.filter(col("username") === "bob")
    assert(one.collect().map(_.getLong(1)).toSeq == Seq(2L))
    val plan = one.queryExecution.executedPlan.toString()
    assert(plan.contains("TokenRanges: 1"),
      s"TEXT pk equality must prune to the owning bucket:\n${plan.take(900)}")
    assert(plan.contains("username = bob"),
      s"pushdown must be reported:\n${plan.take(900)}")

    // IN-list multi-get on TEXT keys prunes to the union of owning buckets
    val multi = loadUsers.filter(col("username").isin("alice", "carol"))
    assert(multi.collect().map(_.getString(0)).toSet == Set("alice", "carol"))
    val wantRanges = Seq("alice", "carol")
      .map(TokenLayout.bucketOfStringValue).distinct.size
    assert(multi.queryExecution.executedPlan.toString()
      .contains(s"TokenRanges: $wantRanges"))

    // column-expression and driver-side string tokens agree bit-for-bit
    val colBuckets = df.select(col("username"),
        TokenLayout.bucketOfString(col("username")).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    users.foreach { u =>
      assert(colBuckets(u._1) == TokenLayout.bucketOfStringValue(u._1))
    }
  }

  test("a manifest-less tb=<k> directory is refused on read and on write") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir()
    // Spark's own partitioned writer: bucket dirs, no _manifests
    (0L until 20L).map(i => (i, s"a$i", TokenLayout.bucketOfValue(i)))
      .toDF("pk", "v", "tb")
      .write.mode("overwrite").partitionBy("tb").parquet(dir)
    def refused(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("manifest-less")) || refused(t.getCause))
    val read = intercept[IllegalArgumentException](load(dir).count())
    assert(refused(read), read.getMessage)
    val write = intercept[Exception] {
      Seq((100L, "b")).toDF("pk", "v")
        .write.format(fmt).option("pk", "pk").mode("append").save(dir)
    }
    assert(refused(write), write.getMessage)
    assert(!TokenRangeSource.manifestDir(dir).exists,
      "nothing may be published over the retired layout")
  }
}
