package graft.sources.connector

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** PHYSICAL clustering order (VERDICT r13 next-round #1 — the reference's
  * `WITH CLUSTERING ORDER BY (message_id DESC)`, server.py:181-183, was
  * the last semantic living only at query time): with `ck` declared, the
  * sink's [[TokenRangeWriteBuilder]] tells Catalyst the write REQUIRES
  * `ORDER BY ck` (DSv2 RequiresDistributionAndOrdering — the planner
  * inserts the within-partition sort; no hand-buffered sorting), so every
  * bucket FILE is ck-sorted regardless of ingest order; `rollRows` splits
  * the sorted stream into disjoint ck slabs per file, which is what makes
  * the existing footer-stats slice prune select a file SUBSET on a
  * SHUFFLED ingest (before r14 that fixture pruned nothing). */
class TokenRangeClusteringSpec extends SparkSpec {
  private val fmt = classOf[TokenRangeSource].getName

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** 4096 rows whose ck arrives SHUFFLED (bit-reversed order): the
    * worst case for stats pruning under arrival-order placement. */
  private def shuffledDf(s: org.apache.spark.sql.SparkSession) = {
    val s2 = s; import s2.implicits._
    (0L until 4096L)
      // bit-reverse the low 12 bits: a deterministic full shuffle
      .sortBy(i => java.lang.Long.reverse(i) >>> 52)
      .map(i => (i % 64, i, s"v$i"))
      .toDF("pk", "seq", "v")
  }

  test("shuffled ingest with ck: files are ck-sorted and a slice scan prunes to a file subset") {
    val dir = freshDir("graft_tr_ck1")
    shuffledDf(spark).coalesce(2)
      .write.format(fmt).option("pk", "pk").option("ck", "seq")
      .option("rollRows", "32")
      .option("schema", "pk BIGINT, seq BIGINT, v STRING")
      .mode("append").save(dir)

    // physical order INSIDE each bucket file: raw-read one file, assert
    // its seq column is sorted (the in-SSTable clustering-order analog)
    val files = TokenRangeSource.visibleFiles(dir).map(_._2)
    assert(files.size > TokenLayout.Buckets,
      s"rollRows must split buckets into several files, got ${files.size}")
    files.take(4).foreach { f =>
      val seqs = spark.read.parquet(f).select("seq").collect().map(_.getLong(0))
      assert(seqs.sameElements(seqs.sorted),
        s"rows inside $f must be ck-sorted")
    }

    // slice scan on the SHUFFLED ingest: rolled ck slabs are disjoint, so
    // the footer prune keeps a strict file subset — and the result is exact
    val sliced = spark.read.format(fmt)
      .option("pk", "pk").option("ck", "seq").load(dir)
      .filter(col("seq") >= 3584L) // top 1/8 of the ck domain
    assert(sliced.count() == 512)
    val plan = sliced.queryExecution.executedPlan.toString()
    val pruned = "PrunedFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(pruned.isDefined, s"plan must report the file prune:\n${plan.take(900)}")
    val (kept, total) = (pruned.get.group(1).toInt, pruned.get.group(2).toInt)
    assert(kept * 2 < total,
      s"a 1/8 slice over rolled ck slabs must prune most files, kept $kept/$total")
  }

  test("ck is recorded at creation; rewrites inherit it and compact rebuilds slabs") {
    val dir = freshDir("graft_tr_ck2")
    shuffledDf(spark)
      .write.format(fmt).option("pk", "pk").option("ck", "seq")
      .option("schema", "pk BIGINT, seq BIGINT, v STRING")
      .mode("append").save(dir)
    assert(TableMeta.load(dir).ck.contains("seq ASC"))

    // a later write that CONTRADICTS the recorded ck is refused (CQL
    // fixes clustering at CREATE); one that declares nothing inherits it
    val s2 = spark; import s2.implicits._
    val ex = intercept[Exception] {
      Seq((1L, 9999L, "x")).toDF("pk", "seq", "v")
        .write.format(fmt).option("pk", "pk").option("ck", "pk")
        .mode("append").save(dir)
    }
    assert(ex.getMessage.contains("clustered on ck 'seq ASC'"))

    // compact with rollRows: REBUILDS the layout as disjoint ck slabs per
    // bucket (time-window-compaction shape) — slice prune bites after it
    TokenRangeOps.compact(spark, dir, "pk", rollRows = Some(64L))
    val sliced = spark.read.format(fmt)
      .option("pk", "pk").option("ck", "seq").load(dir)
      .filter(col("seq") < 512L)
    assert(sliced.count() == 512)
    val plan = sliced.queryExecution.executedPlan.toString()
    val pruned = "PrunedFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(pruned.isDefined && pruned.get.group(1).toInt * 2 < pruned.get.group(2).toInt,
      s"post-compact slabs must prune most files:\n${plan.take(900)}")

    // the sort + roll never change WHAT the table holds
    val all = spark.read.format(fmt).option("pk", "pk").load(dir)
      .select("pk", "seq", "v").collect()
    assert(all.length == 4096)
    assert(all.map(_.getLong(1)).toSet == (0L until 4096L).toSet)
  }

  test("a table created WITHOUT ck records it on first declaration, then enforces it") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_ck5")
    // creation commit declares no clustering
    Seq((1L, 10L, "a")).toDF("pk", "seq", "v")
      .write.format(fmt).option("pk", "pk")
      .option("schema", "pk BIGINT, seq BIGINT, v STRING")
      .mode("append").save(dir)
    assert(TableMeta.load(dir).ck.isEmpty)
    // FIRST declaration records (not first commit — r14 review: the
    // create-iff-absent properties file silently dropped late declarers)
    Seq((2L, 20L, "b")).toDF("pk", "seq", "v")
      .write.format(fmt).option("pk", "pk").option("ck", "seq")
      .mode("append").save(dir)
    assert(TableMeta.load(dir).ck.contains("seq ASC"))
    // a contradicting later declaration is refused from now on
    val ex = intercept[Exception] {
      Seq((3L, 30L, "c")).toDF("pk", "seq", "v")
        .write.format(fmt).option("pk", "pk").option("ck", "pk")
        .mode("append").save(dir)
    }
    assert(ex.getMessage.contains("clustered on ck 'seq ASC'"))
    assert(load(dir).count() == 2)
  }

  private def load(dir: String) =
    spark.read.format(fmt).option("pk", "pk").load(dir)

  test("PRIMARY KEY ((a, b), c): tuple bucket prune AND ck file-slab prune in ONE scan") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_ck4")
    // composite partition key (a, b), clustering key c — ingest SHUFFLED
    // in c, one task per bucket so rollRows yields disjoint c slabs
    val df = (0L until 4096L)
      .sortBy(i => java.lang.Long.reverse(i) >>> 52)
      .map(i => (i % 8, (i % 4).toInt, i, s"v$i"))
      .toDF("a", "b", "c", "v")
    val bucketExpr = TokenLayout.bucketOfComposite(Seq(col("a"), col("b")))
    df.repartition(TokenLayout.Buckets, bucketExpr)
      .write.format(fmt).option("pk", "a,b").option("ck", "c")
      .option("rollRows", "32")
      .option("schema", "a BIGINT, b INT, c BIGINT, v STRING")
      .mode("append").save(dir)

    val sliced = spark.read.format(fmt)
      .option("pk", "a,b").option("ck", "c").load(dir)
      .filter(col("a") === 3L && col("b") === 3 && col("c") >= 3584L)
    val rows = sliced.collect()
    // rows with a=3, b=3: i ≡ 3 (mod 8) and i ≡ 3 (mod 4) → i ≡ 3 (mod 8);
    // of those, c = i ≥ 3584 → 64 rows
    assert(rows.length == 64)
    assert(rows.forall(r => r.getLong(2) >= 3584L && r.getLong(2) % 8 == 3))
    val plan = sliced.queryExecution.executedPlan.toString()
    assert(plan.contains("TokenRanges: 1"),
      s"full tuple equality must prune to the owning bucket:\n${plan.take(900)}")
    val pruned = "PrunedFiles: (\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(pruned.isDefined, s"ck slice must report the file prune:\n${plan.take(900)}")
    val (kept, total) = (pruned.get.group(1).toInt, pruned.get.group(2).toInt)
    assert(kept < total,
      s"the slice must prune slab files within the one bucket, kept $kept/$total")
  }

  test("CLUSTERING ORDER BY (seq DESC): files store descending, prune still bites, spec enforced") {
    val dir = freshDir("graft_tr_ck6")
    // the reference's own declaration shape (message_id DESC,
    // server.py:181-183)
    shuffledDf(spark).coalesce(2)
      .write.format(fmt).option("pk", "pk").option("ck", "seq DESC")
      .option("rollRows", "32")
      .option("schema", "pk BIGINT, seq BIGINT, v STRING")
      .mode("append").save(dir)
    assert(TableMeta.load(dir).ck.contains("seq DESC"))
    // physical order is DESCENDING inside each bucket file
    val files = TokenRangeSource.visibleFiles(dir).map(_._2)
    files.take(4).foreach { f =>
      val seqs = spark.read.parquet(f).select("seq").collect().map(_.getLong(0))
      assert(seqs.sameElements(seqs.sorted.reverse),
        s"rows inside $f must be ck-DESC-sorted")
    }
    // min/max slice pruning is direction-free: a top-domain slice still
    // keeps a strict file subset
    val sliced = spark.read.format(fmt)
      .option("pk", "pk").option("ck", "seq DESC").load(dir)
      .filter(col("seq") >= 3584L)
    assert(sliced.count() == 512)
    val pruned = "PrunedFiles: (\\d+)/(\\d+)".r
      .findFirstMatchIn(sliced.queryExecution.executedPlan.toString())
    assert(pruned.isDefined
      && pruned.get.group(1).toInt * 2 < pruned.get.group(2).toInt)
    // an ASC re-declaration contradicts the recorded DESC → refused
    val s2 = spark; import s2.implicits._
    val ex = intercept[Exception] {
      Seq((1L, 9999L, "x")).toDF("pk", "seq", "v")
        .write.format(fmt).option("pk", "pk").option("ck", "seq")
        .mode("append").save(dir)
    }
    assert(ex.getMessage.contains("clustered on ck 'seq DESC'"))
    // direction/case/spacing drift in an AGREEING spec normalizes away
    Seq((1L, 9999L, "x")).toDF("pk", "seq", "v")
      .write.format(fmt).option("pk", "pk").option("ck", "SEQ  desc")
      .mode("append").save(dir)
    assert(load(dir).count() == 4097)
  }

  test("compound clustering key (c1 ASC, c2 DESC): lexicographic in-file order, prune on the leader") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_ck7")
    val df = (0L until 2048L)
      .sortBy(i => java.lang.Long.reverse(i) >>> 53)
      .map(i => (i % 16, i / 128, i % 128, s"v$i"))
      .toDF("pk", "c1", "c2", "v")
    df.coalesce(1)
      .write.format(fmt).option("pk", "pk").option("ck", "c1, c2 DESC")
      .option("rollRows", "16")
      .option("schema", "pk BIGINT, c1 BIGINT, c2 BIGINT, v STRING")
      .mode("append").save(dir)
    assert(TableMeta.load(dir).ck.contains("c1 ASC,c2 DESC"))
    // lexicographic (c1 asc, c2 desc) inside each file
    val f = TokenRangeSource.visibleFiles(dir).head._2
    val rows = spark.read.parquet(f).select("c1", "c2").collect()
      .map(r => (r.getLong(0), -r.getLong(1)))
    assert(rows.sameElements(rows.sorted),
      s"rows inside $f must sort (c1 ASC, c2 DESC)")
    // slice prune keys on the LEADER column c1
    val sliced = spark.read.format(fmt)
      .option("pk", "pk").option("ck", "c1, c2 DESC").load(dir)
      .filter(col("c1") >= 14L)
    assert(sliced.count() == 256)
    val pruned = "PrunedFiles: (\\d+)/(\\d+)".r
      .findFirstMatchIn(sliced.queryExecution.executedPlan.toString())
    assert(pruned.isDefined
      && pruned.get.group(1).toInt * 2 < pruned.get.group(2).toInt,
      s"leader-column slice must prune, got ${pruned}")
  }

  test("compound ck: a c2 range under c1 equality prunes a strict file subset (r15, VERDICT r14 #6)") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_ck8")
    // c2 NESTED under c1 (the time-series shape: c1 = day, c2 = seq):
    // per pk, c1 has 4 values × 128 rows whose c2 runs 0..127 — with
    // rollRows=32 and the lexicographic sort, every (pk, c1) group
    // splits into 4 slab files with DISJOINT 32-wide c2 ranges, so a c2
    // range under c1 equality has a real subset to select
    val df = (0L until 2048L)
      .sortBy(i => java.lang.Long.reverse(i) >>> 53)
      .map(i => (i % 4, (i / 4) / 128, (i / 4) % 128, s"v$i"))
      .toDF("pk", "c1", "c2", "v")
    df.coalesce(1)
      .write.format(fmt).option("pk", "pk").option("ck", "c1, c2")
      .option("rollRows", "32")
      .option("schema", "pk BIGINT, c1 BIGINT, c2 BIGINT, v STRING")
      .mode("append").save(dir)
    // plan strings TRUNCATE DSv2 scan descriptions at
    // maxMetadataStringLength (default 100 — the long tmp path eats it
    // and "10/102" renders as "10/10"); widen for the counting asserts
    // (restored in the finally below — a failing assert must not leak
    // the conf into the rest of the shared-session suite)
    spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
    try {
    def kept(f: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val m = "PrunedFiles: (\\d+)/(\\d+) ".r
        .findFirstMatchIn(f.queryExecution.executedPlan.toString())
      assert(m.isDefined, "expected a PrunedFiles report in the scan description")
      (m.get.group(1).toInt, m.get.group(2).toInt)
    }
    def scan() = spark.read.format(fmt)
      .option("pk", "pk").option("ck", "c1, c2").load(dir)
    // leader equality alone: each pk-bucket keeps its 4 c1=2 slabs
    val leaderOnly = scan().filter(col("c1") === 2L)
    assert(leaderOnly.count() == 512)
    val (keptLeader, total) = kept(leaderOnly)
    assert(keptLeader < total, "leader equality must already prune")
    // + a c2 range: under leader purity the c2 footer stats prune each
    // group's 4 slabs down to the one whose c2 range intersects [96, ∞)
    val both = scan().filter(col("c1") === 2L && col("c2") >= 96L)
    assert(both.count() == 128)
    val (keptBoth, _) = kept(both)
    assert(keptBoth < keptLeader,
      s"the c2 range must prune a STRICT subset of the leader prune " +
        s"($keptBoth vs $keptLeader)")
    } finally spark.conf.unset("spark.sql.maxMetadataStringLength")
  }

  test("ZONE MAPS: range pushdown on a NON-ck integral column prunes files; pk point lookups prune within the bucket") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_zm")
    // NO ck declared — four time-correlated appends (each load one key
    // slab, the shape real ingest produces) give every bucket 4 files
    // whose per-file pk AND seq bounds are disjoint across loads
    (0 until 4).foreach { r =>
      ((r * 1024L) until ((r + 1) * 1024L)).map(i => (i, i, s"v$i"))
        .toDF("pk", "seq", "v").coalesce(1)
        .write.format(fmt).option("pk", "pk")
        .option("schema", "pk BIGINT, seq BIGINT, v STRING")
        .mode("append").save(dir)
    }
    def kept(f: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val m = "PrunedFiles: (\\d+)/(\\d+)".r
        .findFirstMatchIn(f.queryExecution.executedPlan.toString())
      assert(m.isDefined, "expected a PrunedFiles report in the scan description")
      (m.get.group(1).toInt, m.get.group(2).toInt)
    }
    // a seq range over the last load only: the zone map keeps ~1/4 of
    // the files with zero ck declaration, and the result is exact
    val sliced = spark.read.format(fmt).option("pk", "pk").load(dir)
      .filter(col("seq") >= 3072L)
    assert(sliced.count() == 1024)
    val (k1, t1) = kept(sliced)
    assert(k1 * 2 < t1, s"the non-ck zone map must prune most files: $k1/$t1")
    // pk POINT LOOKUP: bucket prune (TokenRanges: 1) AND the pk zone map
    // drops the other loads' files WITHIN the owning bucket (stats bound
    // the raw key, not the ring position)
    val point = spark.read.format(fmt).option("pk", "pk").load(dir)
      .filter(col("pk") === 7L)
    assert(point.count() == 1)
    val plan = point.queryExecution.executedPlan.toString()
    assert(plan.contains("TokenRanges: 1 "),
      s"bucket prune expected:\n${plan.take(400)}")
    val (k2, t2) = kept(point)
    assert(t2 >= 2 && k2 < t2,
      s"pk=7 lives only in load 0's file of its bucket: kept $k2/$t2")
  }

  test("BLOOM prune: TEXT pk point lookups drop files that provably lack the key") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_bloom")
    // TEXT keys: zone maps can't prune these (truncatable binary stats)
    // — the per-file pk bloom is the only sub-bucket prune they get
    (0 until 4).foreach { r =>
      (0 until 64).map(i => (s"user_${r}_$i", s"v$r-$i"))
        .toDF("pk", "v").coalesce(1)
        .write.format(fmt).option("pk", "pk")
        .option("schema", "pk STRING, v STRING")
        .mode("append").save(dir)
    }
    def kept(f: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val m = "PrunedFiles: (\\d+)/(\\d+)".r
        .findFirstMatchIn(f.queryExecution.executedPlan.toString())
      assert(m.isDefined, "expected a PrunedFiles report for the bloom probe")
      (m.get.group(1).toInt, m.get.group(2).toInt)
    }
    val point = spark.read.format(fmt).option("pk", "pk").load(dir)
      .filter(col("pk") === "user_2_7")
    assert(point.count() == 1)
    val plan = point.queryExecution.executedPlan.toString()
    assert(plan.contains("TokenRanges: 1 "), s"bucket prune first:\n${plan.take(300)}")
    val (k1, t1) = kept(point)
    // the key lives in exactly one load's file of its bucket; the other
    // loads' files in that bucket bloom-drop (FPP makes ==1 flaky-free
    // at this size, but assert the conservative strict subset)
    assert(k1 < t1, s"the bloom must prune within the bucket: $k1/$t1")
    // multiget: IN-list probes every key, union semantics per file
    val multi = spark.read.format(fmt).option("pk", "pk").load(dir)
      .filter(col("pk").isin("user_0_1", "user_3_5"))
    assert(multi.count() == 2)
    // a key that exists NOWHERE: every file bloom-drops, zero rows
    val miss = spark.read.format(fmt).option("pk", "pk").load(dir)
      .filter(col("pk") === "user_9_999")
    assert(miss.count() == 0)
    val (k3, t3) = kept(miss)
    assert(k3 == 0 || k3 < t3, s"a missing key should drop files: $k3/$t3")
  }

  test("a write whose schema lacks the clustering key is refused") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_ck3")
    val ex = intercept[Exception] {
      Seq((1L, "x")).toDF("pk", "v")
        .write.format(fmt).option("pk", "pk").option("ck", "seq")
        .mode("append").save(dir)
    }
    assert(ex.getMessage.contains("not in the write schema"))
    // a degenerate spec (no columns) refuses descriptively instead of
    // normalizing to "" and poisoning the ck record (r14 review)
    val exEmpty = intercept[Exception] {
      Seq((1L, "x")).toDF("pk", "v")
        .write.format(fmt).option("pk", "pk").option("ck", " , ")
        .mode("append").save(dir)
    }
    assert(exEmpty.getMessage.contains("names no columns"))
  }
}
