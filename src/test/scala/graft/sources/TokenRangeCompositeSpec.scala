package graft.sources.connector

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Composite partition keys through the connector (VERDICT r12 #8):
  * Cassandra's `PRIMARY KEY ((a, b))` — the tuple ring-hashed by
  * catalyst's chained multi-child xxhash64, identical in the column
  * expression, the task writers' routing, and the driver-side pushdown
  * twin. Full-equality lookups prune to the ONE owning bucket; partial
  * equality (one component) is NOT routed — CQL requires the full
  * partition key — but still evaluates correctly as a residual. */
class TokenRangeCompositeSpec extends SparkSpec {
  private val fmt = classOf[TokenRangeSource].getName

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_tr_cpk").toString

  private val rows: Seq[(Long, Int, String)] =
    for (o <- 0L until 40L; l <- 1 to 4) yield (o, l, s"v$o-$l")

  private def seed(dir: String): Unit = {
    val s2 = spark; import s2.implicits._
    rows.toDF("okey", "line", "v")
      .write.format(fmt).option("pk", "okey,line")
      .option("schema", "okey BIGINT, line INT, v STRING")
      .mode("append").save(dir)
  }
  private def load(dir: String) = spark.read.format(fmt)
    .option("pk", "okey,line").option("splits", "4").load(dir)

  test("composite-key round trip is exact and bucket placement follows the tuple ring") {
    val dir = freshDir()
    seed(dir)
    val got = load(dir).collect()
      .map(r => (r.getAs[Long]("okey"), r.getAs[Int]("line"), r.getAs[String]("v")))
    assert(got.toSet == rows.toSet)
    assert(got.length == rows.length)
    // every physical row sits in the bucket its TUPLE hashes to — the
    // write router, the column expression and the driver twin agree
    TokenRangeSource.bucketDirs(dir).foreach { case (k, d) =>
      val in = spark.read.parquet(d.getAbsolutePath)
        .select("okey", "line").collect()
      in.foreach { r =>
        val want = TokenLayout.bucketOfCompositeValues(
          Seq(r.getLong(0), r.getInt(1)),
          Seq(org.apache.spark.sql.types.LongType,
            org.apache.spark.sql.types.IntegerType))
        assert(want == k, s"row (${r.getLong(0)},${r.getInt(1)}) in tb=$k hashes to $want")
      }
    }
  }

  test("full composite equality prunes to the owning bucket; partial equality stays residual") {
    val dir = freshDir()
    seed(dir)
    // full equality: exactly one token range planned, both filters pushed
    val one = load(dir).filter(col("okey") === 17L && col("line") === 3)
    val hits = one.collect()
    assert(hits.length == 1 && hits.head.getAs[String]("v") == "v17-3")
    val plan = one.queryExecution.executedPlan.toString()
    assert(plan.contains("TokenRanges: 1"),
      s"full composite equality must prune to 1 bucket:\n${plan.take(900)}")
    assert(plan.contains("okey = 17") && plan.contains("line = 3"),
      s"both component equalities must be reported pushed:\n${plan.take(900)}")
    // partial equality: cannot be tuple-routed (CQL: full partition key
    // required) — plans the full range set, result still exact
    val part = load(dir).filter(col("okey") === 17L)
    assert(part.collect().length == 4)
    val partPlan = part.queryExecution.executedPlan.toString()
    assert(!partPlan.contains("TokenRanges: 1"),
      s"partial equality must NOT claim a single-bucket prune:\n${partPlan.take(900)}")
  }

  test("compact on a composite table routes by the TUPLE expression: one file per bucket, expression == twin") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir()
    seed(dir); seed(dir) // two appends → ≥2 files in populated buckets
    TokenRangeOps.compact(spark, dir, "okey,line")
    // compaction repartitions on TokenLayout.bucketOfComposite (the
    // column expression) and the sink routes by the driver twin — one
    // output file per non-empty bucket proves they agree row-for-row
    val perBucket = TokenRangeSource.visibleRelFiles(dir, None)
      .groupBy(_._1).map { case (k, fs) => k -> fs.size }
    assert(perBucket.nonEmpty && perBucket.values.forall(_ == 1),
      s"compacted composite layout must be 1 file/bucket: $perBucket")
    assert(load(dir).count() == rows.length * 2) // both appends, LWW is read-time
    // and the expression agrees with the twin on every tuple directly
    val exprBuckets = rows.toDF("okey", "line", "v")
      .select(col("okey"), col("line"),
        TokenLayout.bucketOfComposite(Seq(col("okey"), col("line"))).as("tb"))
      .collect()
    exprBuckets.foreach { r =>
      val want = TokenLayout.bucketOfCompositeValues(
        Seq(r.getLong(0), r.getInt(1)),
        Seq(org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.IntegerType))
      assert(r.getInt(2) == want,
        s"expression/twin drift on (${r.getLong(0)},${r.getInt(1)}): ${r.getInt(2)} vs $want")
    }
  }

  test("keyed rewrites validate against the recorded pk: a single component is refused") {
    val dir = freshDir()
    seed(dir)
    // deleteKeys with ONE component of the composite key would route to
    // the single-column ring — the WRONG buckets — and silently retain
    // rows; the recorded-pk check refuses it instead (r13 review)
    val exDel = intercept[IllegalArgumentException] {
      TokenRangeOps.deleteKeys(spark, dir, "okey", Seq(17L))
    }
    assert(exDel.getMessage.contains("full partition key"), exDel.getMessage)
    val exCompact = intercept[IllegalArgumentException] {
      TokenRangeOps.compact(spark, dir, "okey")
    }
    assert(exCompact.getMessage.contains("full partition key"), exCompact.getMessage)
    // and even with the full key, per-key-routing ops refuse composite
    val exDel2 = intercept[IllegalArgumentException] {
      TokenRangeOps.deleteKeys(spark, dir, "okey,line", Seq(17L))
    }
    assert(exDel2.getMessage.contains("composite"), exDel2.getMessage)
  }

  test("deleteTuples: removes exactly the named tuples, siblings with the same okey survive") {
    val dir = freshDir()
    seed(dir)
    val before = TokenRangeSource.visibleRelFiles(dir, None).toSet
    TokenRangeOps.deleteTuples(spark, dir, Seq("okey", "line"),
      Seq(Seq(17L, 3), Seq(22L, 1)))
    val got = load(dir).collect()
      .map(r => (r.getAs[Long]("okey"), r.getAs[Int]("line"))).toSet
    assert(got == rows.map(r => (r._1, r._2)).toSet -- Set((17L, 3), (22L, 1)))
    // sibling lines of the same orders survive (tuple grain, not key grain)
    assert(got((17L, 1)) && got((17L, 2)) && got((17L, 4)) && got((22L, 2)))
    // bucket-grain copy-on-write: untouched buckets carry by reference
    val affected = Set(
      TokenLayout.bucketOfCompositeValues(Seq(17L, 3),
        Seq(org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType)),
      TokenLayout.bucketOfCompositeValues(Seq(22L, 1),
        Seq(org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType)))
    val after = TokenRangeSource.visibleRelFiles(dir, None).toSet
    assert(after.filterNot(f => affected(f._1)) == before.filterNot(f => affected(f._1)),
      "a tuple delete must not rewrite buckets it does not touch")
  }

  test("SupportsDelete on a composite table: full-equality conjunction deletes one tuple; partial refused") {
    val dir = freshDir()
    seed(dir)
    val provider = new TokenRangeSource()
    val props = new java.util.HashMap[String, String]()
    props.put("path", dir); props.put("pk", "okey,line")
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(props)
    val table = provider.getTable(provider.inferSchema(opts), Array.empty, props)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsDelete]
    import org.apache.spark.sql.sources.{EqualTo, Filter, In}
    // full conjunctive equality: supported, deletes exactly the tuple
    assert(table.canDeleteWhere(Array[Filter](EqualTo("okey", 9L), EqualTo("line", 2))))
    table.deleteWhere(Array[Filter](EqualTo("okey", 9L), EqualTo("line", 2)))
    val got = load(dir).collect()
      .map(r => (r.getAs[Long]("okey"), r.getAs[Int]("line"))).toSet
    assert(got == rows.map(r => (r._1, r._2)).toSet - ((9L, 2)))
    // partial equality / IN-lists: not tuple-routable, refused (CQL
    // requires the full partition key)
    assert(!table.canDeleteWhere(Array[Filter](EqualTo("okey", 9L))))
    assert(!table.canDeleteWhere(Array[Filter](
      In("okey", Array[Any](1L)), EqualTo("line", 2))))
    // contradictory per-component equalities match no tuple: no-op
    val vBefore = TokenRangeSource.versions(dir).max
    table.deleteWhere(Array[Filter](
      EqualTo("okey", 9L), EqualTo("okey", 10L), EqualTo("line", 1)))
    assert(TokenRangeSource.versions(dir).max == vBefore,
      "a contradictory conjunction deletes nothing and flips nothing")
  }

  test("tuple multiget: OR of full-equality conjunctions prunes to the union of owning buckets") {
    val dir = freshDir()
    seed(dir)
    val multi = load(dir).filter(
      (col("okey") === 17L && col("line") === 3)
        || (col("okey") === 22L && col("line") === 1))
    val got = multi.collect()
      .map(r => (r.getAs[Long]("okey"), r.getAs[Int]("line"))).toSet
    assert(got == Set((17L, 3), (22L, 1)))
    val wantBuckets = Set(Seq[Any](17L, 3), Seq[Any](22L, 1)).map(t =>
      TokenLayout.bucketOfCompositeValues(t,
        Seq(org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.IntegerType))).size
    val plan = multi.queryExecution.executedPlan.toString()
    assert(plan.contains(s"TokenRanges: $wantBuckets"),
      s"tuple multiget must plan only the owning buckets ($wantBuckets):\n${plan.take(900)}")
    // a PARTIALLY bound disjunct poisons the prune (it could match rows
    // in any bucket) — the whole OR stays residual, result still exact
    val part = load(dir).filter(
      (col("okey") === 17L && col("line") === 3) || (col("okey") === 22L))
    assert(part.collect().length == 5) // (17,3) + all four lines of 22
    val partPlan = part.queryExecution.executedPlan.toString()
    assert(partPlan.contains("TokenRanges: 4"),
      s"a partially bound disjunct must not prune:\n${partPlan.take(900)}")
  }

  test("upsert on a composite table replaces at TUPLE grain") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir()
    seed(dir)
    val incoming = Seq((17L, 3, "updated17-3"), (99L, 9, "new99-9"))
      .toDF("okey", "line", "v")
    val before = TokenRangeSource.visibleRelFiles(dir, None).toSet
    TokenRangeOps.upsert(spark, dir, "okey,line", incoming)
    val m = load(dir).collect()
      .map(r => ((r.getAs[Long]("okey"), r.getAs[Int]("line")), r.getAs[String]("v")))
    assert(m.length == rows.length + 1) // one replaced, one genuinely new
    val mm = m.toMap
    assert(m.length == mm.size, "no tuple doubled")
    assert(mm((17L, 3)) == "updated17-3", "the matching tuple is replaced")
    assert(mm((17L, 2)) == "v17-2", "sibling lines of the same okey survive")
    assert(mm((99L, 9)) == "new99-9")
    // bucket-grain: untouched buckets carry by reference
    val touched = Set(Seq[Any](17L, 3), Seq[Any](99L, 9)).map(t =>
      TokenLayout.bucketOfCompositeValues(t,
        Seq(org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.IntegerType)))
    val after = TokenRangeSource.visibleRelFiles(dir, None).toSet
    assert(after.filterNot(f => touched(f._1)) == before.filterNot(f => touched(f._1)),
      "a tuple upsert must not rewrite buckets it does not touch")
  }

  test("dtype-widened incoming upsert frame still replaces (aligned to the table schema)") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir()
    seed(dir)
    // line arrives as LONG (a JSON/bigint source) against the table's INT
    // — xxhash64 hashes Int and Long differently, so without schema
    // alignment the tuple would route to the WRONG bucket, miss the row
    // it should replace, and leave a duplicate (r13 review)
    val widened = Seq((17L, 3L, "widened17-3")).toDF("okey", "line", "v")
    TokenRangeOps.upsert(spark, dir, "okey,line", widened)
    val m = load(dir).collect()
      .map(r => ((r.getAs[Long]("okey"), r.getAs[Int]("line")), r.getAs[String]("v")))
    assert(m.length == rows.length, "replace, not duplicate")
    assert(m.toMap.apply((17L, 3)) == "widened17-3")
    // and the table still reads uniformly (no schema-drifted files)
    assert(load(dir).schema("line").dataType
      == org.apache.spark.sql.types.IntegerType)
  }

  test("deleteTuples on an empty table is a no-op (parity with deleteKeys)") {
    val dir = freshDir()
    // a bare table dir: no files, no manifest, no footer to infer a
    // schema from — the old code crashed in the schemaless load here
    TokenRangeOps.deleteTuples(spark, dir, Seq("okey", "line"), Seq(Seq(1L, 2)))
    assert(TokenRangeSource.visibleRelFiles(dir, None).isEmpty)
  }

  test("multiget prune tolerates extra non-pk conjuncts inside a disjunct") {
    val dir = freshDir()
    seed(dir)
    val q = load(dir).filter(
      (col("okey") === 17L && col("line") === 3 && col("v") === "v17-3")
        || (col("okey") === 22L && col("line") === 1))
    val got = q.collect()
      .map(r => (r.getAs[Long]("okey"), r.getAs[Int]("line"))).toSet
    assert(got == Set((17L, 3), (22L, 1)))
    val nBuckets = Set(Seq[Any](17L, 3), Seq[Any](22L, 1)).map(t =>
      TokenLayout.bucketOfCompositeValues(t,
        Seq(org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.IntegerType))).size
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains(s"TokenRanges: $nBuckets"),
      s"a non-pk conjunct only narrows its disjunct — prune must hold:\n${plan.take(900)}")
  }

  test("three-column (TEXT, BIGINT, INT) composite key: round trip, prune, expression == twin") {
    val s2 = spark; import s2.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val dir = freshDir()
    val rows3 = for (t <- Seq("alpha", "bravo", "charlie"); o <- 0L until 20L; l <- 1 to 2)
      yield (t, o, l, s"v$t-$o-$l")
    rows3.toDF("tenant", "okey", "line", "v")
      .write.format(fmt).option("pk", "tenant,okey,line")
      .option("schema", "tenant STRING, okey BIGINT, line INT, v STRING")
      .mode("append").save(dir)
    def load3 = spark.read.format(fmt)
      .option("pk", "tenant,okey,line").option("splits", "4").load(dir)
    // round trip exact
    assert(load3.collect().map(r => (r.getString(0), r.getLong(1),
      r.getInt(2), r.getString(3))).toSet == rows3.toSet)
    // full three-way equality prunes to ONE bucket
    val one = load3.filter(col("tenant") === "bravo"
      && col("okey") === 7L && col("line") === 2)
    assert(one.collect().map(_.getString(3)).toSeq == Seq("vbravo-7-2"))
    val plan = one.queryExecution.executedPlan.toString()
    assert(plan.contains("TokenRanges: 1"),
      s"3-col full equality must prune to 1 bucket:\n${plan.take(900)}")
    // expression == driver twin over every tuple (string + numeric mix
    // chains through xxhash64 with per-type hashing — the riskiest case)
    rows3.toDF("tenant", "okey", "line", "v")
      .select(col("tenant"), col("okey"), col("line"),
        TokenLayout.bucketOfComposite(
          Seq(col("tenant"), col("okey"), col("line"))).as("tb"))
      .collect().foreach { r =>
        val want = TokenLayout.bucketOfCompositeValues(
          Seq(r.getString(0), r.getLong(1), r.getInt(2)),
          Seq(StringType, LongType, IntegerType))
        assert(r.getInt(3) == want,
          s"expr/twin drift on (${r.getString(0)},${r.getLong(1)},${r.getInt(2)})")
      }
    // placement: physical rows sit in their tuple's bucket
    TokenRangeSource.bucketDirs(dir).foreach { case (k, d) =>
      spark.read.parquet(d.getAbsolutePath)
        .select("tenant", "okey", "line").collect().foreach { r =>
          assert(TokenLayout.bucketOfCompositeValues(
            Seq(r.getString(0), r.getLong(1), r.getInt(2)),
            Seq(StringType, LongType, IntegerType)) == k)
        }
    }
  }

  test("snapshot reads stay exact across the legacy→segmented transition") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir()
    // three connector commits: v1 the first write, v2 an append, v3 a
    // delete — each an incremental segmented rebase of the one before
    (0L until 100L).map(i => (i, s"a$i")).toDF("pk", "v")
      .write.format(fmt).option("pk", "pk")
      .option("schema", "pk BIGINT, v STRING").mode("append").save(dir)
    Seq((1000L, "x")).toDF("pk", "v")
      .write.format(fmt).option("pk", "pk").mode("append").save(dir)
    TokenRangeOps.deleteKeys(spark, dir, "pk", Seq(7L))
    val vs = TokenRangeSource.versions(dir)
    assert(vs.size >= 3)
    def at(v: Int) = spark.read.format(fmt).option("pk", "pk")
      .option("version", v.toString).load(dir)
      .select("pk").collect().map(_.getLong(0)).toSet
    // v1 = the first write, exactly
    assert(at(vs.head) == (0L until 100L).toSet)
    // the append's version sees the first write + the new row
    assert(at(vs(1)) == (0L until 100L).toSet + 1000L)
    // the delete's version drops exactly key 7
    assert(at(vs(2)) == (0L until 100L).toSet + 1000L - 7L)
  }

  test("null composite-key component is refused at write (CQL parity)") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir()
    val bad = Seq((Some(1L), Option.empty[Int], "x"))
      .toDF("okey", "line", "v")
    val ex = intercept[Exception] {
      bad.write.format(fmt).option("pk", "okey,line")
        .option("schema", "okey BIGINT, line INT, v STRING")
        .mode("append").save(dir)
    }
    assert(ex.getMessage != null)
  }
}
