package graft.sources.connector

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Schema evolution at the connector boundary (VERDICT r13 next-round #3
  * / "wrong" #2): CQL refuses unknown columns until `ALTER TABLE ADD` —
  * the sink and upsert now refuse LOUDLY instead of silently dropping or
  * forking the layout, and [[TokenRangeOps.addColumn]] is the ALTER
  * analog: metadata-only, files written before it read NULL for the new
  * column (parquet's added-optional-column contract), rewrites carry it. */
class TokenRangeSchemaSpec extends SparkSpec {
  private val fmt = classOf[TokenRangeSource].getName

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def seed(dir: String): Unit = {
    val s2 = spark; import s2.implicits._
    (0L until 32L).map(i => (i, s"v$i")).toDF("pk", "v")
      .write.format(fmt).option("pk", "pk")
      .option("schema", "pk BIGINT, v STRING").mode("append").save(dir)
  }
  private def load(dir: String) =
    spark.read.format(fmt).option("pk", "pk").load(dir)

  test("a write with an unknown column is refused with the ALTER hint; dtype drift is refused") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_sch1")
    seed(dir)
    val exUnknown = intercept[Exception] {
      Seq((99L, "x", 1.0)).toDF("pk", "v", "score")
        .write.format(fmt).option("pk", "pk").mode("append").save(dir)
    }
    assert(exUnknown.getMessage.contains("addColumn"))
    val exDtype = intercept[Exception] {
      Seq((99, "x")).toDF("pk", "v") // pk INT vs stored BIGINT
        .write.format(fmt).option("pk", "pk").mode("append").save(dir)
    }
    assert(exDtype.getMessage.contains("stored schema"))
    // upsert refuses the same drift instead of silently dropping the column
    val exUpsert = intercept[Exception] {
      TokenRangeOps.upsert(spark, dir, "pk",
        Seq((5L, "new", 1.0)).toDF("pk", "v", "score"))
    }
    assert(exUpsert.getMessage.contains("addColumn"))
    assert(load(dir).count() == 32, "no refused write may leave rows behind")
  }

  test("addColumn: old files read NULL, new writes bind it, rewrites carry it") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_sch2")
    seed(dir)
    TokenRangeOps.addColumn(dir, "score DOUBLE")
    // duplicate refused (footer or alter — either way it exists)
    assert(intercept[Exception] { TokenRangeOps.addColumn(dir, "v STRING") }
      .getMessage.contains("already exists"))
    assert(intercept[Exception] { TokenRangeOps.addColumn(dir, "score DOUBLE") }
      .getMessage.contains("already exists"))

    // the stored schema now carries the column; pre-ALTER rows read NULL
    val t0 = load(dir)
    assert(t0.schema.fieldNames.toSeq == Seq("pk", "v", "score"))
    assert(t0.filter(col("score").isNull).count() == 32)

    // a write binding the new column lands beside the old files
    Seq((100L, "w", 2.5)).toDF("pk", "v", "score")
      .write.format(fmt).option("pk", "pk").mode("append").save(dir)
    // and a SUBSET write (CQL INSERT names a column subset) still lands
    Seq((101L, "s")).toDF("pk", "v")
      .write.format(fmt).option("pk", "pk").mode("append").save(dir)
    val rows = load(dir).select("pk", "v", "score").collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))).toMap
    assert(rows(100L) == (("w", 2.5)))
    assert(rows(101L) == (("s", null)))
    assert(rows(5L) == (("v5", null)))

    // projecting ONLY the post-ALTER column over pre-ALTER files works
    // (row cadence preserved, values NULL)
    assert(load(dir).select("score").count() == 34)

    // upsert on a pre-ALTER key: the rewrite reads old files aligned to
    // the stored schema — the new column must NOT be dropped from
    // surviving rows written post-ALTER
    TokenRangeOps.upsert(spark, dir, "pk",
      Seq((5L, "upserted", 9.9)).toDF("pk", "v", "score"))
    val after = load(dir).select("pk", "v", "score").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(after.length == 34)
    assert(after.find(_._1 == 5L).contains((5L, "upserted", 9.9)))
    assert(after.find(_._1 == 100L).contains((100L, "w", 2.5)),
      "a rewrite sharing bucket files must carry the ALTER column through")

    // compact folds everything into uniform post-ALTER files; data intact
    TokenRangeOps.compact(spark, dir, "pk")
    val compacted = load(dir).select("pk", "v", "score").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(compacted == after.toSet)
  }

  test("a case-drifted append is read back by value, not as NULLs") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_sch5")
    seed(dir)
    // the write guard matches case-insensitively (Spark's resolution
    // rule); the reader must do the same even though the parquet footer
    // now carries the drifted casing
    Seq((200L, "cased")).toDF("PK", "V")
      .write.format(fmt).option("pk", "PK").mode("append").save(dir)
    val r = load(dir).filter(col("pk") === 200L).collect()
    assert(r.length == 1 && r.head.getString(1) == "cased",
      s"case-drifted file must read by value, got ${r.mkString}")
  }

  test("upsert refuses a frame that binds only a column subset (no silent NULL-clobber)") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_sch6")
    seed(dir)
    val ex = intercept[Exception] {
      TokenRangeOps.upsert(spark, dir, "pk", Seq(Tuple1(5L)).toDF("pk"))
    }
    assert(ex.getMessage.contains("bind every stored column"))
    assert(load(dir).filter(col("pk") === 5L).collect().head.getString(1) == "v5",
      "the refused upsert must not have touched the row")
  }

  test("addColumn on a still-empty table: duplicates refused, alters fold onto the creation DDL") {
    val dir = freshDir("graft_tr_sch7")
    TokenRangeOps.addColumn(dir, "score DOUBLE")
    assert(intercept[Exception] { TokenRangeOps.addColumn(dir, "score DOUBLE") }
      .getMessage.contains("already exists"))
    assert(intercept[Exception] { TokenRangeOps.addColumn(dir, "SCORE STRING") }
      .getMessage.contains("already exists"))
    // first read of the empty table folds the alter onto the caller's DDL
    val t = spark.read.format(fmt).option("pk", "pk")
      .option("schema", "pk BIGINT, v STRING").load(dir)
    assert(t.schema.fieldNames.toSeq == Seq("pk", "v", "score"))
  }

  test("dropColumn: leaves the stored view, writes refuse it, compact discards it, re-ADD resurfaces") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_sch8")
    (0L until 16L).map(i => (i, s"v$i", i * 2.0)).toDF("pk", "v", "score")
      .write.format(fmt).option("pk", "pk")
      .option("schema", "pk BIGINT, v STRING, score DOUBLE")
      .mode("append").save(dir)
    // pk / unknown columns refuse (CQL parity)
    assert(intercept[Exception] { TokenRangeOps.dropColumn(dir, "pk") }
      .getMessage.contains("partition-key"))
    assert(intercept[Exception] { TokenRangeOps.dropColumn(dir, "nope") }
      .getMessage.contains("no column"))
    TokenRangeOps.dropColumn(dir, "score")
    // dropped from the stored view; writes binding it now refuse
    assert(load(dir).schema.fieldNames.toSeq == Seq("pk", "v"))
    assert(intercept[Exception] {
      Seq((99L, "x", 1.0)).toDF("pk", "v", "score")
        .write.format(fmt).option("pk", "pk").mode("append").save(dir)
    }.getMessage.contains("addColumn"))
    // a re-ADD resurfaces surviving values (documented divergence from
    // drop-timestamp masking) — and typed anew
    TokenRangeOps.addColumn(dir, "score DOUBLE")
    assert(load(dir).schema.fieldNames.toSeq == Seq("pk", "v", "score"))
    assert(load(dir).filter(col("pk") === 3L)
      .select("score").collect().head.getDouble(0) == 6.0)
    // drop again, compact: the bytes leave the physical files too, so a
    // re-ADD after the rewrite reads NULL
    TokenRangeOps.dropColumn(dir, "score")
    TokenRangeOps.compact(spark, dir, "pk")
    TokenRangeOps.addColumn(dir, "score DOUBLE")
    assert(load(dir).filter(col("score").isNotNull).count() == 0,
      "compact after DROP must physically discard the column")
    assert(load(dir).count() == 16)
  }

  test("a declared CREATE schema survives a subset-binding first insert (ADVICE r14)") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_sch9")
    // CREATE TABLE (pk, v, w) ... then the first INSERT binds only (pk, v)
    // — the CQL flow the write guard explicitly permits on populated
    // tables. The creation record must be the DECLARED schema, not the
    // subset frame's, or later writes binding w are refused as unknown.
    Seq((1L, "a"), (2L, "b")).toDF("pk", "v")
      .write.format(fmt).option("pk", "pk")
      .option("schema", "pk BIGINT, v STRING, w DOUBLE")
      .mode("append").save(dir)
    val t = load(dir)
    assert(t.schema.fieldNames.toSeq == Seq("pk", "v", "w"),
      "the declared DDL, not the subset frame, is the creation schema")
    assert(t.filter(col("w").isNull).count() == 2)
    // a later write binding the declared-but-previously-unbound column lands
    Seq((3L, "c", 1.5)).toDF("pk", "v", "w")
      .write.format(fmt).option("pk", "pk").mode("append").save(dir)
    assert(load(dir).filter(col("pk") === 3L)
      .select("w").collect().head.getDouble(0) == 1.5)
    // and a FIRST write binding a column outside its own CREATE refuses
    val dir2 = freshDir("graft_tr_sch9b")
    val ex = intercept[Exception] {
      Seq((1L, "a", 9.9)).toDF("pk", "v", "oops")
        .write.format(fmt).option("pk", "pk")
        .option("schema", "pk BIGINT, v STRING").mode("append").save(dir2)
    }
    assert(ex.getMessage.contains("does not exist"))
  }

  test("schema edits are version-pinned: time travel serves each version's own schema (ADVICE r14)") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_sch10")
    seed(dir) // publishes v1 (the 32 rows)
    TokenRangeOps.addColumn(dir, "score DOUBLE") // edit 1
    Seq((100L, "w", 2.5)).toDF("pk", "v", "score")
      .write.format(fmt).option("pk", "pk").mode("append").save(dir) // v2
    val Seq(vPre, vPost) = TokenRangeSource.versions(dir)
    // pinned PRE-ALTER: the column did not exist at v2 — it must not appear
    val atPre = spark.read.format(fmt).option("pk", "pk")
      .option("version", vPre.toString).load(dir)
    assert(atPre.schema.fieldNames.toSeq == Seq("pk", "v"),
      s"v$vPre predates the ADD; got ${atPre.schema.fieldNames.toSeq}")
    assert(atPre.count() == 32)
    // pinned POST-ALTER: sees it, with the bound value
    val atPost = spark.read.format(fmt).option("pk", "pk")
      .option("version", vPost.toString).load(dir)
    assert(atPost.schema.fieldNames.toSeq == Seq("pk", "v", "score"))
    assert(atPost.filter(col("pk") === 100L)
      .select("score").collect().head.getDouble(0) == 2.5)
    // DROP v (metadata-only, no new version): the CURRENT view loses it,
    // but the pinned pre-drop version must still read the stored values —
    // its files hold the bytes and the version is advertised pinned-readable
    TokenRangeOps.dropColumn(dir, "v") // edit 2
    assert(load(dir).schema.fieldNames.toSeq == Seq("pk", "score"))
    val pinned = spark.read.format(fmt).option("pk", "pk")
      .option("version", vPost.toString).load(dir)
    assert(pinned.schema.fieldNames.toSeq == Seq("pk", "v", "score"),
      "a pinned pre-DROP snapshot serves its own schema, not the current one")
    assert(pinned.filter(col("pk") === 5L).select("v")
      .collect().head.getString(0) == "v5")
  }

  test("subset-column appends cannot shrink the stored schema (it is recorded metadata)") {
    val s2 = spark; import s2.implicits._
    val dir = freshDir("graft_tr_sch3")
    seed(dir)
    // an append binding ONLY pk: legal (unbound columns read NULL) —
    // and the table schema must still be the full creation schema
    Seq(Tuple1(200L)).toDF("pk")
      .write.format(fmt).option("pk", "pk").mode("append").save(dir)
    val t = load(dir)
    assert(t.schema.fieldNames.toSeq == Seq("pk", "v"))
    val r = t.filter(col("pk") === 200L).collect()
    assert(r.length == 1 && r.head.isNullAt(1))
  }
}
