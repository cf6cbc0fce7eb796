package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * One parquet dataset per table; at cluster scale these would be
  * partitioned/bucketed datasets, but the read API is identical. All reads
  * go through `spark.read.parquet` so Catalyst gets full pushdown/pruning.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // ---- cached-schema reads (r20, guide §1.2 per-task work / VERDICT r19
  // next-round #1: the per-entry fixed cost). `spark.read.parquet(path)`
  // with no user schema re-infers the schema EVERY call — a footer read
  // plus relation resolution measured at 60-90 ms of driver time per call
  // on this suite, paid hundreds of times per bench/verify run. The
  // inferred schema of an immutable dataset is metadata, so it is cached
  // per (path, mtime, length) and passed explicitly; the (mtime, length)
  // key drops the entry the moment the dataset is rewritten. At cluster
  // scale this is the catalog lifecycle (schemas come from the metastore,
  // not per-query footer sniffing). JVM-scoped metadata only — never row
  // data, so it is not result caching.
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def cacheKey(path: String): String = {
    val f = new java.io.File(path)
    s"$path|${f.lastModified}|${f.length}"
  }

  /** Inferred-once schema of the parquet dataset at `path` (see cache note
    * above). */
  def schemaOf(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType =
    schemaCache.computeIfAbsent(cacheKey(path), _ => spark.read.parquet(path).schema)

  /** `spark.read.parquet(path)` with the schema served from [[schemaOf]]'s
    * cache instead of per-call footer inference. Only for datasets that are
    * immutable while being served (the sf tables, prebuilt index dirs). */
  def readCached(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readCached(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")

  /** `events.ts` is parquet TIMESTAMP(MICROS): it arrives as a timestamp
    * and only needs the NTZ→session-TZ cast (session TZ is UTC, so values
    * are unchanged and literal comparisons keep working). A plain INT64
    * `ts` of epoch nanos arrives as long and converts with integral DIV
    * (a double division would lose precision above 2^53 — epoch-nanos is
    * ~1.7e18; the data is µs-aligned, so DIV is lossless). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case _ =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
