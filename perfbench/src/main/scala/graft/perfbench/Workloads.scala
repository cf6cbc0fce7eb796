package graft.perfbench

import java.util.SplittableRandom

import graft.sources.MessageStore
import graft.sources.connector.{TokenRangeOps, TokenRangeSource}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Latency and CPU samples (tagged with the pass that took them), failure
  * counts and the first few failure messages. */
final class Ledger(cpu: SparkMeter) {
  var attempted = 0L
  var failed = 0L
  /** The pass now running; set by the measuring loop. */
  var pass = 0
  private var counted: Int => Boolean = _ => true
  val errors = mutable.ArrayBuffer.empty[String]
  private final case class Sample(pass: Int, ms: Double, op: Long, clientNs: Long)
  private val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Sample]]
  def add(kind: String, c: Cost): Unit =
    lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += Sample(pass, c.ms, c.op, c.clientNs)
  def fail(kind: String, msg: String): Unit = {
    failed += 1
    if (errors.size < 10) errors += s"$kind: ${msg.take(300)}"
  }
  /** From now on samples come only from passes `p` accepts. */
  def countOnly(p: Int => Boolean): Unit = counted = p
  private def kept(kind: String) = lat.get(kind).map(_.filter(x => counted(x.pass)).toSeq).getOrElse(Nil)
  /** Wall-clock latencies (ms) of `kind`. */
  def samples(kind: String): Seq[Double] = kept(kind).map(_.ms)
  /** CPU (ms) of `kind` in each pass: the mean over the pass's calls of the
    * client thread's CPU plus the CPU of the call's tasks. */
  def cpuPerPass(kind: String): Seq[Double] = {
    cpu.drain()
    val tasks = cpu.groupNs()
    kept(kind).groupBy(_.pass).values.map { xs =>
      xs.map(x => (x.clientNs + tasks.getOrElse(Workload.group(x.op), 0L)) / 1e6).sum / xs.size
    }.toSeq
  }
  def counts: Map[String, Int] = lat.keys.map(k => k -> kept(k).size).toMap
}

/** Wall milliseconds, op id and client-thread CPU of one call. */
final case class Cost(ms: Double, op: Long, clientNs: Long)

object Stats {
  /** Percentile by linear interpolation between closest ranks (the
    * definition numpy calls 'linear'). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** `name` -> the 95th percentile, when at least ten samples lie beyond
    * it (200 or more); nothing otherwise. */
  def p95(name: String, xs: Seq[Double]): Seq[(String, Double, String)] =
    if (xs.size >= 200) Seq((name, pct(xs, 95), "ms")) else Nil
}

object Workload {
  /** The job group every Spark job of call `op` runs in. */
  def group(op: Long): String = s"perfbench-$op"
}

/** A workload: set-up rounds, then closed-loop passes over a fixed
  * operation list; every result is checked against the seeded model. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String) {
  val cpu = new SparkMeter(spark)
  val ledger = new Ledger(cpu)
  val tracer = new Tracer(spark, cpu)
  protected val rng = new SplittableRandom(seed * 1000003L + getClass.getSimpleName.hashCode)

  /** Seconds spent in each named set-up step, summed over the rounds. */
  val setupSteps = mutable.LinkedHashMap.empty[String, Double]
  protected def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupSteps(name) = setupSteps.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** Generate and load one fresh copy of the workload's data. */
  def setupRound(round: Int): Unit
  /** Drop the data of an earlier set-up round. */
  def dropRound(round: Int): Unit
  def pass(): Unit
  /** End-to-end metrics under the names the workload's users know them by:
    * (name, value, unit). */
  def named(passS: Seq[Double]): Seq[(String, Double, String)]
  /** The workload's primary calls. They differ several-fold in cost, so a
    * pooled sample would fall into clusters and its median would jump
    * between them from run to run. `op_cpu_ms` is the median over the calls
    * of each call's median over passes of its mean CPU in the pass (one
    * call's costs still cluster by key; their mean moves smoothly with the
    * mix where their median jumps). `op_p50_ms` is the median over the
    * calls of each call's median latency. */
  def primaryOps: Seq[String]
  def opCpuMs: Double = Stats.median(primaryOps.map(k => Stats.median(ledger.cpuPerPass(k))))
  def opP50Ms: Double = Stats.median(primaryOps.map(k => Stats.median(ledger.samples(k))))
  /** Per-layer values from the traced segment. */
  def layers(exec: Map[Long, ExecTotals], passes: Int): Map[String, Double]
  def teardown(): Unit

  private var nextOp = 0L

  /** One timed call: the result and its cost, or the failure recorded. */
  protected def attempt[T](kind: String)(call: => T): Option[(T, Cost)] = {
    ledger.attempted += 1
    nextOp += 1
    val op = nextOp
    spark.sparkContext.setJobGroup(Workload.group(op), kind)
    val t0 = System.nanoTime(); val c0 = cpu.clientNs
    try {
      val v = tracer.request(kind, op)(call)
      Some((v, Cost((System.nanoTime() - t0) / 1e6, op, cpu.clientNs - c0)))
    } catch {
      case e: Exception =>
        ledger.fail(kind, s"${e.getClass.getSimpleName}: ${e.getMessage}"); None
    } finally spark.sparkContext.clearJobGroup()
  }

  /** One checked, timed call. The latency is kept only when `check`
    * accepts the result, so a wrong answer is never timed as a fast one. */
  protected def op[T](kind: String)(call: => T)(check: T => Option[String]): Option[T] =
    attempt(kind)(call).flatMap { case (v, c) =>
      check(v) match {
        case Some(err) => ledger.fail(kind, err); None
        case None => ledger.add(kind, c); Some(v)
      }
    }

  /** Calls into the driver: building the frame, then the action. */
  protected def frame(f: => DataFrame): DataFrame = tracer.span("driver.frame")(f)
  protected def action[T](f: => T): T = tracer.span("driver.action")(f)

  protected def zipfPick[T](keys: Array[T], z: Zipf, perm: Array[Int]): T = keys(perm(z.draw(rng)))
  protected def permutation(n: Int): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) { val j = rng.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t }
    p
  }

  /** Rows each traced lookup returned, by request id. */
  protected val rowsReturned = mutable.HashMap.empty[Long, Long]

  /** Per request kind of the traced passes: requests, median wall ms and
    * executor CPU ms per request, executor CPU ms on scan stages, and for
    * lookups the rows their scan tasks read per row returned. */
  def kindSummary(exec: Map[Long, ExecTotals]): Map[String, Map[String, Double]] =
    tracer.kinds.map { kind =>
      val reqs = tracer.requests(kind)
      def ex(f: ExecTotals => Double) = medianOf(reqs.map(r => exec.get(r).map(f).getOrElse(0.0)))
      val looked = reqs.filter(rowsReturned.contains)
      val ret = looked.map(rowsReturned).sum
      val read = looked.map(r => exec.get(r).map(_.inRecords).getOrElse(0L)).sum
      kind -> (Map("requests" -> reqs.size.toDouble,
        "wall_ms" -> medianOf(reqs.map(r => tracer.spanMs(r, s"op.$kind"))),
        "exec_cpu_ms" -> ex(_.cpuNs / 1e6), "scan_cpu_ms" -> ex(_.scanCpuNs / 1e6)) ++
        (if (ret > 0) Map("rows_read_per_row_returned" -> read.toDouble / ret) else Map.empty))
    }.toMap

  protected def medianOf(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
  protected def execLayers(exec: Map[Long, ExecTotals], passes: Int): Map[String, Double] = {
    val t = exec.values
    def per(f: ExecTotals => Double) = t.iterator.map(f).sum / passes.max(1)
    val scanCpuS = t.iterator.map(_.scanCpuNs).sum / 1e9
    Map(
      "exec.stages" -> per(_.stages.toDouble), "exec.tasks" -> per(_.tasks.toDouble),
      "exec.run_ms" -> per(_.runMs.toDouble), "exec.cpu_ms" -> per(_.cpuNs / 1e6),
      "exec.gc_ms" -> per(_.gcMs.toDouble), "exec.scheduler_wait_ms" -> per(_.waitMs.toDouble),
      "exec.input_records" -> per(_.inRecords.toDouble), "exec.input_bytes" -> per(_.inBytes.toDouble),
      "exec.shuffle_write_bytes" -> per(_.shWrite.toDouble),
      "exec.shuffle_read_bytes" -> per(_.shRead.toDouble), "exec.spill_bytes" -> per(_.spill.toDouble),
      "connector.decode_rows_per_cpu_s" ->
        (if (scanCpuS > 0) t.iterator.map(_.scanRecords).sum / scanCpuS else 0.0))
  }
  /** Driver-phase medians over the requests of the given kinds. */
  protected def driverLayers(kinds: Set[String]): Map[String, Double] = {
    val reqs = kinds.toSeq.flatMap(tracer.requests)
    Map("driver.frame_ms" -> medianOf(reqs.map(r => tracer.spanMs(r, "driver.frame"))),
      "driver.analysis_ms" -> medianOf(reqs.map(r => tracer.phaseMs(r, "analysis"))),
      "driver.optimization_ms" -> medianOf(reqs.map(r => tracer.phaseMs(r, "optimization"))),
      "driver.planning_ms" -> medianOf(reqs.map(r => tracer.phaseMs(r, "planning"))))
  }
}

/** The MessageStore keyspace every connector workload runs on. */
abstract class KeyspaceWorkload(spark: SparkSession, seed: Long, work: String,
    nChannels: Int, perChannel: Int, nUsers: Int, loadAllUserVersions: Boolean)
  extends Workload(spark, seed, work) with AdaptiveSparkPlanHelper {
  val Page = 20
  protected val provider = classOf[TokenRangeSource].getName
  var model: KeyspaceModel = _
  var store: MessageStore = _
  def ks(round: Int) = s"perfbench_${seed.abs}_$round"
  def msgPath: String = store.tablePath("messages")
  def usersPath: String = store.tablePath("users")

  private val msgSchema = StructType(Seq(StructField("channel_id", LongType),
    StructField("write_seq", LongType), StructField("message_id", StringType),
    StructField("author_id", StringType), StructField("message", StringType)))
  private val userSchema = StructType(Seq(StructField("user_id", StringType),
    StructField("username", StringType), StructField("email", StringType),
    StructField("password", StringType), StructField("write_seq", LongType)))

  def setupRound(round: Int): Unit = {
    model = step("generate")(new KeyspaceModel(seed, nChannels, perChannel, nUsers))
    store = new MessageStore(spark, ks(round))
    step("create")(store.createKeyspace()); step("create")(store.createTables())
    import scala.jdk.CollectionConverters._
    step("load_messages")(spark.createDataFrame(model.messages.toSeq.map(m =>
        Row(m.channel, m.ws, m.mid, m.author, m.text)).asJava, msgSchema)
      .coalesce(1).write.format(provider).option("pk", "channel_id").option("ck", "write_seq DESC")
      .mode("append").save(msgPath))
    // each table in one single-task write, so one file per token bucket;
    // users carry every version for a workload that compacts them itself,
    // else only the LWW winners (the state compactUsers leaves)
    val users = if (loadAllUserVersions) model.users.toSeq else model.winners.values.toSeq
    step("load_users")(spark.createDataFrame(users.map(u =>
        Row(u.userId, u.name, u.email, u.password, u.ws)).asJava, userSchema)
      .coalesce(1).write.format(provider).option("pk", "username").mode("append").save(usersPath))
  }
  def dropRound(round: Int): Unit = new MessageStore(spark, ks(round)).dropKeyspace()
  def teardown(): Unit = store.dropKeyspace()

  protected val chanPerm = permutation(nChannels)
  protected val userPerm = permutation(nUsers)
  protected val chanZipf = new Zipf(nChannels, 1.0)
  protected val userZipf = new Zipf(nUsers, 1.0)
  protected def pickChannel(absent: Boolean = false): Long =
    if (absent) model.absentChannels(rng.nextInt(model.absentChannels.length))
    else zipfPick(model.channels, chanZipf, chanPerm)
  protected def pickUser(absent: Boolean = false): String =
    if (absent) model.absentUsers(rng.nextInt(model.absentUsers.length))
    else zipfPick(model.usernames, userZipf, userPerm)

  // ---- traced-run counters, recorded at the connector boundary ---------------
  protected def scanPartitions(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b.inputPartitions.size }.sum
  protected def traceRead(df: DataFrame, rows: Int, path: String, pk: String): Unit =
    if (tracer.enabled) {
      rowsReturned(tracer.currentReq) = rows
      tracer.sample("connector.scan_partitions", scanPartitions(df))
      tracer.span("connector.resolve") {
        val t0 = System.nanoTime()
        spark.read.format(provider).option("pk", pk).load(path)
        tracer.sample("connector.resolve_ms", (System.nanoTime() - t0) / 1e6)
      }
      if (path == msgPath) tracer.span("connector.meta") {
        tracer.sample("connector.versions", TokenRangeSource.versions(path).size)
        tracer.sample("connector.live_files", TokenRangeOps.liveFiles(path).size)
      }
    }
  protected def connectorLayers(exec: Map[Long, ExecTotals]): Map[String, Double] = {
    def med(n: String) = medianOf(tracer.samples.getOrElse(n, Nil))
    val read = rowsReturned.keys.toSeq.map(r => exec.get(r).map(_.inRecords).getOrElse(0L)).sum
    val ret = rowsReturned.values.sum
    Map("connector.resolve_ms" -> med("connector.resolve_ms"),
      "connector.versions" -> med("connector.versions"),
      "connector.live_files" -> med("connector.live_files"),
      "connector.scan_partitions" -> med("connector.scan_partitions"),
      "connector.rows_read_per_row_returned" -> (if (ret > 0) read.toDouble / ret else 0.0))
  }

  /** The newest-first first page of a channel, checked against `expect`. */
  protected def readPage(kind: String, ch: Long)(expect: Seq[Row] => Option[String]): Option[Seq[Row]] =
    op(kind) {
      val df = frame(store.messages(ch).limit(Page))
      val rows = action(df.collect()).toSeq
      traceRead(df, rows.size, msgPath, "channel_id")
      rows
    }(expect)

  protected def pageMatches(rows: Seq[Row], want: Seq[Msg]): Option[String] = {
    val got = rows.map(r => Msg(r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getString(4)))
    if (got == want) None
    else Some(s"page of ${want.headOption.map(_.channel)}: got ${got.size} rows " +
      s"${got.take(2)}, want ${want.size} ${want.take(2)}")
  }

  protected def lookupUser(kind: String, name: String): Option[Seq[Row]] =
    op(kind) {
      val df = frame(store.user(name))
      val rows = action(df.collect()).toSeq
      traceRead(df, rows.size, usersPath, "username")
      rows
    } { rows =>
      val want = model.winners.get(name).map(u => Seq(u.userId, u.name, u.email, u.password)).toSeq
      val got = rows.map(r => Seq(r.getAs[String]("user_id"), r.getAs[String]("username"),
        r.getAs[String]("email"), r.getAs[String]("password")))
      if (got == want) None else Some(s"user $name: got $got, want $want")
    }
}

/** Reads of a loaded, compacted keyspace: each pass runs partition reads
  * and user lookups by key (Zipf-skewed, one key in eight absent), then
  * the analytic scans over the whole tables. */
final class KeyspaceRead(spark: SparkSession, seed: Long, work: String)
  extends KeyspaceWorkload(spark, seed, work, nChannels = 600, perChannel = 25, nUsers = 4000,
    loadAllUserVersions = false) {
  /** Of each kind per pass; the last of them asks for an absent key, so
    * every pass has the same share of misses. */
  val LookupsPerPass = 8
  val ScanOps = Seq("scan_full_agg", "scan_projection", "scan_group_by", "scan_list_users")
  def primaryOps = Seq("lookup_page", "lookup_user")
  /** Rows the scans of one pass decode: messages three times, users once. */
  private def scanRows: Double = 3.0 * model.messageCount + model.winners.size

  private lazy val expectFull: Row = {
    val ms = model.byChannel.valuesIterator.flatten.toSeq
    Row(ms.size.toLong, ms.map(_.channel).sum, ms.map(_.ws).sum, ms.map(_.mid.length.toLong).sum,
      ms.map(_.author.length.toLong).sum, ms.map(_.text.length.toLong).sum, ms.map(_.text).max)
  }
  private lazy val expectProj: Row = {
    val ms = model.byChannel.valuesIterator.flatten.toSeq
    Row(ms.size.toLong, ms.map(m => (m.channel % 1000003L) * (m.ws % 1009L)).sum)
  }

  def pass(): Unit = {
    for (i <- 0 until LookupsPerPass) {
      val ch = pickChannel(absent = i == LookupsPerPass - 1)
      readPage("lookup_page", ch)(pageMatches(_, model.page(ch, Page)))
      lookupUser("lookup_user", pickUser(absent = i == LookupsPerPass - 1))
    }
    op("scan_full_agg") {
      action(frame(store.allMessages().agg(count(lit(1)), sum("channel_id"), sum("write_seq"),
        sum(length(col("message_id"))), sum(length(col("author_id"))),
        sum(length(col("message"))), max("message"))).collect().head)
    } { r => if (r == expectFull) None else Some(s"full aggregate $r, want $expectFull") }
    op("scan_projection") {
      action(frame(store.allMessages().select("channel_id", "write_seq")
        .agg(count(lit(1)), sum((col("channel_id") % 1000003L) * (col("write_seq") % 1009L))))
        .collect().head)
    } { r => if (r == expectProj) None else Some(s"projection $r, want $expectProj") }
    op("scan_group_by") {
      action(frame(store.allMessages().groupBy("channel_id")
        .agg(count(lit(1)), max("write_seq"))).collect())
    } { rows =>
      val got = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = model.byChannel.map { case (c, ms) => c -> (ms.size.toLong, ms.head.ws) }.toMap
      if (got == want) None else Some(s"group-by: ${got.size} groups, want ${want.size}")
    }
    op("scan_list_users") {
      action(frame(store.listUsers()).collect())
    } { rows =>
      val got = rows.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val want = model.winners.valuesIterator.map(u => (u.userId, u.name, u.email)).toSet
      if (rows.length == want.size && got == want) None
      else Some(s"listUsers: ${rows.length} rows, want ${want.size}")
    }
  }

  def named(passS: Seq[Double]): Seq[(String, Double, String)] = {
    // one scan pass = the four scan queries; their per-pass sums, in order
    val n = ScanOps.map(ledger.samples(_).size).min
    val scanPass = (0 until n).map(i => ScanOps.map(ledger.samples(_)(i)).sum / 1000)
    Seq(("lookup_p50_ms", opP50Ms, "ms"),
      ("page_lookup_p50_ms", Stats.median(ledger.samples("lookup_page")), "ms"),
      ("user_lookup_p50_ms", Stats.median(ledger.samples("lookup_user")), "ms")) ++
    Stats.p95("lookup_p95_ms", primaryOps.flatMap(ledger.samples)) ++ Seq(
      ("scan_pass_s", Stats.median(scanPass), "s"),
      ("scan_rows_per_s", scanRows / Stats.median(scanPass), "rows/s"))
  }
  def layers(exec: Map[Long, ExecTotals], passes: Int): Map[String, Double] =
    driverLayers(primaryOps.toSet) ++ connectorLayers(exec) ++ execLayers(exec, passes)
}

/** Small inserts beside partition reads, bulk user upserts, CDC drains and
  * compaction, all on one keyspace whose messages table keeps fragmenting. */
final class IngestMixed(spark: SparkSession, seed: Long, work: String)
  extends KeyspaceWorkload(spark, seed, work, nChannels = 600, perChannel = 25, nUsers = 4000,
    loadAllUserVersions = true) {
  val InsertsPerPass = 3
  val BulkRows = 200
  def primaryOps = Seq("insert_commit")
  private var inserted = 0L   // rows since the last drain
  private var counter = 0L
  private var names = mutable.ArrayBuffer.empty[String]
  private var ckptN = 0

  override def setupRound(round: Int): Unit = {
    super.setupRound(round)
    names = mutable.ArrayBuffer.from(model.usernames)
    inserted = model.messageCount // the first drain replays the whole table
    ckptN += 1
  }
  private def ckpt = s"$work/cdc-ckpt-$ckptN"

  private def insertAndRead(): Unit = {
    val ch = pickChannel()
    val texts = Seq.fill(2) { counter += 1; s"ins-$seed-$counter ${Words.text(rng, 3, 8)}" }
    val author = pickUser()
    val before = model.page(ch, Page - 2)
    var ok = false
    val res = attempt("insert_commit") {
      val v0 = if (tracer.enabled) TokenRangeOps.liveFiles(msgPath).toSet else Set.empty[String]
      tracer.span("commit.save")(store.insertMessages(texts.map(t => (ch, author, t))))
      if (tracer.enabled) {
        val added = TokenRangeOps.liveFiles(msgPath).filterNot(v0)
        tracer.sample("write.files_added", added.size)
        tracer.sample("write.bytes_added", added.map(f => new java.io.File(msgPath, f).length).sum)
      }
    }
    readPage("mixed_lookup", ch) { rows =>
      val head = rows.take(2)
      val ws = head.map(_.getLong(1)).distinct
      if (head.map(_.getString(4)).toSet != texts.toSet) Some(s"read-your-writes: newest rows ${head.map(_.getString(4))}, want $texts")
      else if (ws.size != 1 || before.headOption.exists(_.ws >= ws.head)) Some(s"insert write_seq $ws not newest")
      else {
        val fresh = head.map(r => Msg(ch, r.getLong(1), r.getString(2), r.getString(3), r.getString(4)))
        val err = pageMatches(rows.drop(2), before)
        if (err.isEmpty) { model.prepend(ch, fresh); ok = true }
        err
      }
    }
    // the insert counts as done (and timed) only once its read-back matched
    res.foreach { case (_, c) =>
      if (ok) { ledger.add("insert_commit", c); inserted += 2 }
      else ledger.fail("insert_commit", "read-your-writes failed after insert")
    }
  }

  private def bulkUpsert(): Unit = {
    val upd = mutable.LinkedHashSet.empty[String]
    while (upd.size < BulkRows * 3 / 4) upd += names(rng.nextInt(names.size))
    val fresh = Seq.fill(BulkRows - upd.size) { counter += 1; s"new$seed-$counter" }
    val rows = (upd.toSeq ++ fresh).map { n =>
      counter += 1
      (s"b$counter", n, s"$n@b$counter.example.org", java.lang.Long.toHexString(rng.nextLong()))
    }
    op("bulk_upsert") {
      val t0 = System.nanoTime()
      store.insertUsers(rows)
      tracer.sample("upsert_ms", (System.nanoTime() - t0) / 1e6)
    } { _ => None }.foreach { _ =>
      rows.foreach { case (id, n, e, p) => model.winners(n) = UserRow(id, n, e, p, Long.MaxValue) }
      names ++= fresh
    }
  }

  private def drain(): Unit =
    op("cdc_drain") {
      val got = new java.util.concurrent.atomic.AtomicLong()
      val streamNs = new java.util.concurrent.atomic.AtomicLong()
      val q = spark.readStream.format(provider).option("pk", "channel_id").load(msgPath)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          got.addAndGet(b.count())
          // the query's own thread: offsets, planning, the offset log and
          // this batch so far (only the last commit-log write comes after)
          streamNs.set(cpu.threadNs); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      cpu.credit(streamNs.get)
      if (tracer.enabled) {
        val ps = q.recentProgress
        def d(k: String) = ps.iterator.map(p => Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum.toDouble
        Seq("triggerExecution" -> "stream.trigger_ms", "latestOffset" -> "stream.latest_offset_ms",
          "queryPlanning" -> "stream.query_planning_ms", "addBatch" -> "stream.add_batch_ms",
          "walCommit" -> "stream.wal_commit_ms").foreach { case (k, n) => tracer.sample(n, d(k)) }
        tracer.sample("stream.rows", ps.iterator.map(_.numInputRows).sum.toDouble)
      }
      got.get
    } { n =>
      if (n == inserted) { inserted = 0; None }
      else Some(s"CDC drain returned $n rows, want $inserted")
    }

  private def compact(): Unit =
    op("compact") {
      val before = if (tracer.enabled) TokenRangeOps.liveFiles(usersPath).toSet else Set.empty[String]
      store.compactUsers()
      if (tracer.enabled)
        tracer.sample("compact.bytes_rewritten", TokenRangeOps.liveFiles(usersPath).filterNot(before)
          .map(f => new java.io.File(usersPath, f).length).sum)
    } { _ => None }

  def pass(): Unit = {
    for (_ <- 0 until InsertsPerPass) insertAndRead()
    bulkUpsert()
    lookupUser("user_lookup", names(names.size - 1 - rng.nextInt(BulkRows / 8)))
    drain()
    compact()
    lookupUser("user_lookup", pickUser())
  }

  /** Live bytes of both tables ÷ live rows of their LWW views. */
  def storedBytesPerRow: Double = {
    def bytes(p: String) = TokenRangeOps.liveFiles(p).map(f => new java.io.File(p, f).length).sum
    (bytes(msgPath) + bytes(usersPath)).toDouble / (model.messageCount + model.winners.size)
  }

  def named(passS: Seq[Double]): Seq[(String, Double, String)] = {
    val ins = ledger.samples("insert_commit")
    val bulk = ledger.samples("bulk_upsert")
    Seq(("insert_p50_ms", Stats.median(ins), "ms")) ++ Stats.p95("insert_p95_ms", ins) ++ Seq(
      ("mixed_lookup_p50_ms", Stats.median(ledger.samples("mixed_lookup")), "ms"),
      ("bulk_write_rows_per_s", BulkRows / (Stats.median(bulk) / 1000), "rows/s"),
      ("compact_s", Stats.median(ledger.samples("compact")) / 1000, "s"),
      ("cdc_drain_p50_ms", Stats.median(ledger.samples("cdc_drain")), "ms"),
      ("stored_bytes_per_row", storedBytesPerRow, "bytes"))
  }

  def layers(exec: Map[Long, ExecTotals], passes: Int): Map[String, Double] = {
    val s = tracer.samples
    def med(n: String) = medianOf(s.getOrElse(n, Nil))
    // the save call's wall time minus its jobs': manifest flip, staging move
    val commitMs = tracer.requests("insert_commit")
      .map(r => tracer.spanMs(r, "commit.save") - tracer.jobWallNs(r) / 1e6)
    driverLayers(Set("mixed_lookup")) ++ connectorLayers(exec) ++ execLayers(exec, passes) ++ Map(
      "commit.driver_ms" -> medianOf(commitMs),
      "write.files_added" -> med("write.files_added"),
      "write.bytes_added" -> med("write.bytes_added"),
      "compact.bytes_rewritten" -> med("compact.bytes_rewritten"),
      "upsert_ms" -> med("upsert_ms"),
      "stream.trigger_ms" -> med("stream.trigger_ms"),
      "stream.latest_offset_ms" -> med("stream.latest_offset_ms"),
      "stream.query_planning_ms" -> med("stream.query_planning_ms"),
      "stream.add_batch_ms" -> med("stream.add_batch_ms"),
      "stream.wal_commit_ms" -> med("stream.wal_commit_ms"),
      "stream.rows" -> med("stream.rows"))
  }
}

/** A fixed list of SparkEntry operators over a generated plain-parquet
  * corpus; the connector is not involved. */
final class CorpusOps(spark: SparkSession, seed: Long, work: String)
  extends Workload(spark, seed, work) {
  val entries = Seq("dedup_winnow_pairs", "ann_bruteforce_topk", "ev_heavy_hitters",
    "q1_pricing_summary")
  def primaryOps = entries.map(n => s"entry.$n")
  /** Rounds over the entry list per pass. With one, a pass took 1.6–2.1 s,
    * so the measured window held two passes in some runs and three in
    * others and the median moved with the count. */
  val RoundsPerPass = 2
  var model: CorpusModel = _
  private var dir = ""
  private val firstResult = mutable.HashMap.empty[String, Int]

  def setupRound(round: Int): Unit = {
    import scala.jdk.CollectionConverters._
    model = new CorpusModel(seed, nDocs = 1000, nVecs = 1000, nEvents = 20000, nLines = 30000)
    dir = s"$work/corpus-$round"
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(s"$dir/$name.parquet")
    val langs = Seq("en", "de", "zh")
    write("documents", StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType))),
      model.docs.toSeq.map { case (id, t) => Row(id, t, langs((id % 3).toInt), s"src${id % 5}", t.length.toLong) })
    write("embeddings", StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
      model.vecs.toSeq.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq, i % 5) })
    write("events", StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      model.events.toSeq.map { case (id, ts, u, t, v) =>
        Row(id, java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(ts * 1000)), u, t, v,
          s"""{"k": ${id % 97}}""") })
    write("lineitem", StructType(Seq("l_orderkey", "l_partkey", "l_suppkey").map(StructField(_, LongType)) ++
      Seq(StructField("l_linenumber", IntegerType)) ++
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(StructField(_, DoubleType)) ++
      Seq(StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampType))),
      model.lines.toSeq.map(l => Row(l.orderKey, l.partKey, l.suppKey, l.lineNo, l.qty, l.price,
        l.disc, l.tax, l.flag, l.status,
        java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(l.shipMicros * 1000)))))
  }
  def dropRound(round: Int): Unit = Main.deleteTree(new java.io.File(s"$work/corpus-$round"))
  def teardown(): Unit = Main.deleteTree(new java.io.File(dir))

  private def check(name: String, rows: Array[Row]): Option[String] = {
    // every pass must reproduce the first pass's result exactly
    val fp = rows.map(_.toString).sorted.toSeq.hashCode
    val stable = firstResult.getOrElseUpdate(name, fp) == fp
    def pairs = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val err: Option[String] = name match {
      case "dedup_winnow_pairs" | "dedup_minhash_lsh" =>
        val missing = model.plantedPairs.filterNot(pairs)
        if (missing.isEmpty) None else Some(s"planted duplicate pairs missing: $missing")
      case "ann_bruteforce_topk" =>
        val bad = (0L until 10L).filterNot { q =>
          val mine = rows.filter(_.getAs[Long]("query_id") == q)
          mine.nonEmpty && mine.maxBy(_.getAs[Double]("score")).getAs[Long]("neighbor_id") == model.twinOf(q)
        }
        if (bad.isEmpty) None else Some(s"queries whose best neighbour is not their twin: $bad")
      case "txt_rake_keyphrases" =>
        if (rows.nonEmpty && rows.forall(r => r.getAs[Long]("doc_id") < model.nDocs)) None
        else Some(s"${rows.length} keyphrase rows")
      case "ev_heavy_hitters" =>
        val got = rows.map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("cnt")).toMap
        if (got == model.heavyHitters) None else Some(s"heavy hitters $got, want ${model.heavyHitters}")
      case "q1_pricing_summary" =>
        val got = rows.map(r => (r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus")) -> r).toMap
        def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
        val ok = got.keySet == model.q1.keySet && model.q1.forall { case (k, (n, q, p, dp, ch)) =>
          val r = got(k)
          r.getAs[Long]("count_order") == n && close(r.getAs[Double]("sum_qty"), q.toDouble) &&
            close(r.getAs[Double]("sum_base_price"), p.toDouble) &&
            close(r.getAs[Double]("sum_disc_price"), dp) && close(r.getAs[Double]("sum_charge"), ch) &&
            close(r.getAs[Double]("avg_qty"), (q / n).toDouble)
        }
        if (ok) None else Some(s"q1 groups ${got.keySet} differ from the model")
      case _ => None
    }
    err.orElse(if (stable) None else Some(s"$name result changed between passes"))
  }

  private val entryOf = graft.SparkEntry.queries
  def pass(): Unit = for (_ <- 0 until RoundsPerPass; name <- entries)
    op(s"entry.$name")(action(frame(entryOf(name)(spark, dir)).collect()))(check(name, _))

  def named(passS: Seq[Double]): Seq[(String, Double, String)] =
    Seq(("corpus_pass_s", Stats.median(passS) / RoundsPerPass, "s"))

  def layers(exec: Map[Long, ExecTotals], passes: Int): Map[String, Double] = {
    driverLayers(primaryOps.toSet) ++ execLayers(exec, passes) ++ entries.flatMap { n =>
      val reqs = tracer.requests(s"entry.$n")
      Seq(s"op.${n}_s" -> medianOf(reqs.map(r => tracer.spanMs(r, s"op.entry.$n") / 1000)),
        s"op.${n}_cpu_s" -> medianOf(reqs.map(r => exec.get(r).map(_.cpuNs / 1e9).getOrElse(0.0))))
    }
  }
}
