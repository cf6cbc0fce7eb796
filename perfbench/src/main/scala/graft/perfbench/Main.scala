package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** One benchmark run: `Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outJson>`.
  *
  * Builds a `local[nproc]` session with `GraftSession.local`, sets the
  * workload up three times from the seed (the set-up time is the median),
  * runs its warm-up passes, then closed-loop passes for `seconds`. With
  * trace on, traced and untraced passes alternate, and the tracing
  * overhead is the difference of their median pass times. End-to-end
  * metrics come from the untraced passes only. The result, environment
  * and (traced) spans are written as JSON to `outJson`. */
object Main {
  val SetupRounds = 3
  /** Passes run before measuring: JIT and codegen caches, PrebuiltDirs,
    * the first CDC drain's backfill. After a single one the next pass was
    * still about a tenth dearer than the one after it. Every workload's
    * pass takes over two seconds, so a six-second window always holds
    * exactly two measured passes. */
  val WarmupPasses = 2

  /** Aggregate CPU jiffies from /proc/stat; empty where it is unreadable. */
  def cpuJiffies(): Array[Long] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    }.getOrElse(Array.empty[Long])
  /** Share of all CPU time between two readings that the hypervisor gave
    * to other guests; reported per pass, as it explains wall-time spread. */
  def stealShare(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val d = a.indices.map(i => b(i) - a(i))
      if (d.sum <= 0) 0.0 else d(7).toDouble / d.sum
    }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, out) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(cores)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = workload match {
      case "keyspace_read" => new KeyspaceRead(spark, seed, work)
      case "ingest_mixed" => new IngestMixed(spark, seed, work)
      case "corpus_ops" => new CorpusOps(spark, seed, work)
      case other => sys.error(s"unknown workload $other")
    }
    val confBefore = spark.conf.getAll

    val setupTimes = (0 until SetupRounds).map { r =>
      if (r > 0) w.dropRound(r - 1)
      val s0 = System.nanoTime()
      w.setupRound(r)
      (System.nanoTime() - s0) / 1e9
    }
    val setupS = sessionS + Stats.median(setupTimes)

    val tSetupEnd = System.nanoTime()
    w.ledger.pass = -1
    for (_ <- 0 until WarmupPasses) w.pass()
    val warmS = (System.nanoTime() - tSetupEnd) / 1e9

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

    /** Index, wall time, work CPU time (see [[SparkMeter]]), process CPU
      * time, GC time and steal share of each pass. */
    final class Passes {
      val id = scala.collection.mutable.ArrayBuffer.empty[Int]
      val wall, cpu, proc, gc, steal = scala.collection.mutable.ArrayBuffer.empty[Double]
      def size: Int = wall.size
    }
    /** Closed-loop passes until the next one would end past `seconds`
      * (at least two). With `traced`, every second pass is traced. */
    def measure(traced: Boolean): (Passes, Passes) = {
      val plain, withTrace = new Passes
      val start = System.nanoTime()
      var last = 0.0
      def elapsed = (System.nanoTime() - start) / 1e9
      while (plain.size + withTrace.size < 2 || elapsed + last <= seconds) {
        val on = traced && plain.size > withTrace.size
        val i = plain.size + withTrace.size
        w.ledger.pass = i
        if (on) w.tracer.start()
        val gc0 = gcMs; val cpu0 = w.cpu.clientNs + w.cpu.tasksNs(); val j0 = cpuJiffies()
        val proc0 = os.getProcessCpuTime
        val p0 = System.nanoTime()
        w.pass()
        last = (System.nanoTime() - p0) / 1e9
        val j1 = cpuJiffies()
        if (on) w.tracer.stop()
        val into = if (on) withTrace else plain
        into.id += i; into.wall += last; into.cpu += (w.cpu.clientNs + w.cpu.tasksNs() - cpu0) / 1e9
        into.proc += (os.getProcessCpuTime - proc0) / 1e9
        into.gc += gcMs - gc0; into.steal += stealShare(j0, j1)
      }
      (plain, withTrace)
    }

    val (plain, traced) = measure(trace)
    // end-to-end values come from the untraced passes only
    w.ledger.countOnly(plain.id.toSet)
    val passS = plain.wall.toSeq
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("pass_cpu_s", Stats.median(plain.cpu.toSeq), "s"),
      ("op_cpu_ms", w.opCpuMs, "ms"))
    val named = w.named(passS) ++ Seq(("pass_s", Stats.median(passS), "s"),
      ("op_p50_ms", w.opP50Ms, "ms"), ("heap_peak_mb", heapPeakMb, "MB"),
      ("ops_failed_frac", w.ledger.failed.toDouble / w.ledger.attempted.max(1), "fraction"))

    var layers = Map.empty[String, Double]
    var byKind = Map.empty[String, Map[String, Double]]
    var spans: Seq[Span] = Nil
    var kinds = Map.empty[Long, String]
    if (trace) {
      val exec = w.tracer.finish()
      layers = w.layers(exec, traced.size) ++ Map(
        "jvm.gc_ms" -> Stats.median(traced.gc.toSeq), "proc.cpu_s" -> Stats.median(traced.proc.toSeq),
        "trace.overhead_pct" -> 100 * (Stats.median(traced.wall.toSeq) / Stats.median(passS) - 1))
      byKind = w.kindSummary(exec)
      spans = w.tracer.spans.toSeq
      kinds = spans.iterator.map(s => s.req -> w.tracer.kindOf(s.req)).toMap
    }
    val confAfter = spark.conf.getAll
    val confChanged = (confBefore.keySet ++ confAfter.keySet).toSeq.sorted
      .filter(k => confBefore.get(k) != confAfter.get(k))
      .map(k => s"$k: ${confBefore.getOrElse(k, "<unset>")} -> ${confAfter.getOrElse(k, "<unset>")}")

    val result = Json.obj(
      "workload" -> workload, "seed" -> seed,
      "attempted" -> w.ledger.attempted, "failed" -> w.ledger.failed,
      "errors" -> w.ledger.errors.toSeq,
      "passes" -> passS.size, "traced_passes" -> traced.size,
      "pass_times_s" -> plain.wall, "pass_cpu_s" -> plain.cpu, "pass_steal_pct" -> plain.steal.map(x => math.rint(1000 * x) / 10),
      "samples" -> w.ledger.counts,
      "setup_rounds_s" -> setupTimes, "setup_steps_s" -> w.setupSteps.toMap, "session_start_s" -> sessionS,
      "metrics" -> e2e.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }.toMap,
      "named" -> named.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }.toMap,
      "layers" -> layers, "by_kind" -> byKind,
      "env" -> Json.obj("nproc" -> cores, "master" -> spark.sparkContext.master,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version, "conf_changed" -> confChanged))
    val tEnd = System.nanoTime()
    w.teardown()
    spark.stop()
    System.err.println(f"perfbench: setup ${(tSetupEnd - t0) / 1e9}%.1f s, warm-up $warmS%.1f s, " +
      f"measured ${(tEnd - tSetupEnd) / 1e9 - warmS}%.1f s, teardown ${(System.nanoTime() - tEnd) / 1e9}%.1f s")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), result.text)
    if (trace) {
      val lines = spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
        "kind" -> kinds.getOrElse(s.req, "?"), "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out + ".spans.jsonl"),
        lines.mkString("", "\n", "\n"))
    }
  }
}

/** Just enough JSON for the result file. */
object Json {
  final case class Raw(text: String) { override def toString: String = text }
  def obj(kv: (String, Any)*): Raw = Raw(render(kv.toMap))
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
  def render(v: Any): String = v match {
    case null => "null"
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
