package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval around a call into a layer. Times are epoch
  * nanoseconds so spans recorded here and phase times reported by Spark
  * (epoch milliseconds) share one clock. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    start: Long, end: Long)

/** A Spark job as the listener saw it; times in epoch nanoseconds. */
final case class Job(group: Option[String], start: Long, var end: Long, stages: Seq[Int])
/** One driver phase (analysis, optimization, planning) of a query. */
final case class Phase(name: String, start: Long, end: Long)

/** Executor work of one stage, or summed over a request's stages. */
final class ExecTotals {
  var stages, tasks = 0L
  var runMs, cpuNs, deserCpuNs, gcMs, waitMs = 0L
  var inRecords, inBytes, shWrite, shRead, spill = 0L
  var scanRecords, scanCpuNs = 0L
  /** Adds stage `st`'s totals as one more stage. */
  def addStage(st: ExecTotals): Unit = {
    stages += 1; tasks += st.tasks; runMs += st.runMs
    cpuNs += st.cpuNs; deserCpuNs += st.deserCpuNs; gcMs += st.gcMs; waitMs += st.waitMs
    inRecords += st.inRecords; inBytes += st.inBytes
    shWrite += st.shWrite; shRead += st.shRead; spill += st.spill
    if (st.inRecords > 0) { scanRecords += st.inRecords; scanCpuNs += st.cpuNs }
  }
}

/** The run's one SparkListener, always on: every job (its group, times and
  * stages), the job group of every stage and the executor totals of every
  * stage. The CPU metrics and the traced run's executor layer both read
  * from it. The listener only adds numbers, so untraced passes pay for
  * nothing but the events Spark posts anyway.
  *
  * Work CPU is the client thread's CPU, plus CPU that helper threads spent
  * on the client's behalf and that the client [[credit]]ed (a streaming
  * query's own thread), plus the executor and deserialisation CPU of every
  * Spark task. It grows far less than wall time when the hypervisor hands
  * the machine's CPU to other guests; JIT compiler, GC and listener
  * threads are not in it. */
final class SparkMeter(spark: SparkSession) extends SparkListener {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val groupOfStage = mutable.HashMap.empty[Int, String]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageTotals = mutable.HashMap.empty[Int, ExecTotals]
  private var total = 0L
  @volatile private var credited = 0L
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = Job(g, e.time * 1000000L, e.time * 1000000L, e.stageIds)
    g.foreach(g => e.stageIds.foreach(groupOfStage(_) = g))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = stageTotals.getOrElseUpdate(e.stageId, new ExecTotals)
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.deserCpuNs += m.executorDeserializeCpuTime
      t.gcMs += m.jvmGCTime
      stageSubmit.get(e.stageId).foreach(s => t.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      t.inRecords += m.inputMetrics.recordsRead
      t.inBytes += m.inputMetrics.bytesRead
      t.shWrite += m.shuffleWriteMetrics.bytesWritten
      t.shRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      total += m.executorCpuTime + m.executorDeserializeCpuTime
    }
  }

  /** CPU time of the calling thread alone. */
  def threadNs: Long = threads.getCurrentThreadCpuTime
  /** CPU time of the calling thread plus the credited helper-thread CPU. */
  def clientNs: Long = threadNs + credited
  /** Counts `ns` of another thread's CPU as the client's. */
  def credit(ns: Long): Unit = credited += ns
  /** Waits until every posted event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
  /** Executor CPU of every task that has ended, once their events arrived. */
  def tasksNs(): Long = { drain(); synchronized(total) }
  /** Executor CPU per job group (call [[drain]] first). */
  def groupNs(): Map[String, Long] = synchronized {
    stageTotals.toSeq.flatMap { case (s, t) => groupOfStage.get(s).map(_ -> (t.cpuNs + t.deserCpuNs)) }
      .groupMapReduce(_._1)(_._2)(_ + _)
  }
  def jobsSnapshot: Seq[Job] = synchronized(jobs.values.map(_.copy()).toSeq)
  def stage(id: Int): Option[ExecTotals] = synchronized(stageTotals.get(id))
}

/** Spans, counts and Spark-side records of the traced passes.
  *
  * While inactive every method is a pass-through: an untraced pass pays
  * for nothing but the `if`. Between [[start]] and [[stop]] spans are kept
  * in memory and a QueryExecutionListener collects driver phases;
  * [[finish]] joins them, and the jobs and stages the [[SparkMeter]]
  * recorded, to the spans. */
final class Tracer(spark: SparkSession, meter: SparkMeter) {
  private var active = false
  def enabled: Boolean = active
  private val clockOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + clockOffset

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[(Long, Long)] = Nil // (span id, req id)
  private val reqKinds = mutable.HashMap.empty[Long, String]

  /** Counts and derived values recorded at layer boundaries, per name. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def sample(name: String, v: Double): Unit =
    if (enabled) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** A root span: request `req` (its jobs run in job group
    * `perfbench-<req>`) of `kind`. */
  def request[T](kind: String, req: Long)(body: => T): T =
    if (!enabled) body
    else {
      reqKinds(req) = kind
      span(s"op.$kind", req)(body)
    }

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val (parent, r) = stack.headOption match {
        case Some((p, pr)) => (p, if (req >= 0) req else pr)
        case None => (0L, if (req >= 0) req else id)
      }
      stack = (id, r) :: stack
      val t0 = now()
      try body
      finally {
        spans += Span(id, parent, r, name, t0, now())
        stack = stack.tail
      }
    }

  def currentReq: Long = stack.headOption.map(_._2).getOrElse(-1L)

  private val phases = mutable.ArrayBuffer.empty[Phase]
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (n, p) =>
        if (n != "parsing") phases += Phase(n, p.startTimeMs * 1000000L, p.endTimeMs * 1000000L)
      }
    }
  }

  def start(): Unit = {
    spark.listenerManager.register(qeListener)
    active = true
  }

  /** Stops recording once every event of the traced work has arrived. */
  def stop(): Unit = {
    active = false
    meter.drain()
    spark.listenerManager.unregister(qeListener)
  }

  /** Turns Spark's records into child spans of the traced requests they
    * ran in: driver phases (by time, under the innermost span that
    * contains them) and jobs (by job group, else by time; a job outside
    * every traced request is dropped). Returns executor totals per
    * traced request id. */
  def finish(): Map[Long, ExecTotals] = {
    val byReq = mutable.HashMap.empty[Long, ExecTotals]
    val roots = spans.filter(_.parent == 0L)
    def rootAt(t0: Long, t1: Long): Option[Span] =
      roots.find(s => s.start <= t0 + 1000000L && t1 <= s.end + 1000000L)
    def innermost(t0: Long, t1: Long): Option[Span] = {
      val c = spans.filter(s => s.start <= t0 + 1000000L && t1 <= s.end + 1000000L)
      if (c.isEmpty) None else Some(c.minBy(s => s.end - s.start))
    }
    val extra = mutable.ArrayBuffer.empty[Span]
    synchronized {
      phases.foreach { p =>
        innermost(p.start, p.end).foreach { s =>
          extra += Span(nextId, s.id, s.req, s"driver.${p.name}", p.start, p.end); nextId += 1
        }
      }
    }
    meter.jobsSnapshot.foreach { j =>
      val req = j.group.filter(_.startsWith("perfbench-")).map(_.stripPrefix("perfbench-").toLong)
        .orElse(rootAt(j.start, j.end).map(_.req))
        .filter(reqKinds.contains)
      req.foreach { r =>
        val parent = innermost(j.start, j.end).filter(_.req == r)
          .orElse(roots.find(_.req == r))
        parent.foreach { ps =>
          extra += Span(nextId, ps.id, r, "exec.job", j.start, j.end); nextId += 1
        }
        val tot = byReq.getOrElseUpdate(r, new ExecTotals)
        j.stages.flatMap(meter.stage).foreach(tot.addStage)
      }
    }
    spans ++= extra
    byReq.toMap
  }

  def kindOf(req: Long): String = reqKinds.getOrElse(req, "?")
  def kinds: Seq[String] = reqKinds.values.toSeq.distinct.sorted
  def requests(kind: String): Seq[Long] = reqKinds.iterator.collect { case (r, `kind`) => r }.toSeq.sorted

  /** Job wall time inside request `req`, from the exec.job spans that
    * [[finish]] attached (union of intervals, so overlapping jobs count
    * once). */
  def jobWallNs(req: Long): Long =
    Tracer.unionNs(spans.iterator.filter(s => s.req == req && s.name == "exec.job")
      .map(s => (s.start, s.end)).toSeq)

  /** Sum of driver-phase durations of `name` inside request `req`. */
  def phaseMs(req: Long, name: String): Double =
    spans.iterator.filter(s => s.req == req && s.name == s"driver.$name")
      .map(s => (s.end - s.start) / 1e6).sum

  def spanMs(req: Long, name: String): Double =
    spans.iterator.filter(s => s.req == req && s.name == name)
      .map(s => (s.end - s.start) / 1e6).sum
}

object Tracer {
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
