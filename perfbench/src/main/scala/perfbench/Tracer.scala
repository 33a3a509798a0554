package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Counters the traced run reads off Spark's public listener APIs. All
  * are cumulative; the harness takes differences around an operation. */
final case class SparkTotals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runNs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    inputBytes: Long = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0,
    spillBytes: Long = 0, parsePages: Long = 0,
    parseMs: Long = 0, appendMs: Long = 0, planNs: Long = 0,
    skewWeighted: Double = 0, skewWeight: Double = 0) {
  def -(o: SparkTotals): SparkTotals = SparkTotals(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, runNs - o.runNs,
    cpuNs - o.cpuNs, gcMs - o.gcMs, inputBytes - o.inputBytes,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spillBytes - o.spillBytes, parsePages - o.parsePages,
    parseMs - o.parseMs, appendMs - o.appendMs, planNs - o.planNs,
    skewWeighted - o.skewWeighted, skewWeight - o.skewWeight)
}

/** The traced run's collector: spans recorded by the benchmark around
  * each call into a layer, task metrics from a `SparkListener` and
  * planning phases from a `QueryExecutionListener`.
  *
  * Ingest parse and landing append both run inside one `syncOnce` /
  * `syncFrom` call; their Spark jobs are told apart by call site, which
  * Spark records as the result stage's name: the page `count` in
  * Sync.scala parses, the `save` in Ingest.scala appends. */
final class Tracer(spark: SparkSession) {
  final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List(0)
  private var nextId = 1
  private val t0 = System.nanoTime()

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.head
    open = id :: open
    val start = System.nanoTime()
    try body
    finally {
      open = open.tail
      spans += Span(id, parent, name, start - t0, System.nanoTime() - t0)
    }
  }

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")

  // ── Spark listener side (listener-bus thread writes, harness reads) ──
  private var totals = SparkTotals()
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val ended = mutable.Set.empty[Int]
  private val execSite = mutable.Map.empty[Long, String]
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  @volatile private var lastEventNs = System.nanoTime()

  private def update(f: SparkTotals => SparkTotals): Unit = synchronized {
    totals = f(totals); lastEventNs = System.nanoTime()
  }

  private def isParse(site: String) = site.startsWith("count at Sync.scala")
  private def isAppend(site: String) = site.startsWith("save at Ingest.scala")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      // adaptive execution submits a query's stages from other threads,
      // so a job's own call site may not name the action; the SQL
      // execution it belongs to does (its description is the action's
      // call site while no job description is set)
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSite.get(id.toLong))
        .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      jobStart(e.jobId) = (e.time, site)
      update(t => t.copy(jobs = t.jobs + 1))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        execSite(s.executionId) = s.description
        if (isParse(s.description))
          update(t => t.copy(parsePages = t.parsePages + 1))
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      val (start, site) = jobStart.remove(e.jobId).getOrElse((e.time, ""))
      val ms = e.time - start
      update(t => t.copy(
        parseMs = t.parseMs + (if (isParse(site)) ms else 0),
        appendMs = t.appendMs + (if (isAppend(site)) ms else 0)))
      ended += e.jobId
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val times = taskTimes.remove(e.stageInfo.stageId).getOrElse(mutable.ArrayBuffer.empty)
      val sorted = times.sorted
      val (w, s) =
        if (sorted.isEmpty || sorted(sorted.size / 2) <= 0) (0.0, 0.0)
        else (sorted.sum.toDouble, sorted.last.toDouble / sorted(sorted.size / 2))
      update(t => t.copy(stages = t.stages + 1,
        skewWeighted = t.skewWeighted + w * s, skewWeight = t.skewWeight + w))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) update(t => t.copy(tasks = t.tasks + 1,
        runNs = t.runNs + m.executorRunTime * 1000000L,
        cpuNs = t.cpuNs + m.executorCpuTime,
        gcMs = t.gcMs + m.jvmGCTime,
        inputBytes = t.inputBytes + m.inputMetrics.bytesRead,
        shuffleWrite = t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spillBytes = t.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled))
      else update(t => t.copy(tasks = t.tasks + 1))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      plan(qe)
    private def plan(qe: QueryExecution): Unit = {
      val ns = qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
      update(t => t.copy(planNs = t.planNs + ns))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Waits until the listener has seen the end of every job in `jobIds`
    * and no event has arrived for a short quiet period, then returns the
    * cumulative totals. */
  def settled(jobIds: Seq[Int]): SparkTotals = {
    val deadline = System.nanoTime() + 5000000000L
    def done = synchronized(jobIds.forall(ended.contains)) &&
      System.nanoTime() - lastEventNs > 50000000L
    while (!done && System.nanoTime() < deadline) Thread.sleep(10)
    synchronized(totals)
  }
}
