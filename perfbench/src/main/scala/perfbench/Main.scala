package perfbench

import graft.EngineSession
import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Benchmark driver: one workload, one process, `local[4]`, one client.
  *
  *   perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *     --run-dir DIR [--trace-out FILE]
  *
  * Set-up is the session start plus the workload's warm-up, with all
  * scratch directories under DIR (input generation is reported on
  * stderr and not counted). Operations are then measured back to back
  * for S seconds, ending on a pass boundary (at least one pass). The last
  * stdout line is the result JSON: with `--trace 0` the end-to-end
  * metrics; with `--trace 1` the per-layer metrics, taken from every
  * other pass (the second, fourth, ...) with Spark listeners attached
  * and spans recorded, the passes between being untraced so that
  * tracing overhead and the job counts of both can be compared. */
object Main {
  val Cores = 4

  final case class OpRec(kind: String, seconds: Double, traced: Boolean,
      log: OpLog, spark: SparkTotals, jobs: Int)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val runDir = Paths.get(opt("run-dir")).toAbsolutePath

    val tGen = System.nanoTime()
    val workload: Workload = name match {
      case "elt_clone" => new EltClone(seed, runDir.resolve("input"), perType = 2000)
      case "elt_incremental" =>
        new EltIncremental(seed, basePerType = 2000, deltaDocs = 1000)
      case "query_surface" => new QuerySurface(seed, runDir.resolve("tables"))
      case other =>
        System.err.println(s"perfbench: unknown workload $other"); sys.exit(2)
    }
    System.err.println(f"perfbench: inputs generated in ${(System.nanoTime() - tGen) / 1e9}%.2f s")

    // set-up: session start plus the warm-up through the program, once;
    // a second set-up in the same process would start with a warm JVM
    // and cost a run more time than its measurement
    val t0 = System.nanoTime()
    val spark = session(runDir.resolve("session"))
    val ctx = new Ctx(spark, runDir.resolve("session"))
    val tPrep = System.nanoTime()
    workload.prepare(spark)
    val prep = System.nanoTime() - tPrep
    System.err.println(f"perfbench: inputs prepared in ${prep / 1e9}%.2f s")
    try workload.warmUp(ctx)
    catch { case e: Exception => ctx.log.fail(s"set-up: $e") }
    val setupS = (System.nanoTime() - t0 - prep) / 1e9
    val setupLog = ctx.log

    val sc = spark.sparkContext
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ops = mutable.ArrayBuffer.empty[OpRec]
    var cachePeak = storageBytes(spark)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // runs end on a pass boundary, so every run times the same queries;
    // a traced run holds a traced pass between two untraced ones, so
    // that warm-up does not favour either side of the overhead
    val minOps = workload.opsPerPass * (if (trace) 3 else 1)
    def more = ops.size < minOps || ops.size % workload.opsPerPass != 0 ||
      System.nanoTime() < deadline
    while (more) {
      val i = ops.size
      val traced = tracer.isDefined && (i / workload.opsPerPass) % 2 == 1
      val group = s"op-$i"
      // no job description, so SQL executions are described by call site
      sc.setJobGroup(group, null, interruptOnCancel = false)
      if (traced) tracer.get.attach()
      val before = tracer.map(_.settled(Nil)).getOrElse(SparkTotals())
      ctx.log = new OpLog
      ctx.tracer = if (traced) tracer else None
      val dt =
        try workload.op(ctx, i)
        catch { case e: Exception => ctx.log.fail(s"operation $i: $e"); Double.NaN }
      sc.clearJobGroup()
      // let listener queues drain before reading job counts
      tracer.foreach(_.settled(Nil))
      val jobIds = sc.statusTracker.getJobIdsForGroup(group).toSeq
      val after = if (traced) tracer.get.settled(jobIds) else SparkTotals()
      if (traced) tracer.get.detach()
      cachePeak = math.max(cachePeak, storageBytes(spark))
      ops += OpRec(workload.kind(i), dt, traced, ctx.log,
        if (traced) after - before else SparkTotals(), jobIds.size)
    }
    workload.close()
    System.err.println(f"perfbench: ${ops.size} operations, latency s: " +
      ops.map(o => f"${o.kind}=${o.seconds}%.3f").mkString(" ") +
      f"; set-up $setupS%.2f s")

    val allLogs = setupLog +: ops.map(_.log)
    val failed = allLogs.count(_.failures > 0)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd(setupS, ops.toSeq, workload.opsPerPass)
      else {
        opt.get("trace-out").foreach { f =>
          Files.createDirectories(Paths.get(f).toAbsolutePath.getParent)
          Files.write(Paths.get(f), tracer.get.spansJson.getBytes(StandardCharsets.UTF_8))
        }
        Layers(ops.toSeq) :+ ("spark.cache_peak_mb", cachePeak / 1048576.0, "MB")
      }
    spark.stop()
    val ms = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${json(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": ${allLogs.size}, """ +
      s""""failed": $failed, "metrics": $ms}""")
  }

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  /** A fresh session whose warehouse, scratch and temp directories all
    * live under `dir`, so no run reads state another left behind. */
  def session(dir: Path): SparkSession = {
    val tmp = Files.createDirectories(dir.resolve("tmp"))
    // engine stores (bucketed tables, persistent-view landings, durable
    // tiers without an index root) go under java.io.tmpdir
    System.setProperty("java.io.tmpdir", tmp.toString)
    val s = EngineSession.local("perfbench", Cores.toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", dir.resolve("local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", dir.resolve("hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Block-manager storage in use: cached blocks and broadcasts,
    * sampled between operations. */
  def storageBytes(s: SparkSession): Long =
    s.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  def endToEnd(setup: Double, ops: Seq[OpRec],
      perPass: Int): Seq[(String, Double, String)] = {
    val lat = ops.map(_.seconds)
    Seq(
      ("setup_s", setup, "s"),
      ("op_p50_s", median(lat), "s"),
      ("pass_s", median(lat.grouped(perPass).map(_.sum).toSeq), "s"))
  }
}
