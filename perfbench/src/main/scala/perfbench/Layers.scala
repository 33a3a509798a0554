package perfbench

import Main.{Cores, OpRec, median}

/** The per-layer metrics of a traced run, each per pass over the
  * workload's input: for every operation kind, the mean over its traced
  * operations, summed over kinds. Layers the workload does not touch
  * read 0. */
object Layers {

  def apply(ops: Seq[OpRec]): Seq[(String, Double, String)] = {
    val traced = ops.filter(_.traced)
    val untraced = ops.filterNot(_.traced)
    def perKind(rs: Seq[OpRec])(f: OpRec => Double): Double =
      rs.groupBy(_.kind).values.map(g => g.map(f).sum / g.size).sum
    def pass(f: OpRec => Double): Double = perKind(traced)(f)
    def log(k: String): Double = pass(_.log.layer.getOrElse(k, 0.0))
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    val mb = 1048576.0

    val parseS = pass(_.spark.parseMs / 1000.0)
    val appendS = pass(_.spark.appendMs / 1000.0)
    val opS = pass(_.seconds)
    val runS = pass(_.spark.runNs / 1e9)
    val skewW = pass(_.spark.skewWeight)

    val pipeline = Seq(
      ("pipeline.pages", pass(_.spark.parsePages.toDouble), "count"),
      ("pipeline.fetch_s", log("pipeline.fetch_s"), "s"),
      ("pipeline.driver_s",
        if (log("pipeline.sync_s") == 0) 0.0
        else log("pipeline.sync_s") - parseS - appendS, "s"))
    val lines = log("ingest.lines_in")
    val rows = log("ingest.rows_out")
    val ingest = Seq(
      ("ingest.lines_in", lines, "count"),
      ("ingest.rows_out", rows, "count"),
      ("ingest.split_rows", log("ingest.split_rows"), "count"),
      ("ingest.skipped_lines", log("ingest.skipped_lines"), "count"),
      ("ingest.parse_s", parseS, "s"),
      ("ingest.append_s", appendS, "s"),
      ("ingest.files_written", log("ingest.files_written"), "count"),
      ("ingest.bytes_written", log("ingest.bytes_written"), "B"),
      ("ingest.landing_bytes_per_input_byte",
        ratio(log("ingest.bytes_written"), log("ingest.input_bytes")), "ratio"))
    val views = Seq("latest", "all_versions", "history", "typed", "nested", "create")
      .map(v => (s"views.${v}_s", log(s"views.${v}_s"), "s")) ++ Seq(
      ("views.rows_out", log("views.rows_out"), "count"),
      ("views.registered", log("views.registered"), "count"),
      ("views.defined", log("views.defined"), "count"))
    val modules = Modules.all.flatMap { case (m, _) =>
      val mine = traced.filter(r => Modules.of(r.kind).contains(m))
      Seq((s"$m.s", perKind(mine)(_.seconds), "s"),
        (s"$m.jobs", perKind(mine)(_.spark.jobs.toDouble), "count"),
        (s"$m.plan_s", perKind(mine)(_.spark.planNs / 1e9), "s"))
    }
    val queries = Seq(
      ("queries.durable_builds", log("queries.durable_builds"), "count"),
      ("queries.durable_hits", log("queries.durable_hits"), "count"))
    val spark = Seq(
      ("spark.jobs", pass(_.spark.jobs.toDouble), "count"),
      ("spark.stages", pass(_.spark.stages.toDouble), "count"),
      ("spark.tasks", pass(_.spark.tasks.toDouble), "count"),
      ("spark.plan_s", pass(_.spark.planNs / 1e9), "s"),
      ("spark.core_busy_frac", ratio(runS, opS * Cores), "ratio"),
      ("spark.exec_run_s", runS, "s"),
      ("spark.exec_cpu_s", pass(_.spark.cpuNs / 1e9), "s"),
      ("spark.gc_s", pass(_.spark.gcMs / 1000.0), "s"),
      ("spark.input_mb", pass(_.spark.inputBytes / mb), "MB"),
      ("spark.shuffle_write_mb", pass(_.spark.shuffleWrite / mb), "MB"),
      ("spark.shuffle_read_mb", pass(_.spark.shuffleRead / mb), "MB"),
      ("spark.spill_mb", pass(_.spark.spillBytes / mb), "MB"),
      ("spark.task_skew", ratio(pass(_.spark.skewWeighted), skewW), "ratio"))
    // tracing cost and job-count agreement, over kinds run both ways
    val both = traced.map(_.kind).toSet intersect untraced.map(_.kind).toSet
    def byKind(rs: Seq[OpRec], f: Seq[OpRec] => Double): Double =
      both.toSeq.map(k => f(rs.filter(_.kind == k))).sum
    val trace = Seq(
      ("trace.overhead_s", byKind(traced, g => median(g.map(_.seconds))) -
        byKind(untraced, g => median(g.map(_.seconds))), "s"),
      ("trace.jobs_traced", byKind(traced, g => g.map(_.spark.jobs).sum.toDouble / g.size), "count"),
      ("trace.jobs_untraced", byKind(untraced, g => g.map(_.jobs).sum.toDouble / g.size), "count"))
    pipeline ++ ingest ++ views ++ modules ++ queries ++ spark ++ trace
  }
}
