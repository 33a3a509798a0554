package graft

import org.apache.spark.sql.SparkSession

/** THE engine-owned SparkSession builder. Every entry point — the
  * production CLI (`Main`) and the measurement harnesses (`Bench`,
  * `Verify`, `RunOne`, `ExplainDump`) — builds its session here, so engine
  * confs live in ONE place and a harness can never carry an engine
  * conf the production entry lacks (round-15 verdict, "what's wrong
  * #1": the codegen-cache conf lived only in Bench).
  *
  * Engine confs every session gets:
  *  - `spark.sql.extensions` — the Catalyst extensions (native
  *    kernels + plan rules) the query surface is written against and
  *    requires: this is the one place that installs them;
  *  - `spark.sql.codegen.cache.maxEntries` — Spark's Janino
  *    compiled-class cache defaults to 100 entries, which thrashes on
  *    this engine's ~1000 distinct codegen fragments; 8192 caches
  *    COMPILED CLASSES keyed on generated source (JIT warmth, never
  *    results or data). Env-overridable via GRAFT_CODEGEN_CACHE.
  *  - UTC session timezone (the corpus contract).
  */
object EngineSession {

  /** Base builder: engine confs + caller's master/appName. */
  def builder(appName: String, master: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("GRAFT_CODEGEN_CACHE", "8192"))

  /** Local-mode builder for the harnesses: `local[cpus]`
    * with shuffle width and scan-split floor sized to the core count
    * (scale-adaptive per run via $SPARK_GRAFT_CPUS — the driver benches
    * at several core counts), UI off. Production (`Main`) does NOT use
    * this: its master and shuffle width come from the deployment. */
  def local(appName: String, cpus: String): SparkSession.Builder =
    builder(appName, s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.minPartitionNum", cpus)
      .config("spark.ui.enabled", "false")
}
