package graft.pipeline

import graft.ingest.Ingest
import graft.model.RootSchema
import graft.queries.Shared
import graft.views.Views
import org.apache.spark.sql.{Dataset, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import scala.util.Using

/** S4 — cursor persisted as `{stateDir}/last_sync_date.txt`; missing file
  * or force ⇒ full sync from epoch (cmd_sync.go:85-90, 189-206). A write
  * goes to `last_sync_date.txt.tmp` and is renamed over the cursor, so a
  * crash mid-write leaves the previous cursor (or none), never a
  * truncated one; a leftover `.tmp` is ignored and overwritten. */
final class SyncState(stateDir: String) {
  private val file = Paths.get(stateDir, "last_sync_date.txt")
  private val tmp = Paths.get(stateDir, "last_sync_date.txt.tmp")
  val Epoch = "1900-01-01"
  def read(force: Boolean = false): String =
    if (force || !Files.exists(file)) Epoch
    else Files.readString(file).trim
  def write(cursor: String): Unit = {
    Files.createDirectories(file.getParent)
    Files.writeString(tmp, cursor)
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE)
  }
  def reset(): Unit = Files.deleteIfExists(file)
}

/** Incremental sync orchestration (SURVEY.md §2.6, §3.1/§3.3).
  *
  * The reference polls an HTTP API with a server-issued high-water-mark
  * cursor persisted after every page (cmd_sync.go:77-187). In the
  * zero-egress build the document source is a directory of NDJSON files;
  * the cursor is a lexicographic filename watermark with identical
  * at-least-once semantics: the cursor advances only after a page's
  * batch is durably appended, and replays are absorbed by the
  * latest-version views (Views.latestAllVersions).
  */
final class SyncPipeline(
    spark: SparkSession,
    sourceDir: String,
    landingPath: String,
    stateDir: String,
    chunkSize: Int = 10000,
    pageFiles: Int = 10) {

  val state = new SyncState(stateDir)

  /** One sync run over the file source: NDJSON files in `sourceDir`,
    * ordered by name, `pageFiles` per page; the cursor is an exclusive
    * filename watermark. Each page is read by the executors
    * (`spark.read.textFile`), so file lines never pass through the
    * driver. Returns documents landed. */
  def syncOnce(force: Boolean = false): Long = sync(force) { since =>
    // Using closes the directory stream — the sync loop runs forever, so
    // an unclosed Files.list leaks a directory handle per poll
    val all = Using.resource(Files.list(Paths.get(sourceDir))) { st =>
      st.iterator.asScala
        .map(_.getFileName.toString)
        .filter(n => n.endsWith(".ndjson") && n > since)
        .toVector
    }.sorted
    val page = all.take(pageFiles)
    (Option.when(page.nonEmpty)(
        spark.read.textFile(page.map(n => Paths.get(sourceDir, n).toString): _*)),
      page.lastOption.getOrElse(since), all.size > pageFiles)
  }

  /** One sync run against any paged source (e.g. HttpDocumentSource):
    * the same loop as the file flow, with the page's NDJSON lines
    * parallelized for the distributed parse. */
  def syncFrom(source: PagedSource, force: Boolean = false): Long =
    sync(force) { since =>
      import spark.implicits._
      val page = source.fetchPage(since)
      (Option.when(page.lines.nonEmpty)(
          spark.createDataset(page.lines)
            .repartition(spark.sparkContext.defaultParallelism)),
        page.cursor, page.truncated)
    }

  /** The sync loop (O2): fetch a page — (its lines, None when empty;
    * the cursor to persist after landing it; whether more pages
    * remain) — parse it, append its batch, persist the cursor. */
  private def sync(force: Boolean)(
      fetch: String => (Option[Dataset[String]], String, Boolean)): Long = {
    var cursor = state.read(force)
    var total = 0L
    var more = true
    val batchDate = new Timestamp(System.currentTimeMillis())
    while (more) {
      val (lines, next, truncated) = fetch(cursor)
      lines.foreach { ds =>
        // persist: count + append would otherwise each re-run the full
        // NDJSON parse + chunk split. Dedup-on-write = the landing PK
        // (K3 semantics): a document delivered twice within this page
        // lands once.
        val df = Ingest.fromNdjsonLines(ds, batchDate, chunkSize).persist()
        try {
          val n = df.count()
          if (n > 0) Ingest.appendBatchDedup(df, landingPath)
          total += n
        } finally df.unpersist()
      }
      cursor = next
      state.write(cursor)
      more = truncated && lines.nonEmpty
    }
    total
  }

  /** create_views (§3.2): register the R1/R2 + typed view catalog over
    * the current landing store.
    *
    * `_LATEST` is computed once and persisted (MEMORY_AND_DISK), and
    * `DOCUMENTS_LATEST` and every typed, record and list view read that
    * one frame, so the landing scan and the `_LATEST` exchange are paid
    * once per catalog, not once per view. The persist is lazy: this
    * call only registers names, and the first view read materializes
    * it. There is one materialization per landing path per session
    * (keyed in `Shared`, whichever pipeline made it). It is dropped by
    * the next `createViews` on the path, by any append to it (before
    * the write) and by `prune()`/`compact()`, so the catalog stays a
    * snapshot as of this call: an append leaves the registered views
    * on their old file listing until the next `createViews`.
    * `_LATEST_ALL_VERSIONS` and `_HISTORY` do not read `_LATEST` and
    * stay unmaterialized.
    *
    * Storage: one executor-side copy of |latest| per refresh, spilled
    * to disk past executor memory — at 100 TB that is the live
    * document set, not the version history. */
  def createViews(schema: RootSchema): Seq[String] = {
    val landing = spark.read.schema(graft.ingest.Landing.schema)
      .parquet(landingPath)
    // the old materialization must go before the new persist: plans over
    // one path compare equal whatever their file listing, so persisting
    // while it is cached would silently reuse the old cache
    Shared.invalidate(landingPath)
    val latest = Shared.shared(spark, landingPath, "DOCUMENTS_LATEST")(
      Views.latest(landing))
    latest.createOrReplaceTempView("DOCUMENTS_LATEST")
    Views.latestAllVersions(landing)
      .createOrReplaceTempView("DOCUMENTS_LATEST_ALL_VERSIONS")
    // the SCD2 companion of _LATEST_ALL_VERSIONS: same rows, annotated
    // with validity intervals — registered so point-in-time SQL can
    // BETWEEN-join it without touching the Scala API
    Views.history(landing)
      .createOrReplaceTempView("DOCUMENTS_HISTORY")
    Seq("DOCUMENTS_LATEST", "DOCUMENTS_LATEST_ALL_VERSIONS",
      "DOCUMENTS_HISTORY") ++
      Views.registerAll(latest, schema)
  }

  /** create_views --persistent-db DB: the same catalog as SQL-text
    * `CREATE OR REPLACE VIEW` DDL in `spark_catalog`, surviving the
    * session — the reference's durability contract (its views are
    * warehouse DDL, snowflake.go:362). */
  def createViewsPersistent(schema: RootSchema, db: String): Seq[String] =
    Views.registerAllPersistent(spark, landingPath, schema, db)

  /** clone (§3.3): forced full sync + views; `source` switches to a
    * paged (e.g. HTTP) source, file source otherwise. */
  def clone(schema: RootSchema, source: Option[PagedSource] = None): Long = {
    val n = source match {
      case Some(src) => syncFrom(src, force = true)
      case None      => syncOnce(force = true)
    }
    createViews(schema)
    n
  }

  /** R4 prune: compact the landing store to only the rows that are the
    * latest batch_date for their (type,id,version,chunk). Rewrites to a
    * staging dir then swaps, since Parquet has no DELETE. */
  def prune(): Unit = {
    val landing = spark.read.schema(graft.ingest.Landing.schema)
      .parquet(landingPath)
    val staging = landingPath.stripSuffix("/") + ".pruned"
    Views.prune(landing).write.mode("overwrite")
      .partitionBy("type").parquet(staging)
    val target = Paths.get(landingPath)
    deleteRecursive(target)
    Files.move(Paths.get(staging), target)
    invalidateCaches()
  }

  /** Compaction: rewrite the landing store into ~`targetFileMB`-sized
    * files per type partition (small-file mitigation for the append-only
    * store — the OPTIMIZE analogue; at cluster scale run per partition
    * on a schedule). Preserves all rows; combine with prune() for
    * physical dedup. */
  def compact(targetFileMB: Int = 128): Unit = {
    val landing = spark.read.schema(graft.ingest.Landing.schema)
      .parquet(landingPath)
    val bytes = Using.resource(Files.walk(Paths.get(landingPath))) { st =>
      st.iterator.asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(Files.size).sum
    }
    val nFiles = math.max(1, (bytes / (targetFileMB.toLong << 20)).toInt)
    val staging = landingPath.stripSuffix("/") + ".compacted"
    landing.repartition(nFiles).write.mode("overwrite")
      .partitionBy("type").parquet(staging)
    val target = Paths.get(landingPath)
    deleteRecursive(target)
    Files.move(Paths.get(staging), target)
    invalidateCaches()
  }

  // prune/compact replace the files under landingPath outside Spark's
  // writer; any memoized reader plan, or cached plan (the materialized
  // _LATEST included), pins the OLD file listing and would fail (or
  // silently serve stale rows) on next use
  private def invalidateCaches(): Unit = {
    graft.queries.Tables.invalidate(landingPath)
    Shared.invalidate(landingPath)
    spark.catalog.refreshByPath(landingPath)
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      Using.resource(Files.walk(p)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator.asScala.foreach(Files.delete)
      }
    }
}
