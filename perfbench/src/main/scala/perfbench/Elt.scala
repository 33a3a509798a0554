package perfbench

import graft.pipeline.{HttpDocumentSource, SyncPipeline}
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Pieces both ELT workloads share: view materialization with checks,
  * and landing-store accounting. */
object Elt {

  /** Per-layer span a view's materialization is charged to. */
  def viewLayer(name: String): String = name match {
    case "DOCUMENTS_LATEST" => "views.latest"
    case "DOCUMENTS_LATEST_ALL_VERSIONS" => "views.all_versions"
    case "DOCUMENTS_HISTORY" => "views.history"
    case "ORDER" | "USER" | "DOC" => "views.typed"
    case _ => "views.nested"
  }

  /** What the ledger says the views should hold, taken before the
    * timed section. */
  final case class Expected(rows: Map[String, Long], tombstones: Long,
      splitRows: Long)
  def expected(l: EltData.Ledger): Expected =
    Expected(l.expectedRows, l.tombstones, l.splitRows)

  /** Re-registers the catalog over the landing store and materializes
    * `views`, reading every column. Returns, per view, its row count and
    * the extra sums taken for `DOCUMENTS_LATEST` (visible tombstones,
    * split-chunk rows). */
  def refresh(ctx: Ctx, p: SyncPipeline,
      views: Seq[String]): (Set[String], Seq[(String, Long, Seq[Long])]) = {
    val registered = ctx.span("views.create")(p.createViews(EltData.schema)).toSet
    (registered, views.filter(registered).map { v =>
      val df = ctx.spark.table(v)
      val (rows, _, extra) = ctx.span(viewLayer(v)) {
        if (v == "DOCUMENTS_LATEST")
          Materialize(df, (col("deleted") && col("chunk") === 0).cast("int"),
            (col("chunk") > 0).cast("int"))
        else Materialize(df)
      }
      (v, rows, extra)
    })
  }

  /** Checks a refresh against the ledger, counting each catalog view
    * that `createViews` did not register as a failed check. */
  def checkViews(log: OpLog, want: Expected,
      got: (Set[String], Seq[(String, Long, Seq[Long])])): Unit = {
    val (registered, views) = got
    log.add("views.registered", registered.size)
    log.add("views.defined", EltData.definedViews.size)
    EltData.definedViews.filterNot(registered).foreach(v =>
      log.fail(s"view $v was not registered"))
    views.foreach { case (v, rows, extra) =>
      log.check(s"$v rows", rows, want.rows(v))
      log.add("views.rows_out", rows)
      if (v == "DOCUMENTS_LATEST") {
        log.check("visible tombstones", extra(0), want.tombstones)
        log.check("split-chunk rows", extra(1), want.splitRows)
      }
    }
  }

  /** (files, bytes) of the landing store's parquet files. */
  def landingSize(landing: Path): (Long, Long) =
    if (!Files.exists(landing)) (0L, 0L)
    else Using.resource(Files.walk(landing)) { st =>
      val files = st.iterator.asScala
        .filter(f => f.toString.endsWith(".parquet")).map(Files.size).toVector
      (files.size.toLong, files.sum)
    }

  /** Checks a sync call's result and adds its ingest counters, given
    * the landing store's size before the call. */
  def checkSync(log: OpLog, landing: Path, before: (Long, Long),
      batch: EltData.Batch, landed: Long): Unit = {
    val (f1, b1) = landingSize(landing)
    log.check("documents landed", landed, batch.parsedRows)
    log.add("ingest.lines_in", batch.lines.size)
    log.add("ingest.rows_out", landed)
    // each valid line lands one main chunk; the rest are split chunks
    log.add("ingest.split_rows", landed - batch.valid)
    log.add("ingest.skipped_lines", batch.lines.size - batch.valid)
    log.add("ingest.files_written", f1 - before._1)
    log.add("ingest.bytes_written", b1 - before._2)
    log.add("ingest.input_bytes", batch.bytes)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Using.resource(Files.walk(p)) { st =>
      st.iterator.asScala.toVector.reverse.foreach(Files.delete)
    }
}

/** `elt_clone`: a forced full sync of a seeded corpus from NDJSON files
  * (`SyncPipeline.syncOnce(force = true)`) into an empty landing store,
  * then `createViews` and materialization of every registered view. */
final class EltClone(seed: Long, input: Path, perType: Int) extends Workload {
  private val ledger = new EltData.Ledger(seed)
  private val corpus = ledger.corpus(perType)
  EltData.writeFiles(input, corpus.lines, files = 20)

  def warmUp(ctx: Ctx): Unit = op(ctx, -1)

  def op(ctx: Ctx, i: Int): Double = {
    val landing = ctx.dir.resolve("landing")
    val state = ctx.dir.resolve("state")
    val p = new SyncPipeline(ctx.spark, input.toString, landing.toString,
      state.toString, chunkSize = EltData.ChunkSize)
    val want = Elt.expected(ledger)
    try {
      val t0 = System.nanoTime()
      val landed = ctx.span("pipeline.sync")(p.syncOnce(force = true))
      val views = Elt.refresh(ctx, p, EltData.definedViews)
      val dt = (System.nanoTime() - t0) / 1e9
      Elt.checkSync(ctx.log, landing, (0L, 0L), corpus, landed)
      Elt.checkViews(ctx.log, want, views)
      dt
    } finally {
      Elt.deleteTree(landing); Elt.deleteTree(state)
    }
  }
}

/** `elt_incremental`: a closed loop with one client over a landed base.
  * Each cycle publishes one seeded delta on the loopback Execute stub,
  * lands it with `syncFrom(HttpDocumentSource)` and refreshes
  * `DOCUMENTS_LATEST` and the ORDER, ORDER_LINES and USER_EVENTS views.
  * A cycle's latency runs from the delta becoming available to the
  * refreshed views being read. */
final class EltIncremental(seed: Long, basePerType: Int, deltaDocs: Int)
    extends Workload {
  private val ledger = new EltData.Ledger(seed)
  private val base = ledger.corpus(basePerType)
  private val baseRows = ledger.expectedRows
  private val refreshed =
    Seq("DOCUMENTS_LATEST", "ORDER", "ORDER_LINES", "USER_EVENTS")
  /** Delta pages: a cycle's delta arrives in one page. */
  private val PageLimit = 2 * deltaDocs

  private var stub: ExecuteStub = _
  private var source: HttpDocumentSource = _
  private var pipeline: SyncPipeline = _
  private var landing: Path = _

  /** Lands the base through the stub into a fresh store, reads the
    * refreshed views once and runs one cycle: the first cycles of a
    * process run measurably slower while the JIT settles. */
  def warmUp(ctx: Ctx): Unit = {
    stub = new ExecuteStub
    stub.publish(base.lines)
    source = new HttpDocumentSource(stub.url, "bench", "bench", limit = PageLimit)
    landing = ctx.dir.resolve("landing")
    pipeline = new SyncPipeline(ctx.spark, "", landing.toString,
      ctx.dir.resolve("state").toString, chunkSize = EltData.ChunkSize)
    // the base arrives as one page, as a bulk load would
    val landed = pipeline.syncFrom(new HttpDocumentSource(stub.url, "bench",
      "bench", limit = base.lines.size), force = true)
    Elt.checkSync(ctx.log, landing, (0L, 0L), base, landed)
    require(ledger.expectedRows == baseRows, "warm-up must not consume deltas")
    Elt.checkViews(ctx.log, Elt.expected(ledger), Elt.refresh(ctx, pipeline, refreshed))
    op(ctx, -1)
  }

  def op(ctx: Ctx, i: Int): Double = {
    val delta = ledger.batch(deltaDocs, update = 0.55, delete = 0.05,
      replay = 0.10, malformedShare = 0.01)
    val want = Elt.expected(ledger)
    val before = Elt.landingSize(landing)
    val fetch0 = stub.fetchSeconds
    stub.publish(delta.lines)
    val t0 = System.nanoTime()
    val landed = ctx.span("pipeline.sync")(pipeline.syncFrom(source))
    val views = Elt.refresh(ctx, pipeline, refreshed)
    val dt = (System.nanoTime() - t0) / 1e9
    Elt.checkSync(ctx.log, landing, before, delta, landed)
    Elt.checkViews(ctx.log, want, views)
    ctx.log.add("pipeline.fetch_s", stub.fetchSeconds - fetch0)
    dt
  }

  override def close(): Unit = if (stub != null) { stub.stop(); stub = null }
}
