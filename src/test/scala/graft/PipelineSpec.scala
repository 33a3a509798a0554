package graft

import graft.pipeline.{SyncPipeline, SyncState}
import graft.views.Views
import java.nio.file.{Files, Paths}

class PipelineSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft-$name")
    d.toString
  }

  private def writeNdjson(dir: String, file: String, lines: String*): Unit =
    Files.writeString(Paths.get(dir, file), lines.mkString("\n"))

  test("cursor: missing file ⇒ epoch; force resets (S4/O3)") {
    val st = new SyncState(tmp("state"))
    assert(st.read() == "1900-01-01")
    st.write("f002.ndjson")
    assert(st.read() == "f002.ndjson")
    assert(st.read(force = true) == "1900-01-01")
  }

  test("cursor write is atomic: a leftover .tmp neither breaks read nor survives write") {
    val dir = tmp("state-tmp"); val st = new SyncState(dir)
    val leftover = Paths.get(dir, "last_sync_date.txt.tmp")
    // a crash mid-write before any cursor exists: still a full sync
    Files.writeString(leftover, "f0")
    assert(st.read() == "1900-01-01")
    st.write("f001.ndjson")
    assert(!Files.exists(leftover))
    // a crash mid-write after a cursor exists: the old cursor stands
    Files.writeString(leftover, "f00")
    assert(st.read() == "f001.ndjson")
    st.write("f002.ndjson")
    assert(st.read() == "f002.ndjson")
    assert(!Files.exists(leftover))
  }

  test("sync pages through files, persists cursor per page, lands all docs (O1/O2)") {
    val src = tmp("src"); val land = tmp("land") + "/landing"; val state = tmp("st")
    writeNdjson(src, "f001.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"N":"a1"}""",
      """{"$TYPE":"W","DOCUMENT_ID":"b","$VERSION":1,"N":"b1"}""")
    writeNdjson(src, "f002.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":2,"N":"a2"}""")
    val p = new SyncPipeline(spark, src, land, state, pageFiles = 1)
    assert(p.syncOnce() == 3L)
    assert(p.state.read() == "f002.ndjson")
    // incremental: nothing new ⇒ no-op
    assert(p.syncOnce() == 0L)
    // new file arrives ⇒ only it is synced
    writeNdjson(src, "f003.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"c","$VERSION":1,"N":"c1"}""")
    assert(p.syncOnce() == 1L)
    val landing = spark.read.schema(graft.ingest.Landing.schema).parquet(land)
    assert(landing.count() == 4)
    assert(Views.latest(landing).count() == 3) // a@2, b@1, c@1
  }

  test("clone lands everything and registers the full catalog, SQL-queryable (3.3)") {
    val src = tmp("src"); val land = tmp("land") + "/landing"; val state = tmp("st")
    writeNdjson(src, "f001.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"$DATE":"2026-01-01T00:00:00Z","N":"a1"}""",
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":2,"$DATE":"2026-01-02T00:00:00Z","N":"a2"}""",
      """{"$TYPE":"W","DOCUMENT_ID":"b","$VERSION":1,"$DATE":"2026-01-01T00:00:00Z","N":"b1"}""")
    val schema = graft.model.SchemaCodec.parse(
      """{"W": {"N": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true}}}""")
    val p = new SyncPipeline(spark, src, land, state)
    assert(p.clone(schema) == 3L)
    // store-level views: latest, all-versions, and the SCD2 history
    assert(spark.sql("SELECT count(*) FROM DOCUMENTS_LATEST").head.getLong(0) == 2L)
    assert(spark.sql(
      "SELECT count(*) FROM DOCUMENTS_LATEST_ALL_VERSIONS").head.getLong(0) == 3L)
    // point-in-time SQL over the registered history: at Jan 1 noon,
    // a@1 is current (superseded Jan 2) and b@1 is open-ended
    val pit = spark.sql(
      """SELECT id, version FROM DOCUMENTS_HISTORY
        |WHERE chunk = 0 AND valid_from <= timestamp'2026-01-01 12:00:00'
        |  AND (valid_to IS NULL OR valid_to > timestamp'2026-01-01 12:00:00')
        |ORDER BY id""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(pit.toSeq == Seq(("a", 1L), ("b", 1L)))
    // typed catalog registered too: the W view projects the latest N
    val w = spark.sql("SELECT DOCUMENT_ID, N FROM W ORDER BY DOCUMENT_ID")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(w.toSeq == Seq(("a", "a2"), ("b", "b1")))
  }

  test("replayed sync (force) is absorbed by the latest view; prune compacts") {
    val src = tmp("src2"); val land = tmp("land2") + "/landing"; val state = tmp("st2")
    writeNdjson(src, "f001.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"N":"a1"}""")
    val p = new SyncPipeline(spark, src, land, state)
    p.syncOnce()
    Thread.sleep(5) // distinct batch_date for the replay
    p.syncOnce(force = true) // full re-sync: same doc lands twice
    val landing = spark.read.schema(graft.ingest.Landing.schema).parquet(land)
    assert(landing.count() == 2)
    assert(Views.latest(landing).count() == 1)
    p.prune()
    val pruned = spark.read.schema(graft.ingest.Landing.schema).parquet(land)
    assert(pruned.count() == 1) // only the newest batch copy remains
  }

  test("compact rewrites the store without losing rows") {
    val src = tmp("src3"); val land = tmp("land3") + "/landing"; val state = tmp("st3")
    writeNdjson(src, "f001.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"N":"a1"}""",
      """{"$TYPE":"X","DOCUMENT_ID":"b","$VERSION":1,"N":"b1"}""")
    val p = new SyncPipeline(spark, src, land, state)
    p.syncOnce()
    writeNdjson(src, "f002.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"c","$VERSION":1,"N":"c1"}""")
    p.syncOnce() // second append ⇒ more small files
    p.compact(targetFileMB = 128)
    val after = spark.read.schema(graft.ingest.Landing.schema).parquet(land)
    assert(after.count() == 3)
    assert(after.select("type").distinct().count() == 2)
  }

  test("in-session rewrite invalidates memoized table and stage caches") {
    import graft.queries.{Shared, Tables}
    val src = tmp("src4"); val base = tmp("land4")
    val land = base + "/landing.parquet"; val state = tmp("st4")
    writeNdjson(src, "f001.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"N":"a1"}""")
    val p = new SyncPipeline(spark, src, land, state)
    p.syncOnce()
    // memoize both tiers over the landing table
    assert(Tables.t(spark, base, "landing").count() == 1)
    assert(Shared.shared(spark, base, "spec_stale") {
      Tables.t(spark, base, "landing")
    }.count() == 1)
    // a new page appends through Ingest.appendBatch, which must evict
    // both tiers: the next reads re-list the directory
    writeNdjson(src, "f002.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"b","$VERSION":1,"N":"b1"}""")
    p.syncOnce()
    assert(Tables.t(spark, base, "landing").count() == 2)
    assert(Shared.shared(spark, base, "spec_stale") {
      Tables.t(spark, base, "landing")
    }.count() == 2)
    // prune swaps the files in place; a pinned listing would now point
    // at deleted files — the re-resolved read sees the compacted store
    Thread.sleep(5)
    p.syncOnce(force = true) // replay: 4 physical rows
    p.prune()
    assert(Tables.t(spark, base, "landing").count() == 2)
  }

  // ─── the materialized _LATEST behind the view catalog ───

  private val listSchema = graft.model.SchemaCodec.parse(
    """{"W": {
      |  "N": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true},
      |  "L": {"ACTIVE": true, "TYPE": "RECORD LIST", "NULLABLE": true,
      |    "RECORD_TYPE": {"X": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true}}}
      |}}""".stripMargin)

  private def wDoc(id: String, v: Int, n: String): String =
    s"""{"$$TYPE":"W","DOCUMENT_ID":"$id","$$VERSION":$v,"N":"$n",""" +
      s""""L":[{"LISTITEM_ID":"${id}1","X":"${n}x"}]}"""

  private def rows(view: String): Seq[String] =
    spark.table(view).collect().map(_.toString).toSeq.sorted

  private def persistedRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("createViews materializes _LATEST once: typed and list views scan it, not parquet") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    object Plans extends AdaptiveSparkPlanHelper
    val src = tmp("src5"); val land = tmp("land5") + "/landing"; val state = tmp("st5")
    writeNdjson(src, "f001.ndjson", wDoc("a", 1, "a1"), wDoc("a", 2, "a2"),
      wDoc("b", 1, "b1"))
    val p = new SyncPipeline(spark, src, land, state)
    assert(p.clone(listSchema) == 3L)
    assert(spark.table("DOCUMENTS_LATEST").storageLevel ==
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assert(spark.table("DOCUMENTS_LATEST").count() == 2L)
    Seq("W", "W_L").foreach { v =>
      val df = spark.table(v)
      assert(df.count() == 2L, v)
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(Plans.collect(plan) { case s: InMemoryTableScanExec => s }.nonEmpty,
        s"$v does not read the materialized _LATEST:\n$plan")
      assert(Plans.collect(plan) { case s: FileSourceScanExec => s }.isEmpty,
        s"$v rescans the landing parquet:\n$plan")
    }
    assert(rows("W_L") == Seq("[a,a1,a2x]", "[b,b1,b1x]"))
  }

  test("createViews is lazy and keeps one materialization per landing path") {
    val src = tmp("src6"); val land = tmp("land6") + "/landing"; val state = tmp("st6")
    writeNdjson(src, "f001.ndjson", wDoc("a", 1, "a1"), wDoc("b", 1, "b1"))
    val p1 = new SyncPipeline(spark, src, land, state)
    val p2 = new SyncPipeline(spark, src, land + "/", state)
    p1.syncOnce()
    val before = persistedRdds
    p1.createViews(listSchema)
    // registering names runs no job: nothing is cached until a read
    assert(persistedRdds == before)
    Seq(p1, p1, p2).zipWithIndex.foreach { case (p, i) =>
      if (i > 0) p.createViews(listSchema)
      assert(spark.table("DOCUMENTS_LATEST").count() == 2L)
      assert(spark.table("W").count() == 2L)
      assert((persistedRdds -- before).size == 1,
        s"createViews #${i + 1} left ${(persistedRdds -- before).size} materializations")
    }
  }

  test("createViews is a snapshot: a sync drops the materialization, the next createViews sees it") {
    val src = tmp("src7"); val land = tmp("land7") + "/landing"; val state = tmp("st7")
    writeNdjson(src, "f001.ndjson", wDoc("a", 1, "a1"), wDoc("b", 1, "b1"))
    val p = new SyncPipeline(spark, src, land, state)
    p.clone(listSchema)
    val (latest0, w0) = (rows("DOCUMENTS_LATEST"), rows("W"))
    assert(w0.size == 2)
    val before = persistedRdds
    writeNdjson(src, "f002.ndjson", wDoc("a", 2, "a2"), wDoc("c", 1, "c1"))
    assert(p.syncOnce() == 2L)
    assert(!(before -- persistedRdds).isEmpty, "the append kept the materialization")
    assert(rows("DOCUMENTS_LATEST") == latest0)
    assert(rows("W") == w0)
    p.createViews(listSchema)
    assert(spark.sql("SELECT DOCUMENT_ID, N FROM W ORDER BY DOCUMENT_ID").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a", "a2"), ("b", "b1"), ("c", "c1")))
    assert(rows("DOCUMENTS_LATEST").size == 3)
  }

  test("createViews after prune() and compact() returns the same latest rows") {
    val src = tmp("src8"); val land = tmp("land8") + "/landing"; val state = tmp("st8")
    writeNdjson(src, "f001.ndjson", wDoc("a", 1, "a1"), wDoc("a", 2, "a2"),
      wDoc("b", 1, "b1"))
    val p = new SyncPipeline(spark, src, land, state)
    p.syncOnce()
    Thread.sleep(5) // distinct batch_date for the replay
    p.syncOnce(force = true) // full re-sync: every doc lands twice
    p.createViews(listSchema)
    val (latest0, w0, l0) = (rows("DOCUMENTS_LATEST"), rows("W"), rows("W_L"))
    assert(latest0.size == 2)
    val before = persistedRdds
    p.prune()
    assert((persistedRdds -- before).isEmpty && !(before -- persistedRdds).isEmpty,
      "prune kept the materialization")
    p.createViews(listSchema)
    assert(rows("DOCUMENTS_LATEST") == latest0)
    assert(rows("W") == w0 && rows("W_L") == l0)
    p.compact(targetFileMB = 128)
    p.createViews(listSchema)
    assert(rows("DOCUMENTS_LATEST") == latest0)
    assert(rows("W") == w0 && rows("W_L") == l0)
  }
}
