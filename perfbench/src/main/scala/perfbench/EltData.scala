package perfbench

import graft.model.{RootSchema, SchemaCodec}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded Execute-API documents for the ELT workloads, and the ledger
  * the benchmark checks the program's outputs against.
  *
  * Three document types cover every field type the view layer maps:
  * ORDER (INTEGER, DECIMAL, DATETIME, TEXT, BOOLEAN, a DOCUMENT ref, a
  * nested RECORD and a RECORD LIST whose items hold a DOCUMENT ref and a
  * RECORD), USER (an EVENTS list that is often longer than [[ChunkSize]],
  * so a share of users is split into chunks at ingest) and DOC (text).
  */
object EltData {

  /** Ingest chunk size: USER EVENTS lists run 1..[[MaxEvents]] long, so
    * (MaxEvents - ChunkSize) / MaxEvents of user versions split. ORDER
    * LINES (1..7) never split. */
  val ChunkSize = 16
  val MaxEvents = 24

  private def f(t: String, extra: String = "") =
    s"""{"ACTIVE": true, "TYPE": "$t", "NULLABLE": true$extra}"""
  private def rec(t: String, body: String) =
    f(t, s""", "RECORD_TYPE": {$body}""")

  val schemaJson: String =
    s"""{
  "ORDER": {
    "O_ORDERKEY": ${f("INTEGER")},
    "O_TOTALPRICE": ${f("DECIMAL")},
    "O_ORDERDATE": ${f("DATETIME")},
    "O_STATUS": ${f("TEXT")},
    "O_URGENT": ${f("BOOLEAN")},
    "CUSTOMER": ${f("DOCUMENT", """, "DOCUMENT_TYPE": "CUSTOMER"""")},
    "PRIORITY": ${rec("RECORD", s""""LEVEL": ${f("INTEGER")}, "LABEL": ${f("TEXT")}""")},
    "LINES": ${rec("RECORD LIST", s""""L_LINENUMBER": ${f("INTEGER")},
      "PART": ${f("DOCUMENT", """, "DOCUMENT_TYPE": "PART"""")},
      "L_QUANTITY": ${f("DECIMAL")}, "L_EXTENDEDPRICE": ${f("DECIMAL")},
      "L_SHIPDATE": ${f("DATETIME")}, "L_RETURNED": ${f("BOOLEAN")},
      "SHIP": ${rec("RECORD", s""""MODE": ${f("TEXT")}, "DAYS": ${f("INTEGER")}""")}""")}
  },
  "USER": {
    "USER_ID": ${f("INTEGER")},
    "NAME": ${f("TEXT")},
    "ACTIVE": ${f("BOOLEAN")},
    "SIGNUP": ${f("DATETIME")},
    "EVENTS": ${rec("RECORD LIST", s""""EVENT_TYPE": ${f("TEXT")},
      "TS": ${f("DATETIME")}, "VALUE": ${f("DECIMAL")}""")}
  },
  "DOC": {
    "DOC_ID": ${f("INTEGER")},
    "TITLE": ${f("TEXT")},
    "LANG": ${f("TEXT")},
    "BODY": ${f("TEXT")}
  }
}"""

  lazy val schema: RootSchema = SchemaCodec.parse(schemaJson)

  /** The store-level views `SyncPipeline.createViews` registers before
    * the schema's typed catalog. */
  val StoreViews: Seq[String] =
    Seq("DOCUMENTS_LATEST", "DOCUMENTS_LATEST_ALL_VERSIONS", "DOCUMENTS_HISTORY")

  /** Every view name the catalog should hold for [[schema]]. */
  lazy val definedViews: Seq[String] =
    StoreViews ++ graft.views.Views.catalogDefs(schema).map(_.name)

  /** One document version as delivered: `items` is the length of its
    * top-level list (LINES or EVENTS), 0 for DOC and tombstones. */
  final case class Doc(tpe: String, id: String, version: Long,
      deleted: Boolean, items: Int, line: String) {
    /** Landing rows this version becomes: the main chunk plus one per
      * `ChunkSize` slice of a list longer than `ChunkSize`. */
    def chunks: Int =
      1 + (if (items > ChunkSize) (items + ChunkSize - 1) / ChunkSize else 0)
  }

  /** A batch of NDJSON lines plus what the program should make of them. */
  final case class Batch(lines: Vector[String], valid: Int, malformed: Int,
      parsedRows: Long) {
    def bytes: Long = lines.iterator.map(_.length.toLong + 1).sum
  }

  private val Words = Vector("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "window", "spark",
    "order", "data", "column", "join", "small", "line", "customer", "query",
    "filter", "sort", "stream", "group", "vector", "big", "the", "a")
  private val Langs = Vector("en", "de", "fr", "es", "zh")
  private val Status = Vector("F", "O", "P")
  private val Priority = Vector("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val Modes = Vector("AIR", "RAIL", "SHIP", "TRUCK", "MAIL")
  private val EventTypes = Vector("click", "view", "purchase", "signup", "error")

  private val Epoch = java.time.Instant.parse("2024-01-01T00:00:00Z")
  private def ts(secondsAfterEpoch: Long): String =
    Epoch.plusSeconds(secondsAfterEpoch).toString
  private def money(r: SplittableRandom, lo: Int, hi: Int): String = {
    val cents = lo * 100L + r.nextLong((hi - lo) * 100L)
    f"${cents / 100}%d.${cents % 100}%02d"
  }

  /** Generates document versions from one seeded stream and keeps the
    * ledger of every version delivered, from which the expected row
    * count of each view follows. */
  final class Ledger(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    private val nextKey = mutable.Map("ORDER" -> 0L, "USER" -> 0L, "DOC" -> 0L)
    private val latest = mutable.LinkedHashMap.empty[(String, String), Doc]
    private val live = mutable.ArrayBuffer.empty[(String, String)]
    private val versions = mutable.Map.empty[(String, String, Long), Doc]

    private def envelope(tpe: String, id: String, v: Long): String =
      s"""{"$$TYPE":"$tpe","DOCUMENT_ID":"$id","$$VERSION":$v,""" +
        s""""$$AUTHOR_ID":"a${rnd.nextInt(50)}","$$DATE":"${ts(v * 86400L + rnd.nextInt(86000))}""""

    private def order(id: String, k: Long, v: Long): Doc = {
      val n = 1 + rnd.nextInt(7)
      val lines = (1 to n).map { i =>
        s"""{"LISTITEM_ID":"$i","L_LINENUMBER":$i,""" +
          s""""PART":{"DOCUMENT_ID":"P${rnd.nextInt(2000)}"},""" +
          s""""L_QUANTITY":${1 + rnd.nextInt(50)}.0,""" +
          s""""L_EXTENDEDPRICE":${money(rnd, 900, 100000)},""" +
          s""""L_SHIPDATE":"${ts(rnd.nextInt(200) * 86400L)}",""" +
          s""""L_RETURNED":${rnd.nextInt(4) == 0},""" +
          s""""SHIP":{"MODE":"${Modes(rnd.nextInt(Modes.size))}","DAYS":${1 + rnd.nextInt(30)}}}"""
      }
      val p = rnd.nextInt(Priority.size)
      val line = envelope("ORDER", id, v) +
        s""","O_ORDERKEY":$k,"O_TOTALPRICE":${money(rnd, 1000, 500000)},""" +
        s""""O_ORDERDATE":"${ts(rnd.nextInt(2000) * 86400L)}",""" +
        s""""O_STATUS":"${Status(rnd.nextInt(3))}","O_URGENT":${p == 0},""" +
        s""""CUSTOMER":{"DOCUMENT_ID":"C${rnd.nextInt(1500)}"},""" +
        s""""PRIORITY":{"LEVEL":${p + 1},"LABEL":"${Priority(p)}"},""" +
        s""""LINES":${lines.mkString("[", ",", "]")}}"""
      Doc("ORDER", id, v, deleted = false, n, line)
    }

    private def user(id: String, k: Long, v: Long): Doc = {
      val n = 1 + rnd.nextInt(MaxEvents)
      val events = (0 until n).map { i =>
        s"""{"LISTITEM_ID":"$i","EVENT_TYPE":"${EventTypes(rnd.nextInt(5))}",""" +
          s""""TS":"${ts(rnd.nextInt(2592000))}","VALUE":${money(rnd, 0, 300)}}"""
      }
      val line = envelope("USER", id, v) +
        s""","USER_ID":$k,"NAME":"user $k","ACTIVE":${rnd.nextInt(5) != 0},""" +
        s""""SIGNUP":"${ts(rnd.nextInt(1000) * 86400L)}",""" +
        s""""EVENTS":${events.mkString("[", ",", "]")}}"""
      Doc("USER", id, v, deleted = false, n, line)
    }

    private def doc(id: String, k: Long, v: Long): Doc = {
      def words(n: Int) = Vector.fill(n)(Words(rnd.nextInt(Words.size))).mkString(" ")
      val line = envelope("DOC", id, v) +
        s""","DOC_ID":$k,"TITLE":"${words(3)}","LANG":"${Langs(rnd.nextInt(5))}",""" +
        s""""BODY":"${words(20 + rnd.nextInt(40))}"}"""
      Doc("DOC", id, v, deleted = false, 0, line)
    }

    private def version(tpe: String, id: String, k: Long, v: Long): Doc =
      tpe match {
        case "ORDER" => order(id, k, v)
        case "USER"  => user(id, k, v)
        case _       => doc(id, k, v)
      }

    private def record(d: Doc): Doc = {
      val key = (d.tpe, d.id)
      versions((d.tpe, d.id, d.version)) = d
      if (latest.get(key).forall(_.version < d.version)) {
        if (!latest.contains(key)) live += key
        latest(key) = d
      }
      d
    }

    /** A brand-new document at version 1. */
    def create(tpe: String): Doc = {
      val k = nextKey(tpe); nextKey(tpe) = k + 1
      record(version(tpe, s"${tpe.head}$k", k, 1L))
    }

    private def pickLive(): (String, String) = live(rnd.nextInt(live.size))

    /** The next version of a random existing document (possibly after a
      * tombstone: a deleted document may come back). */
    def update(): Doc = {
      val (tpe, id) = pickLive()
      val prev = latest((tpe, id))
      record(version(tpe, id, id.tail.toLong, prev.version + 1))
    }

    /** A tombstone as the next version of a random existing document. */
    def delete(): Doc = {
      val (tpe, id) = pickLive()
      val v = latest((tpe, id)).version + 1
      record(Doc(tpe, id, v, deleted = true, 0,
        envelope(tpe, id, v) + ""","$DELETED":true}"""))
    }

    /** An exact re-delivery of some document's current version. */
    def replay(): Doc = latest(pickLive())

    /** A line the ingest must skip: truncated JSON, an object without a
      * document id, or not JSON at all. */
    def malformed(): String = rnd.nextInt(3) match {
      case 0 => latest(pickLive()).line.take(25)
      case 1 => """{"$TYPE":"ORDER","$VERSION":1,"O_ORDERKEY":7}"""
      case _ => "not json " + rnd.nextInt(1000)
    }

    /** A mixed batch of `n` document lines: `shares` gives the fraction
      * of updates, tombstones, replays and new documents (the rest),
      * plus malformed lines at `malformedShare` of `n`, shuffled. */
    def batch(n: Int, update: Double, delete: Double, replay: Double,
        malformedShare: Double): Batch = {
      val docs = Vector.fill(n) {
        val u = rnd.nextDouble()
        if (u < update) this.update()
        else if (u < update + delete) this.delete()
        else if (u < update + delete + replay) this.replay()
        else create(Seq("ORDER", "USER", "DOC")(rnd.nextInt(3)))
      }
      val bad = Vector.fill((n * malformedShare).round.toInt)(malformed())
      val lines = shuffle(docs.map(_.line) ++ bad)
      Batch(lines, docs.size, bad.size, docs.iterator.map(_.chunks.toLong).sum)
    }

    /** The initial corpus: `perType` new documents of each type, then
      * extra versions, tombstones, replays and malformed lines at the
      * stated shares of the document count. */
    def corpus(perType: Int): Batch = {
      val created = Vector.fill(perType)(Seq("ORDER", "USER", "DOC")
        .map(create)).flatten
      val rest = batch(created.size / 3, update = 0.75, delete = 0.1,
        replay = 0.15, malformedShare = 0.0)
      val bad = Vector.fill(created.size / 100)(malformed())
      val lines = shuffle(created.map(_.line) ++ rest.lines ++ bad)
      Batch(lines, created.size + rest.valid, bad.size,
        created.iterator.map(_.chunks.toLong).sum + rest.parsedRows)
    }

    private def shuffle(v: Vector[String]): Vector[String] = {
      val a = v.toArray
      var i = a.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a.toVector
    }

    /** Expected row count of each view over everything delivered so far. */
    def expectedRows: Map[String, Long] = {
      val cur = latest.values.toVector
      def ofType(t: String) = cur.filter(_.tpe == t)
      val allVersions = versions.values.iterator.map(_.chunks.toLong).sum
      val orderLines = ofType("ORDER").iterator.map(_.items.toLong).sum
      Map(
        "DOCUMENTS_LATEST" -> cur.iterator.map(_.chunks.toLong).sum,
        "DOCUMENTS_LATEST_ALL_VERSIONS" -> allVersions,
        "DOCUMENTS_HISTORY" -> allVersions,
        "ORDER" -> ofType("ORDER").size.toLong,
        "ORDER_PRIORITY" -> ofType("ORDER").size.toLong,
        "ORDER_LINES" -> orderLines,
        "ORDER_LINES_SHIP" -> orderLines,
        "USER" -> ofType("USER").size.toLong,
        "USER_EVENTS" -> ofType("USER").iterator.map(_.items.toLong).sum,
        "DOC" -> ofType("DOC").size.toLong)
    }

    /** Latest versions that are tombstones (visible in every view). */
    def tombstones: Long = latest.valuesIterator.count(_.deleted).toLong
    /** Rows of `DOCUMENTS_LATEST` beyond each document's main chunk. */
    def splitRows: Long = latest.valuesIterator.map(_.chunks - 1L).sum
  }

  /** Writes `lines` as `files` NDJSON files named in delivery order. */
  def writeFiles(dir: Path, lines: Vector[String], files: Int): Unit = {
    Files.createDirectories(dir)
    val per = (lines.size + files - 1) / files
    lines.grouped(per).zipWithIndex.foreach { case (g, i) =>
      Files.write(dir.resolve(f"page$i%05d.ndjson"),
        g.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
  }
}
