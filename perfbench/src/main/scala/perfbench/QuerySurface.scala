package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.SplittableRandom
import scala.io.Source
import scala.jdk.CollectionConverters._

/** The query modules and the part of `SparkEntry.queries` each owns. */
object Modules {
  val all: Seq[(String, Set[String])] = Seq(
    "Relational" -> graft.queries.Relational.queries.keySet,
    "TimeSeries" -> graft.queries.TimeSeries.queries.keySet,
    "DocViews" -> graft.queries.DocViews.queries.keySet,
    "TextAnalysis" -> graft.llm.TextAnalysis.queries.keySet,
    "Dedup" -> graft.llm.Dedup.queries.keySet,
    "Similarity" -> graft.llm.Similarity.queries.keySet,
    "Multimodal" -> graft.llm.Multimodal.queries.keySet)
  def of(query: String): Option[String] = all.collectFirst {
    case (m, qs) if qs.contains(query) => m
  }
}

/** `query_surface`: a fixed set of `SparkEntry.queries` entries, drawn
  * from every query module, run over generated tables in a
  * seed-permuted order, pass after pass. Each query is timed from the
  * call that builds its DataFrame to the end of one action reading
  * every output column, and its row count and checksum are checked
  * against the expectation file. */
final class QuerySurface(seed: Long, tables: Path) extends Workload {
  override def prepare(spark: SparkSession): Unit = QueryTables.write(spark, tables)
  private val dir = tables.toString
  private val expected = QueryTables.expected
  private val order = {
    val r = new scala.util.Random(seed)
    r.shuffle(QueryTables.Selected)
  }
  override def opsPerPass: Int = order.size
  override def kind(i: Int): String = order(i % order.size)

  /** Two untimed passes over every selected query: the second pass of
    * a process still runs measurably slower than later ones. */
  def warmUp(ctx: Ctx): Unit = (0 until 2 * order.size).foreach(op(ctx, _))

  def op(ctx: Ctx, i: Int): Double = {
    val name = order(i % order.size)
    val stats0 = durable
    val t0 = System.nanoTime()
    val (rows, sum, _) = ctx.span(s"queries.$name") {
      Materialize(SparkEntry.queries(name)(ctx.spark, dir))
    }
    val dt = (System.nanoTime() - t0) / 1e9
    graft.queries.Shared.dropTransient()
    val stats1 = durable
    ctx.log.add("queries.durable_hits", stats1._1 - stats0._1)
    ctx.log.add("queries.durable_builds", stats1._2 - stats0._2)
    val (wantRows, wantSum) = expected(name)
    ctx.log.check(s"$name rows", rows, wantRows)
    if (!SparkEntry.rowsOnly(name)) ctx.log.check(s"$name checksum", sum, wantSum)
    dt
  }

  private def durable: (Long, Long) =
    graft.queries.Durable.stats.values.asScala.foldLeft((0L, 0L)) {
      case ((h, b), (dh, db)) => (h + dh, b + db)
    }
}

/** The generated tables the query surface reads, and the queries it
  * runs. The tables follow the corpus layout the queries are written
  * against (a TPC-H-like star plus events, documents and embeddings) at
  * about the smallest test scale; they come from a fixed seed, not the
  * run's, so the expected results hold for every run.
  *
  *   perfbench.QueryTables DIR   writes the tables to DIR and prints the
  *                               expectation rows for the selected
  *                               queries (name, rows, checksum)
  */
object QueryTables {
  /** Every query module, one to three queries each, spanning the plan
    * kernels (bloom, minhash, cosine) and the engine-owned stores
    * (bucketed latest view, persistent view catalog). The set is small
    * because a run's cold pass over it must fit the run's time; the
    * heaviest first runs in a session (r16, r47, x13, x51, x90) are left
    * out for the same reason. */
  val Selected: Seq[String] = Seq(
    "r01_pricing_summary", "r28_json_path",
    "r37_sessionize",
    "r24_document_latest_view", "r68_bucketed_latest", "r85_persistent_view",
    "x01_token_stats", "x04_fingerprint",
    "x06_minhash_sigs", "x61_bloom_decontam",
    "x11_ann_topk",
    "x15_media_features")

  private val Seed = 20240101L

  def expected: Map[String, (Long, Long)] = {
    val in = getClass.getResourceAsStream("/query_surface_expected.tsv")
    require(in != null, "query_surface_expected.tsv missing from the classpath")
    try Source.fromInputStream(in, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, r, c) = l.split("\t")
        n -> (r.toLong, c.toLong)
      }.toMap
    finally in.close()
  }

  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Paths.get(args(0)).toAbsolutePath
    val spark = Main.session(dir.resolveSibling(dir.getFileName.toString + "-session"))
    write(spark, dir)
    println("# query\trows\tchecksum")
    Selected.foreach { q =>
      val (rows, sum, _) = Materialize(SparkEntry.queries(q)(spark, dir.toString))
      println(s"$q\t$rows\t$sum")
    }
    spark.stop()
  }

  /** Writes every table as one parquet file `DIR/<table>.parquet`,
    * the tables concurrently. */
  def write(spark: SparkSession, dir: Path): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
    try tables.map { t =>
      pool.submit(new Runnable { def run(): Unit = writeTable(spark, dir, t) })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  private def writeTable(spark: SparkSession, dir: Path,
      table: (String, StructType, Seq[Row])): Unit = table match {
    case (name, schema, rows) =>
      val staging = dir.resolve(s"$name.staging")
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(staging.toString)
      val part = Files.list(staging).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(s"$name.parquet"))
      Elt.deleteTree(staging)
    }

  private def ts(day: Double): Timestamp =
    new Timestamp(Math.round(day * 86400000.0) + 788918400000L) // 1995-01-01

  private def tables: Seq[(String, StructType, Seq[Row])] = {
    val r = new SplittableRandom(Seed)
    def money(lo: Double, hi: Double) =
      math.rint((lo + r.nextDouble() * (hi - lo)) * 100) / 100
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    def schema(fs: (String, DataType)*) =
      StructType(fs.map { case (n, t) => StructField(n, t) })
    val I = IntegerType; val L = LongType; val D = DoubleType
    val S = StringType; val T = TimestampType

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val region = regions.zipWithIndex.map { case (n, i) => Row(i, n) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val customer = (0 until 150).map(i => Row(i.toLong, f"Customer#$i%09d",
      r.nextInt(25), money(-999.99, 9999.99), pick(segments)))
    val supplier = (0 until 10).map(i => Row(i.toLong, f"Supplier#$i%09d",
      r.nextInt(25), money(-999.99, 9999.99)))
    val adjectives = Seq("small", "blue", "cold", "old", "new", "hot", "red", "large")
    val nouns = Seq("widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val prices = (0 until 200).map(i => math.rint((900 + i * 0.1) * 10) / 10)
    val part = (0 until 200).map(i => Row(i.toLong,
      s"${pick(adjectives)} ${pick(nouns)}", s"Brand#${1 + r.nextInt(25)}",
      pick(types), 1 + r.nextInt(50), prices(i)))
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderDays = (0 until 1500).map(_ => r.nextInt(2400))
    val orders = (0 until 1500).map(i => Row(i.toLong, r.nextInt(150).toLong,
      pick(Seq("F", "O", "P")), money(1000, 500000), ts(orderDays(i)),
      pick(priorities)))
    val lineitem = (0 until 1500).flatMap { o =>
      (1 to 1 + r.nextInt(7)).map { ln =>
        val p = r.nextInt(200)
        val q = 1 + r.nextInt(50)
        Row(o.toLong, p.toLong, r.nextInt(10).toLong, ln, q.toDouble,
          math.rint(q * prices(p) * 100) / 100, r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, pick(Seq("A", "N", "R")), pick(Seq("F", "O")),
          ts(orderDays(o) + 1 + r.nextInt(120)))
      }
    }
    val eventTypes = Seq("click", "view", "purchase", "signup", "error")
    var clock = 0.0
    val events = (0 until 1000).map { i =>
      clock += r.nextDouble() * 0.06
      Row(i.toLong, ts(10592 + clock), r.nextInt(15).toLong, pick(eventTypes),
        money(0.01, 330), s"""{"k": ${r.nextInt(100)}}""")
    }
    val words = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "merge", "batch", "window", "spark", "order",
      "data", "column", "join", "small", "line", "customer", "query",
      "filter", "sort", "stream", "group", "vector", "big", "the", "a", "dup")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 500).foreach { i =>
      // one document in twenty is a near copy of an earlier one
      texts += (if (i > 20 && r.nextInt(20) == 0) {
        val base = texts(r.nextInt(texts.size)).split(" ")
        base.updated(r.nextInt(base.length), pick(words)).mkString(" ")
      } else Seq.fill(10 + r.nextInt(80))(pick(words)).mkString(" "))
    }
    val documents = texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t,
      pick(Seq("en", "en", "en", "de", "fr", "es", "zh")), s"src${r.nextInt(20)}",
      t.length.toLong) }.toSeq
    val centroids = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
    val embeddings = (0 until 500).map { i =>
      val label = r.nextInt(10)
      val v = centroids(label).map(c => c + (r.nextDouble() - 0.5))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }

    Seq(
      ("region", schema("r_regionkey" -> I, "r_name" -> S), region),
      ("nation", schema("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I), nation),
      ("customer", schema("c_custkey" -> L, "c_name" -> S, "c_nationkey" -> I,
        "c_acctbal" -> D, "c_mktsegment" -> S), customer),
      ("supplier", schema("s_suppkey" -> L, "s_name" -> S, "s_nationkey" -> I,
        "s_acctbal" -> D), supplier),
      ("part", schema("p_partkey" -> L, "p_name" -> S, "p_brand" -> S,
        "p_type" -> S, "p_size" -> I, "p_retailprice" -> D), part),
      ("orders", schema("o_orderkey" -> L, "o_custkey" -> L, "o_orderstatus" -> S,
        "o_totalprice" -> D, "o_orderdate" -> T, "o_orderpriority" -> S), orders),
      ("lineitem", schema("l_orderkey" -> L, "l_partkey" -> L, "l_suppkey" -> L,
        "l_linenumber" -> I, "l_quantity" -> D, "l_extendedprice" -> D,
        "l_discount" -> D, "l_tax" -> D, "l_returnflag" -> S,
        "l_linestatus" -> S, "l_shipdate" -> T), lineitem),
      ("events", schema("event_id" -> L, "ts" -> T, "user_id" -> L,
        "event_type" -> S, "value" -> D, "props" -> S), events),
      ("documents", schema("doc_id" -> L, "text" -> S, "lang" -> S,
        "source" -> S, "n_chars" -> L), documents),
      ("embeddings", schema("vec_id" -> L,
        "embedding" -> ArrayType(FloatType), "label" -> I), embeddings))
  }
}
