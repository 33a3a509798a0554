package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import java.nio.file.Path
import scala.collection.mutable

/** What one operation reports besides its latency: failed checks and
  * the layer counters the benchmark measured around its calls. */
final class OpLog {
  var failures = 0
  val layer = mutable.LinkedHashMap.empty[String, Double]
  def add(key: String, v: Double): Unit = layer(key) = layer.getOrElse(key, 0.0) + v
  def fail(msg: String): Unit = {
    failures += 1
    System.err.println(s"perfbench: check failed: $msg")
  }
  def check(what: String, got: Long, want: Long): Unit =
    if (got != want) fail(s"$what: got $got, want $want")
}

/** The session and directory an operation runs in. Spans are recorded,
  * and added to the operation's layer counters, only in traced
  * operations. */
final class Ctx(val spark: SparkSession, val dir: Path) {
  private[perfbench] var tracer: Option[Tracer] = None
  private[perfbench] var log: OpLog = new OpLog

  def span[T](name: String)(body: => T): T = tracer match {
    case None => body
    case Some(t) =>
      val t0 = System.nanoTime()
      try t.span(name)(body)
      finally log.add(name + "_s", (System.nanoTime() - t0) / 1e9)
  }
}

/** One workload of the benchmark. */
trait Workload {
  /** Writes inputs that need a session, once, before the first warm-up;
    * not counted as set-up. */
  def prepare(spark: SparkSession): Unit = ()

  /** The untimed warm-up through the program that the measured
    * operations rely on; counted, with the session start, as set-up. */
  def warmUp(ctx: Ctx): Unit

  /** The `i`-th measured operation; returns its latency in seconds. */
  def op(ctx: Ctx, i: Int): Double

  /** Operation kind, for comparing job counts of equal operations. */
  def kind(i: Int): String = "op"

  /** Operations in one pass over the workload's input. Per-layer
    * metrics are reported per pass. */
  def opsPerPass: Int = 1

  def close(): Unit = ()
}

object Materialize {
  /** One action over `df` that reads every output column: the row
    * count and an order-independent checksum of the rows, plus the sums
    * of the per-row `extra` columns, computed in the same job. */
  def apply(df: DataFrame, extra: Column*): (Long, Long, Seq[Long]) = {
    val perRow = df.select(
      (xxhash64(col("*")).bitwiseAND(0xffffffffL).as("__h") +:
        extra.zipWithIndex.map { case (c, i) => c.cast(LongType).as(s"__e$i") }): _*)
    val row = perRow.agg(count(lit(1)),
      (sum("__h") +: extra.indices.map(i => sum(s"__e$i"))): _*).head()
    def long(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    (row.getLong(0), long(1), extra.indices.map(i => long(2 + i)))
  }
}
