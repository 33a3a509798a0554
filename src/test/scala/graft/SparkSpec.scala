package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; specs
  * run forked per build.sbt). Built by EngineSession, so specs run the
  * engine confs production runs (GraftExtensions included). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = EngineSession.builder("graft-test", "local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf001 = "/root/testdata/sf0.001"
}
