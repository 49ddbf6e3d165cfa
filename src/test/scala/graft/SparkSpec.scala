package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSpark {
  // pinned at 4 cores: spec fixtures and plan shapes assume 4
  // shuffle partitions whatever SPARK_GRAFT_CPUS says
  lazy val spark: SparkSession = LocalSpark.session(cores = 4)
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val catalog = new graft.tables.Catalog(spark, TestSpark.sfDir)
  lazy val runner = new graft.jx.Runner(spark, catalog)
}
