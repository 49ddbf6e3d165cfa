package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

/** MEASURED zone-map skipping — the ground truth behind q296's
  * estimator. q296 predicts, from zone min/max censuses, what
  * fraction of rows a (date-range × key-range) predicate could skip
  * under three physical layouts; this bench WRITES those layouts as
  * parquet (row-group-aligned via range repartition + within-partition
  * sort) and reads back through the same predicate, reporting the
  * SCAN's actual output rows (parquet row-group pruning from pushed
  * filters) and wall per layout. The 100 TB decision it informs —
  * "sort the corpus along which curve" — is exactly the estimator's
  * claim; here the claim meets the scan metrics.
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.ZoneBench <testdata>/sf0.1"
  */
object ZoneBench {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = LocalSpark.session()

    // same derived columns and predicate family as q296
    val base = new graft.tables.Catalog(spark, sfDir).table("lineitem")
      .select(col("l_orderkey"),
        datediff(to_date(col("l_shipdate")),
          to_date(lit("1992-01-01"))).cast("long").as("dy"),
        pmod(col("l_partkey"), lit(1024)).cast("long").as("pk"))
      .withColumn("z", graft.operators.ZOrder.zValue(col("dy"),
        col("pk"), 12))
      .localCheckpoint()
    val total = base.count()

    val out = Scratch.dir("graft_zonebench").toString
    val layouts: Seq[(String, DataFrame)] = Seq(
      ("natural", base.repartitionByRange(64, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))),
      ("bydate", base.repartitionByRange(64, col("dy"))
        .sortWithinPartitions(col("dy"))),
      ("zorder", base.repartitionByRange(64, col("z"))
        .sortWithinPartitions(col("z"))))
    layouts.foreach { case (name, df) =>
      df.write.parquet(s"$out/$name") }

    def measure(name: String): (Long, Long, Double) = {
      val df = spark.read.parquet(s"$out/$name")
        .filter(col("dy").between(1500L, 1600L) &&
          col("pk").between(100L, 200L))
      val t0 = System.nanoTime()
      val matching = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      // re-run as collect to read the scan node's own metric (count()
      // can use stats shortcuts; the scan metric needs an execution)
      val df2 = spark.read.parquet(s"$out/$name")
        .filter(col("dy").between(1500L, 1600L) &&
          col("pk").between(100L, 200L))
      df2.collect() // drives df2's own QueryExecution -> metrics fill
      val scanned = df2.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
      }.sum
      (matching, scanned, wall)
    }
    // warmup
    measure("natural")

    println(f"${"layout"}%-8s ${"rows_scanned"}%13s ${"of_total"}%9s " +
      f"${"rows_matching"}%14s wall")
    val rows = layouts.map(_._1).map { name =>
      val (matching, scanned, wall) = measure(name)
      println(f"$name%-8s $scanned%13d ${scanned.toDouble / total}%9.3f " +
        f"$matching%14d $wall%6.2f s")
      (name, scanned, matching, wall)
    }
    val line = rows.map { case (n, sc, m, w) =>
      String.format(java.util.Locale.ROOT,
        "\"%s\":{\"scanned\":%d,\"matching\":%d,\"wall\":%.2f}",
        n, Long.box(sc), Long.box(m), Double.box(w))
    }.mkString(s"""{"bench":"zone","rows_total":$total,""", ",", "}")
    println(line)
    Scratch.sweep()
    spark.stop()
  }
}
