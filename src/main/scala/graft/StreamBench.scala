package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Micro-batch fixed-cost decomposition: the SAME events backlog
  * drained through the SAME windowed aggregation as 1, 4, and 16
  * micro-batches (`maxFilesPerTrigger` over a 16-file source). The
  * data volume is identical in every run, so the wall-clock spread is
  * pure per-batch machinery — checkpoint commits, state-store
  * snapshots, planning. This is why multi-batch streaming queries
  * (q113, q233) top the warm bench profile at sf0.1: their cost is
  * batch COUNT, not operator work, and a production 100 TB stream
  * amortizes it by running fewer, bigger batches (tens of GB per
  * trigger), where the per-batch seconds measured here vanish against
  * minutes of real work.
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.StreamBench <testdata>/sf0.1"
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = LocalSpark.session()
    // state partitions = shuffle partitions, and each micro-batch pays
    // one state-store commit per partition: pin 8 so the per-batch
    // fixed cost measured here does not move with the core count
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    val nFiles = 16
    val src = Scratch.dir("graft_streambench").toString + "/events"
    new graft.tables.Catalog(spark, sfDir).table("events")
      .repartition(nFiles).write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val nRows = spark.read.parquet(src).count()

    // one throwaway drain first so JIT/codegen/state-store bring-up is
    // not charged to the first measured configuration
    def drain(maxFiles: Int, tag: String): (Long, Double) = {
      val t0 = System.nanoTime()
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFiles).parquet(src)
      val agg = graft.streaming.EventStream.normalizeEventTime(stream)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      val name = s"graft_stream_bench_$tag"
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val batches = q.recentProgress.map(_.batchId).distinct.length.toLong
      spark.table(name).count()
      spark.catalog.dropTempView(name)
      (batches, (System.nanoTime() - t0) / 1e9)
    }
    drain(nFiles, "warmup")
    val runs = Seq(16, 4, 1).map { mf =>
      val (b, t) = drain(mf, s"mf$mf")
      (mf, b, t)
    }
    val one = runs.find(_._1 == 16).get
    val full = runs.find(_._1 == 1).get
    // AvailableNow may merge triggers differently across Spark
    // versions; if both drains report the same batch count the slope
    // is undefined — emit null rather than an Infinity/NaN that would
    // break the JSON line.
    val perBatch: Option[Double] =
      if (one._2 == full._2) None
      else Some((one._3 - full._3) / (one._2 - full._2))

    println(f"backlog=$nRows rows, $nFiles files ($sfDir)")
    runs.foreach { case (mf, b, t) =>
      println(f"maxFilesPerTrigger=$mf%-3d batches=$b%-3d wall=$t%6.2f s")
    }
    perBatch match {
      case Some(pb) =>
        println(f"per-batch fixed cost ≈ $pb%.2f s " +
          f"(same data every run; spread is machinery, not operator work)")
      case None =>
        println("per-batch fixed cost: undefined (drains produced " +
          "equal batch counts)")
    }
    println(s"""{"bench":"stream","rows":$nRows,"files":$nFiles,""" +
      runs.map { case (mf, b, t) =>
        s""""mf$mf":{"batches":$b,"sec":$t}""" }.mkString(",") +
      s""","per_batch_sec":${perBatch.map(_.toString).getOrElse("null")}}""")
    Scratch.sweep()
    spark.stop()
  }
}
