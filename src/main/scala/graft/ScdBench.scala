package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.Scd
import graft.LocalSpark.timed

/** SCD2 maintenance scale curve — merge-vs-rebuild at an N× event
  * log, the dimension-maintenance companion of [[LmBench]]: measures
  * the full [[Scd.buildType2]] rebuild against an incremental
  * [[Scd.mergeType2]] of the final day's changes, ALL inputs read
  * from parquet (log, dimension and batch each from their own files —
  * neither side gets a warm-cache advantage).
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.ScdBench <testdata>/sf0.1 10"
  *
  * Two change-rate scenarios, because the merge-vs-rebuild economics
  * are entirely a function of run length:
  *
  *  - `fast`: attr = event_type — flips nearly every event, so the
  *    dimension is ~80% of the log. The WORST case for incremental
  *    maintenance (the dim pass-through rereads almost everything);
  *    reported as the honest lower bound.
  *  - `slow`: attr = a weekly state — the actual slowly-changing
  *    shape dimensions are named for (~5 runs/entity over the month).
  *    Here the dim is ~20× smaller than the log and the merge never
  *    touches the log at all — the production claim.
  *
  * The N× construction shifts entity ids per copy, scaling history
  * volume while keeping every per-entity stream time-ordered. */
object ScdBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val mult = if (args.length > 1) args(1).toInt else 10
    val spark = LocalSpark.session()

    val base = new graft.tables.Catalog(spark, sfDir).table("events")
      .select(col("user_id"), col("ts"), col("event_type"))
    val cut = lit("2024-01-30 00:00:00").cast("timestamp")
    val scenarios: Seq[(String, Column)] = Seq(
      ("fast", col("event_type")),
      ("slow", (weekofyear(col("ts")) % 3).cast("string")))

    Seq(1, mult).foreach { m =>
      val root = Scratch.dir(s"graft_scdbench_$m").toString
      (0 until m).map { c =>
        if (c == 0) base
        else base.select((col("user_id") + lit(c * 10000000L))
          .as("user_id"), col("ts"), col("event_type"))
      }.reduce(_ unionByName _)
        .repartition(LocalSpark.cpus).write.parquet(root + "/log")
      val log = spark.read.parquet(root + "/log")
      val nLog = log.count()
      log.filter(col("ts") >= cut).write.parquet(root + "/batch")
      val batch = spark.read.parquet(root + "/batch")
      val nBatch = batch.count()

      scenarios.foreach { case (scen, attr) =>
        val dimPath = s"$root/dim_$scen"
        Scd.buildType2(log.filter(col("ts") < cut), col("user_id"),
            col("ts"), attr)
          .write.parquet(dimPath)
        val (nRebuild, tRebuild) = timed {
          Scd.buildType2(log, col("user_id"), col("ts"), attr).count()
        }
        val (nMerge, tMerge) = timed {
          Scd.mergeType2(spark.read.parquet(dimPath), batch,
            col("user_id"), col("ts"), attr).count()
        }
        require(nRebuild == nMerge,
          s"merge/rebuild row mismatch: $nMerge vs $nRebuild")
        println(f"${m}x/$scen: log=$nLog batch=$nBatch dim=$nRebuild  " +
          f"rebuild=$tRebuild%6.2f s  merge=$tMerge%6.2f s")
        println(s"""{"bench":"scd","scenario":"$scen","mult":$m,""" +
          s""""log_rows":$nLog,"batch_rows":$nBatch,""" +
          s""""dim_rows":$nRebuild,"rebuild_sec":$tRebuild,""" +
          s""""merge_sec":$tMerge}""")
      }
    }
    spark.stop()
  }
}
