package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Kmv
import graft.LocalSpark.timed

/** Rolling-distinct scale curve: the EXACT trailing-7-day WAU (q167's
  * grid range-join over every distinct (day,user) pair) vs the KMV
  * sketch path (q190's per-day min-k merge) at an N× synthesized user
  * population — the crossover the sketch exists for: the exact path's
  * window cost grows with DISTINCT ACTIVES × 7, the sketch path's
  * with k × 7 per day regardless of population.
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.RollBench <testdata>/sf0.1 10"
  *
  * The N× population is deterministic: copy c of event e re-keys the
  * user by c·10M (same-day activity pattern preserved), so each
  * multiple scales the distinct-user count without touching the
  * calendar shape. Prints per-path walls and the worst relative
  * sketch error across the window series.
  */
object RollBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val mult = if (args.length > 1) args(1).toInt else 10
    val k = if (args.length > 2) args(2).toInt else 256
    val spark = LocalSpark.session()

    val base = new graft.tables.Catalog(spark, sfDir).table("events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val events = (0 until mult).map { c =>
      if (c == 0) base
      else base.select(col("day"),
        (col("user_id") + lit(c * 10000000L)).as("user_id"))
    }.reduce(_ unionByName _).repartition(LocalSpark.cpus).localCheckpoint()

    val grid = events.agg(min(col("day")).as("__lo"),
        max(col("day")).as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"),
        expr("interval 1 day"))).as("gday"))

    // exact path: distinct (day,user) × 7-day grid join
    val (exact, tExact) = timed {
      val du = events.distinct()
      broadcast(grid)
        .join(du, col("day").between(date_sub(col("gday"), 6),
          col("gday")))
        .groupBy(col("gday"))
        .agg(count_distinct(col("user_id")).as("wau"))
        .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    }

    // sketch path: per-day min-k, window merge, estimate. The naive
    // form ranks EVERY distinct hash (the per-day window dominates the
    // wall); the threshold PREFILTER keeps only hashes below
    // ~4k/n_day · 2⁴⁸ before ranking — the expected survivor count is
    // ~4k per day, so the rank window touches thousands of rows, not
    // millions, and the k smallest are below the cut with
    // overwhelming probability (4× safety margin; a day whose
    // estimate undershoots merely ranks a few more rows).
    val (est, tSketch) = timed {
      // the distinct frame feeds BOTH the per-day estimate and the
      // cut — persist it or the lineage (scan+hash+distinct) runs
      // twice and the "optimization" doubles the wall
      val dh = events.select(col("day"),
          Kmv.h48(col("user_id")).as("h")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nd = dh.groupBy(col("day"))
        .agg(approx_count_distinct(col("h")).as("__nd"))
      val cut = dh.join(broadcast(nd), Seq("day"))
        .filter(col("__nd") <= k * 2 ||
          col("h") <= (lit(4.0 * k) / col("__nd") *
            281474976710656.0).cast("long"))
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("day")).orderBy(col("h"))
      val daily = cut.withColumn("__rn", row_number().over(wd))
        .filter(col("__rn") <= k).drop("__rn", "__nd")
      val wg = org.apache.spark.sql.expressions.Window
        .partitionBy(col("gday")).orderBy(col("h"))
      broadcast(grid)
        .join(daily, col("day").between(date_sub(col("gday"), 6),
          col("gday")))
        .select(col("gday"), col("h")).distinct()
        .withColumn("__rn", row_number().over(wg))
        .filter(col("__rn") <= k)
        .groupBy(col("gday"))
        .agg(count(lit(1)).as("__c"), max(col("h")).as("__hk"))
        .select(col("gday"),
          when(col("__c") < k, col("__c").cast("double"))
            .otherwise(lit((k - 1).toDouble * 281474976710656.0) /
              col("__hk").cast("double")).as("e"))
        .collect().map(r => r.getDate(0).toString -> r.getDouble(1)).toMap
    }
    spark.catalog.clearCache()

    val errs = exact.keys.toSeq.sorted.map { d =>
      val e = est.getOrElse(d, 0.0)
      math.abs(e - exact(d)) / math.max(exact(d).toDouble, 1.0)
    }
    println(f"[rollbench] mult=$mult k=$k days=${exact.size} " +
      f"distinctActives=${events.distinct().count()} " +
      f"exactWall=$tExact%.2fs sketchWall=$tSketch%.2fs " +
      f"maxRelErr=${errs.max}%.4f meanRelErr=${errs.sum / errs.size}%.4f")
    spark.stop()
  }
}
