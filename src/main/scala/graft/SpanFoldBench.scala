package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures the q351 contract with numbers: folding a FIXED fresh
  * batch through [[graft.llm.Dedup.spanRemovalFold]] must cost
  * O(batch + manifest-merge), not O(history) — history is never
  * re-tokenized; the only history-proportional cost left is the
  * columnar manifest join. The comparison row is the full rebuild
  * ([[graft.llm.Dedup.spanRemovalCensus]] over history ∪ batch),
  * which IS O(history).
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.SpanFoldBench <testdata>/sf0.1 10"
  *
  * History synthesis: `m` token-renamed copies of documents (the
  * ScaleBench discipline — bijective renames keep within-copy span
  * structure, cross-copy spans disjoint, so the manifest grows ∝ m);
  * ids shift by 10M per copy; the fresh batch's ids sit above every
  * history band (the fold's id-monotonicity precondition).
  */
object SpanFoldBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val mult = if (args.length > 1) args(1).toInt else 10
    val spark = LocalSpark.session()

    val docs = new graft.tables.Catalog(spark, sfDir).table("documents")
      .select(col("doc_id"), col("text"))

    def histAt(m: Int): DataFrame =
      (0 until m).map { c =>
        if (c == 0) docs
        else docs
          .withColumn("doc_id", col("doc_id") + lit(c * 10000000L))
          .withColumn("text", array_join(transform(
            split(col("text"), " "),
            x => concat(lit(s"c${c}x"), x)), " "))
      }.reduce(_ unionByName _)

    // fixed fresh batch: near-dup variants of copy-0 docs, ids above
    // every history band
    val fresh = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 900000000L).as("doc_id"),
        col("text").substr(lit(1),
          greatest(length(col("text")) - 30, lit(1))).as("text"))
      .localCheckpoint()
    // tiny seed batch between the bands: lets the manifest build run
    // UNTIMED through the incremental path before the timed fold
    import spark.implicits._
    val seed = Seq((800000000L, "span fold bench seed doc"))
      .toDF("doc_id", "text")

    val dedup = graft.llm.Dedup
    println(f"${"hist"}%-6s ${"fold"}%8s ${"rebuild"}%8s ratio")
    val rows = Seq(1, mult).map { m =>
      val hist = histAt(m).localCheckpoint()
      val idx = Scratch.dir(s"graft_sfb_$m").toString + "/idx"
      // manifest build (untimed): one history pass, as in production
      dedup.spanRemovalIncremental(hist, seed,
        col("doc_id"), col("text"), idx, n = 20).rdd.count()
      val (_, tFold) = LocalSpark.timed {
        dedup.spanRemovalFold(fresh, col("doc_id"), col("text"),
          idx, n = 20).rdd.count()
      }
      val (_, tRebuild) = LocalSpark.timed {
        dedup.spanRemovalCensus(hist.unionByName(fresh),
          col("doc_id"), col("text"), n = 20, minDocs = 2).rdd.count()
      }
      println(f"${m + "x"}%-6s $tFold%8.2f $tRebuild%8.2f " +
        f"${tRebuild / tFold}%5.1fx")
      graft.llm.Lifecycle.release(hist)
      (m, tFold, tRebuild)
    }
    val line = rows.map { case (m, f, r) =>
      String.format(java.util.Locale.ROOT,
        "\"%dx\":{\"fold\":%.2f,\"rebuild\":%.2f}", Int.box(m),
        Double.box(f), Double.box(r))
    }.mkString(s"""{"bench":"span_fold","mult":$mult,""", ",", "}")
    println(line)
    Scratch.sweep()
    spark.stop()
  }
}
