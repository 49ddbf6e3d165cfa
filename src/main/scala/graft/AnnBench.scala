package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.Similarity
import graft.LocalSpark.timed

/** ANN recall/latency curve at a synthesized N× corpus — the numbers
  * behind the "scale path" claims: brute force is the exact baseline
  * (and ground truth); LSH / IVF / PQ are the approximate paths whose
  * recall@k and wall time are measured at one order of magnitude
  * beyond the fixtures.
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.AnnBench <testdata>/sf0.1 10"
  *
  * The N× corpus is DETERMINISTIC (no RNG): copy c of vector v shifts
  * the id by c·10M and perturbs every dimension by a hash-derived
  * offset in [-0.05, 0.05) (xxhash64 of (id, dim, copy)) — copies are
  * near their original but not identical, so the neighbor structure
  * stays non-trivial at every multiple and results are reproducible
  * across runs and partitionings.
  */
object AnnBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val mult = if (args.length > 1) args(1).toInt else 10
    val refine = if (args.length > 2) args(2).toInt else 64
    val k = 10
    val spark = LocalSpark.session()

    val base = new graft.tables.Catalog(spark, sfDir).table("embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val copies = (0 until mult).map { c =>
      if (c == 0) base
      else base.select(
        (col("vec_id") + lit(c * 10000000L)).as("vec_id"),
        transform(col("v"), (x, i) => x +
          (pmod(xxhash64(col("vec_id"), i, lit(c)), lit(1000))
            .cast("double") / 1000.0 - 0.5) * 0.1).as("v"))
    }
    // materialize corpus + queries so every method is time on the
    // SEARCH, not on re-synthesizing its input
    val corpus = copies.reduce(_ unionByName _)
      .repartition(LocalSpark.cpus).localCheckpoint()
    val nCorpus = corpus.count()
    // orderBy before limit: a bare limit takes whatever rows the scan
    // yields first, so the benchmarked query set would depend on file
    // split order — not "reproducible across runs" as claimed above
    val queries = base.filter(col("vec_id") % 100 === 0)
      .orderBy(col("vec_id")).limit(20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .localCheckpoint()
    val nQ = queries.count()

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    // warm the scan/codegen paths once so method 1 isn't charged setup
    corpus.agg(count(lit(1))).collect()

    val (truth, tBrute) = timed(pairs(Similarity.bruteForceTopK(
      corpus, col("vec_id"), col("v"),
      queries, col("query_id"), col("qv"), k)))
    val methods = Seq(
      "lsh" -> (() => Similarity.lshTopK(corpus, col("vec_id"), col("v"),
        queries, col("query_id"), col("qv"), k, planes = 6, tables = 8)),
      "ivf" -> (() => Similarity.ivfTopK(corpus, col("vec_id"), col("v"),
        queries, col("query_id"), col("qv"), k, nlist = 32, nprobe = 8)),
      "pq" -> (() => Similarity.pqTopK(corpus, col("vec_id"), col("v"),
        queries, col("query_id"), col("qv"), k, m = 8, ksub = 16,
        refine = refine)),
      // JL route: search in the 16-dim random projection (4x fewer
      // multiplies per comparison), exact 64-dim re-rank of the top
      // 4k candidates — the projection cost is charged to the method
      "jl16" -> (() => {
        val pc = corpus.select(col("vec_id"),
          graft.llm.Featurize.randomProject(col("v"), 64, 16).as("v"))
        val pq = queries.select(col("query_id"),
          graft.llm.Featurize.randomProject(col("qv"), 64, 16).as("qv"))
        val cand = Similarity.bruteForceTopK(pc, col("vec_id"),
          col("v"), pq, col("query_id"), col("qv"), 4 * k)
        val rer = cand.select(col("query_id"), col("vec_id"))
          .join(corpus, Seq("vec_id"))
          .join(queries, Seq("query_id"))
          .withColumn("sim",
            graft.functions.cosine_sim(col("v"), col("qv")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("vec_id"))
        rer.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k)
      }))

    println(f"corpus=$nCorpus queries=$nQ k=$k dims=64 (${mult}x $sfDir)")
    println(f"${"method"}%-6s ${"recall@10"}%9s ${"sec"}%8s")
    println(f"${"brute"}%-6s ${1.0}%9.3f $tBrute%8.2f")
    val rows = methods.map { case (name, fn) =>
      val (found, t) = timed(pairs(fn()))
      val recall = found.count(truth).toDouble / truth.size
      println(f"$name%-6s $recall%9.3f $t%8.2f")
      (name, recall, t)
    }
    val json = rows.map { case (n, r, t) =>
      s""""$n":{"recall":$r,"sec":$t}""" }.mkString(",")
    println(s"""{"bench":"ann","corpus":$nCorpus,"mult":$mult,"k":$k,""" +
      s""""brute_sec":$tBrute,$json}""")
    spark.stop()
  }
}
