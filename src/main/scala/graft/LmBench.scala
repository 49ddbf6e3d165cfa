package graft

import org.apache.spark.sql.functions._
import graft.llm.{LangModel, Pipelines}
import graft.LocalSpark.timed

/** N-gram LM scale curve at a synthesized N× documents corpus — the
  * language-model companion of [[DedupBench]]: measures train (count
  * tables) and score wall time plus the model-table sizes, showing
  * the two claims q103 rides on:
  *
  *  - the transition frame and bigram table grow LINEARLY with the
  *    corpus (narrow (prev, cur) rows, map-side-combining groupBys —
  *    never the text itself);
  *  - the unigram side stays broadcastable (vocabulary growth is
  *    Heaps-law sublinear), so scoring joins never shuffle the corpus.
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.LmBench <testdata>/sf0.1 10"
  *
  * The N× corpus reuses [[DedupBench]]'s deterministic construction
  * (copy c shifts ids by c·10M and truncates a hash-derived tail), so
  * token volume scales ~N× with realistic repetition. */
object LmBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val mult = if (args.length > 1) args(1).toInt else 10
    val spark = LocalSpark.session()

    val base = new graft.tables.Catalog(spark, sfDir).table("documents")
      .select(col("doc_id"), col("text"))
    val copies = (0 until mult).map { c =>
      if (c == 0) base
      else base.select(
        (col("doc_id") + lit(c * 10000000L)).as("doc_id"),
        col("text").substr(lit(1), greatest(
          length(col("text")) -
            (pmod(xxhash64(col("doc_id"), lit(c)), lit(60)) + 10)
              .cast("int"),
          lit(1))).as("text"))
    }
    val corpus = copies.reduce(_ unionByName _)
      .repartition(LocalSpark.cpus).localCheckpoint()
    val nDocs = corpus.count()
    val train = corpus.filter(Pipelines.hashBucket(col("doc_id")) < 80)
    val test = corpus.filter(Pipelines.hashBucket(col("doc_id")) >= 90)

    // TRAIN: materialize both count tables (checkpoint = the at-rest
    // model a production run would persist); sizes are the scale story
    val ((uni, bi), tTrain) = timed {
      val u = LangModel.unigrams(train, col("text")).localCheckpoint()
      val b = LangModel.bigrams(train, col("text")).localCheckpoint()
      (u, b)
    }
    val nUni = uni.count()
    val nBi = bi.count()
    // SCORE: the held-out split against the materialized tables
    val (nScored, tScore) = timed {
      LangModel.scoreDocs(test, col("doc_id"), col("text"),
        uni, bi, lambda = 0.5, k = 1.0).count()
    }

    println(f"corpus=$nDocs docs (${mult}x $sfDir)")
    println(f"${"train counts"}%-14s $tTrain%8.2f s  " +
      s"unigrams=$nUni bigrams=$nBi")
    println(f"${"score"}%-14s $tScore%8.2f s  docs=$nScored")
    println(s"""{"bench":"lm","corpus":$nDocs,"mult":$mult,""" +
      s""""train_sec":$tTrain,"unigrams":$nUni,"bigrams":$nBi,""" +
      s""""score_sec":$tScore,"scored_docs":$nScored}""")
    spark.stop()
  }
}
