package graft

import org.apache.spark.sql.functions._
import graft.LocalSpark.timed

/** BPE training driver-round curve: trains the same vocabulary
  * sequentially (batchSize 1) and batched, asserts the merge tables
  * are IDENTICAL (the exactness law, at bench scale), and reports the
  * wall time and distributed-round counts — the measured number
  * behind "batching cuts the driver loop ~batchSize× at any corpus
  * size" (a 30-50k-rule production vocabulary is infeasible at one
  * Spark job per merge).
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.BpeBench <testdata>/sf0.1 48 8"
  *
  * ENCODE-CURVE mode (4th arg = corpus multiplier, 5th optional
  * "encode" flag forced when numMerges > 64): trains batched ONLY
  * (the sequential twin at ~1k rules would be thousands of Spark
  * jobs; exactness is already a law at bench scale), then measures
  * the q404/q405 serving path at a PRODUCTION-ish rule count —
  * staged-vocab build wall (Bpe.vocabLengths' chunked application),
  * vocab-table row count, and the corpus encode wall (occurrence
  * explode + broadcast vocab join + per-doc sum). The multiplier
  * synthesizes disjoint isomorphic copies with token-renamed text
  * (the ScaleBench bijection), so vocab grows ~mult× and the row
  * answers the r13 verdict's open question: do the broadcast-join
  * plan's constants hold when BOTH the rule count and the vocab
  * table grow?
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.BpeBench <testdata>/sf0.1 1000 64 1"
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.BpeBench <testdata>/sf0.1 1000 64 10"
  *
  * ZIPF mode (1st arg = "zipf"): the sf0.1 corpus has a 31-WORD
  * vocabulary, so pair exhaustion stops BPE at 89 accepted rules and
  * the 1k-rule / vocab-table axes never engage (the r14 honest
  * caveat). This mode synthesizes a NATURAL-vocabulary corpus with
  * no RNG: `vocab` distinct words spelled from 5 base-7 syllables
  * (10-char words — real pair structure for the trainer), dealt
  * Zipf(s=1) by inverse CDF over a per-(doc, pos) md5 32-bit
  * uniform (rank = floor(V^u) — exact integer clamp; exp/ln feed a
  * BENCH corpus, not an oracle). 5000·mult docs × 120 tokens. Then
  * the full serving path measures at a real rule count: batched
  * train (accepted rules + driver rounds), chunked vocab build,
  * broadcast encode.
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.BpeBench zipf 1000 64 1"
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.BpeBench zipf 1000 64 1 10000"
  */
object BpeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val numMerges = if (args.length > 1) args(1).toInt else 48
    val batch = if (args.length > 2) args(2).toInt else 8
    val mult = if (args.length > 3) args(3).toInt else 1
    val encodeMode = numMerges > 64 || args.length > 4
    val spark = LocalSpark.session()

    val zipfMode = sfDir == "zipf"
    val vocabSize = if (args.length > 4) args(4).toInt else 10000
    // deterministic Zipf(s=1) corpus: per-position 32-bit md5
    // uniform -> rank = clamp(floor(V^u), 1, V) (inverse CDF of the
    // ~ln-uniform Zipf cumulative); the word for rank r is 5 base-7
    // syllables (~10 chars — real pair structure for the trainer).
    // All Column expressions: synthesized distributed, no RNG, no
    // driver loop. mult scales DOCS with the vocab FIXED — the
    // complementary axis to the encode-curve's rename bijection
    // (which scales vocab WITH the corpus).
    def zipfCorpus(nDocs: Long): org.apache.spark.sql.DataFrame = {
      val sylls = array(Seq("ba", "ce", "di", "fo", "gu", "he",
        "ki").map(lit): _*)
      def spell(r: org.apache.spark.sql.Column) = concat(
        (4 to 0 by -1).map { p =>
          val div = math.pow(7, p).toLong
          element_at(sylls,
            pmod(floor(r / lit(div.toDouble)).cast("long"),
              lit(7L)).cast("int") + 1)
        }: _*)
      spark.range(nDocs).select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(1), lit(120)), i => {
          val u = conv(substring(md5(concat(i.cast("string"),
            lit("@"), col("id").cast("string")).cast("binary")),
            1, 8), 16, 10).cast("double")
          spell(least(greatest(
            floor(pow(lit(vocabSize.toDouble), u / 4294967296.0)),
            lit(1.0)), lit(vocabSize.toDouble)).cast("long") - 1)
        }), " ").as("text"))
    }
    val base =
      if (zipfMode) zipfCorpus(5000L * mult)
      else new graft.tables.Catalog(spark, sfDir).table("documents")
        .select(col("doc_id"), col("text"))
    // mult disjoint isomorphic copies, token-renamed (the ScaleBench
    // bijection): linear corpus volume, ~mult× distinct-word vocab.
    // Copy bands derive from max(doc_id)+1, NOT a fixed 100000 (r14
    // advice): a corpus whose base ids reach the fixed stride would
    // silently merge copy ids with base ids and collapse the claimed
    // disjoint-copy bijection. [c·band, c·band+mx] ⊂ [c·band,
    // (c+1)·band) makes the bands disjoint BY CONSTRUCTION.
    val band = if (zipfMode) 0L else math.max(100000L,
      base.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1L)
    val docs = (if (zipfMode) base // mult already scaled the doc count
      else (0 until mult).map { c =>
        if (c == 0) base
        else base
          .withColumn("doc_id", col("doc_id") + lit(c * band))
          .withColumn("text", array_join(transform(
            split(col("text"), " "),
            x => concat(lit(s"c${c}x"), x)), " "))
      }.reduce(_ unionByName _))
      .repartition(LocalSpark.cpus)
      .localCheckpoint()
    docs.count()

    if (!encodeMode) {
      val ((seqMerges, seqRounds), tSeq) = timed(
        graft.llm.Bpe.trainWithStats(spark, docs, col("text"), numMerges))
      val ((batMerges, batRounds), tBat) = timed(
        graft.llm.Bpe.trainWithStats(spark, docs, col("text"), numMerges,
          batchSize = batch))
      require(seqMerges == batMerges,
        "EXACTNESS VIOLATION: batched merge table diverged from sequential")

      println(f"merges=${seqMerges.size} (asked $numMerges)")
      println(f"${"sequential"}%-12s $tSeq%8.2f s  rounds=$seqRounds")
      println(f"${"batch=" + batch}%-12s $tBat%8.2f s  rounds=$batRounds  " +
        f"identical=${seqMerges == batMerges}")
      println(s"""{"bench":"bpe","merges":${seqMerges.size},""" +
        s""""seq_sec":$tSeq,"seq_rounds":$seqRounds,""" +
        s""""batch":$batch,"batch_sec":$tBat,""" +
        s""""batch_rounds":$batRounds}""")
    } else {
      // zipf mode also measures the PRODUCTION training path —
      // trainLocal's driver-side merge loop over the Heaps-bounded
      // word table — against the distributed batched trainer, and
      // asserts the merge tables are IDENTICAL (the exactness law at
      // real rule counts: 1000 rules on a 10k-word natural vocab)
      val (localMerges, tLocal) =
        if (zipfMode) {
          val (r, t) = timed(graft.llm.Bpe.trainLocal(spark, docs,
            col("text"), numMerges))
          (Some(r), t)
        } else (None, 0.0)
      val ((merges, rounds), tTrain) = timed(
        graft.llm.Bpe.trainWithStats(spark, docs, col("text"),
          numMerges, batchSize = batch))
      localMerges.foreach { lm =>
        require(lm == merges,
          "EXACTNESS VIOLATION: trainLocal diverged from the " +
            "distributed batched trainer")
        println(f"trainLocal=$tLocal%.2f s (1 distributed job) vs " +
          f"distributed batched=? s (rounds below) — tables identical")
      }
      val (vocab, tVocab) = timed {
        val v = graft.llm.Bpe.vocabLengths(spark, docs, col("text"),
          merges).localCheckpoint()
        v.count() // materialize: the build wall, not a lazy stub
        v
      }
      val vocabRows = vocab.count()
      val (encTok, tEncode) = timed {
        docs.select(col("doc_id"),
            explode(graft.llm.TextAnalysis.tokens(col("text")))
              .as("word"))
          .join(broadcast(vocab), Seq("word"))
          .groupBy(col("doc_id"))
          .agg(sum(col("wn")).as("n_tok"))
          .agg(sum(col("n_tok"))).collect()(0).getLong(0)
      }
      println(f"merges=${merges.size} (asked $numMerges)  " +
        f"rounds=$rounds  train=$tTrain%.2f s")
      println(f"vocab build=$tVocab%.2f s  rows=$vocabRows  " +
        f"encode=$tEncode%.2f s  bpe_tokens=$encTok  mult=$mult")
      println(s"""{"bench":"bpe_encode","merges":${merges.size},""" +
        s""""batch":$batch,"mult":$mult,"train_sec":$tTrain,""" +
        s""""rounds":$rounds,"vocab_sec":$tVocab,""" +
        s""""vocab_rows":$vocabRows,"encode_sec":$tEncode,""" +
        s""""bpe_tokens":$encTok,"train_local_sec":$tLocal}""")
    }
    spark.stop()
  }
}
