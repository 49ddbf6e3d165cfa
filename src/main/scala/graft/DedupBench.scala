package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, TextAnalysis}
import graft.LocalSpark.timed

/** Near-dup dedup scale curve at a synthesized N× documents corpus —
  * the text-side companion of [[AnnBench]]: exact df-capped n-gram
  * Jaccard is the ground truth; MinHash+LSH is the approximate path
  * whose recall and wall time are measured at one order of magnitude
  * beyond the fixtures, plus transitive clustering over the found
  * pairs.
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.DedupBench <testdata>/sf0.1 10"
  *
  * The N× corpus is DETERMINISTIC: copy c of doc d shifts the id by
  * c·10M and truncates a hash-derived number of tail characters
  * (xxhash64(id, c) % 60 + 10), so each copy is a NEAR-duplicate of
  * its original (the q95 construction at scale) — every multiple adds
  * both corpus volume and real near-dup structure. */
object DedupBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val mult = if (args.length > 1) args(1).toInt else 10
    // the df-cap must scale with the synthetic copy multiplicity: every
    // shingle's document frequency inflates ~mult× (each doc gains mult
    // near-copies), so a FIXED cap would prune most of the shingle
    // space at high mult and the "exact" Jaccard would no longer
    // measure the same space LSH verifies in
    val maxDf = if (args.length > 2) args(2).toInt else 16 * mult
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

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    // ONE staged shingle scan feeds both methods (the pipeline shape
    // q95 uses); time separately so methods are charged only their
    // own joins
    val (staged, tStage) = timed {
      val s = corpus.select(col("doc_id").as("id"),
        TextAnalysis.shingleHashes(col("text"), 3).as("sh"))
        .localCheckpoint()
      s.count()
      s
    }

    val (exact, tExact) = timed(pairs(Dedup.ngramJaccardPairsFromShingles(
      staged.select(col("id"), col("sh").as("s")),
      threshold = 0.5, maxDf = maxDf)))
    val lshDf = Dedup.minhashPairsFromShingles(
        staged, numHashes = 64, bands = 16, threshold = 0.5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (found, tLsh) = timed(pairs(lshDf))
    val recall = if (exact.isEmpty) 1.0
      else found.count(exact).toDouble / exact.size

    // transitive clustering over the (cached) LSH pairs — the
    // survivor-selection input; rounds are O(log diameter)
    val (nClusters, tCc) = timed {
      Dedup.connectedComponents(lshDf, col("id_a"), col("id_b"))
        .select(col("comp")).distinct().count()
    }

    // --- SemDeDup quantizer balance at this corpus size: the Σ|cell|²
    // within-cell pair bound is only as good as the worst cell, so
    // measure the histogram under BOTH quantizers on the adversarial
    // input (stopword-correlated hashed-BoW vectors): lowest-id (zero
    // training) vs KMeans.fit. `quad` is Σn² normalized by the even
    // split N²/k — 1.0 means the bound holds exactly; k means the
    // quantizer degenerated to one cell.
    val k = 16
    val vecs = graft.llm.Featurize.hashedBow(corpus, col("doc_id"),
        col("text"), dim = 32)
      .localCheckpoint()
    def balance(hist: Array[(Int, Long)]): (Double, Double) = {
      val n = hist.map(_._2).sum.toDouble
      val worst = hist.map(_._2).max / n
      val quad = hist.map(c => c._2.toDouble * c._2).sum / (n * n / k)
      (worst, quad)
    }
    val (lowHist, tLow) = timed(graft.llm.SemDedup.cellHistogram(
      graft.llm.SemDedup.assign(vecs, col("doc_id"), col("v"), nlist = k)))
    val (fitRes, tFit) = timed {
      val m = graft.llm.KMeans.fit(vecs, col("doc_id"), col("v"),
        k = k, iters = 4)
      graft.llm.SemDedup.cellHistogram(
        graft.llm.SemDedup.assignFitted(vecs, col("doc_id"), col("v"), m))
    }
    val (lowWorst, lowQuad) = balance(lowHist)
    val (fitWorst, fitQuad) = balance(fitRes)

    // --- LSH bucket guard on a DELIBERATELY clustered embedding
    // corpus: half the vectors are one tight cluster (copies of a
    // single base vector + tiny id-derived jitter), so every member
    // shares a bucket in EVERY table and the unguarded per-bucket
    // self-join degenerates toward (N/2)² candidate pairs. The
    // bucketCap guard must (a) bound the worst bucket, (b) collapse
    // Σn² toward the capped bound, (c) keep pair recall ~1 (a split
    // pair still meets in the other tables).
    val nVec = 4000
    val emb = new graft.tables.Catalog(spark, sfDir).table("embeddings")
      .select(col("vec_id"), col("embedding")).limit(nVec)
      .localCheckpoint()
    val baseVec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    val clustered = emb.select(col("vec_id"),
        when(col("vec_id") % 2 === 0,
          // jitter ~1e-4 on one component: distinct vectors, same bucket
          transform(lit(baseVec.toArray), (x, i) =>
            x + when(i === pmod(col("vec_id"), lit(64)).cast("int"),
              lit(1e-4f) * pmod(col("vec_id"), lit(7)).cast("float"))
              .otherwise(lit(0.0f))))
          .otherwise(col("embedding")).as("v"))
      .localCheckpoint()
    val cap = 256L
    def bucketStats(df: DataFrame): (Double, Double, Long) = {
      val hist = df.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .select(col("n")).collect().map(_.getLong(0))
      val tot = hist.sum.toDouble
      (hist.max / tot, hist.map(n => n.toDouble * n).sum, hist.length)
    }
    val explodedB = clustered.select(col("vec_id").as("id"), col("v"))
      .withColumn("bucket", explode(
        graft.llm.Similarity.lshBuckets(col("v"), 4, 8)))
    val (rawStats, tRawH) = timed(bucketStats(explodedB))
    val (capStats, tCapH) = timed(bucketStats(
      graft.llm.SemDedup.splitOversizedKeys(explodedB, "bucket", "id",
        cap)))
    val (rawPairs, tRawP) = timed(pairs(Dedup.embeddingPairs(
      clustered, col("vec_id"), col("v"), threshold = 0.99)))
    val (capPairs, tCapP) = timed(pairs(Dedup.embeddingPairs(
      clustered, col("vec_id"), col("v"), threshold = 0.99,
      bucketCap = Some(cap))))
    val guardRecall = if (rawPairs.isEmpty) 1.0
      else capPairs.count(rawPairs).toDouble / rawPairs.size

    // --- PPJoin skew evidence: a DELIBERATELY boilerplate-heavy
    // corpus — a fixed 16-word footer appended to every even doc_id,
    // so each footer shingle lands in ~50% of documents. The claim
    // under test is the prefix-filter comment's "hot shingles sort
    // last per doc, so they almost never enter a prefix": measured as
    // the prefix-join candidate count vs the naive postings-join
    // bound Σ df·(df−1)/2 (what joining EVERY shingle's posting list
    // would generate — the hot shingles alone contribute ~(N/2)²/2
    // pairs each). Run at 1× and at mult× so the gap's growth rate is
    // visible, not just its size.
    val footer = " please subscribe to our newsletter and accept the" +
      " cookie policy to continue reading this free article today"
    def withFooter(c: DataFrame): DataFrame = c.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(col("text"), lit(footer)))
        .otherwise(col("text")).as("text"))
    // (docs, naive postings bound, hot-shingle df, candidates, sec)
    def ppjoin(c: DataFrame): (Long, Long, Long, Long, Double) = {
      val shing = c.select(col("doc_id").as("id"),
          TextAnalysis.shingleHashes(col("text"), 3).as("s"))
        .localCheckpoint()
      val census = shing
        .select(col("id"), explode(array_distinct(col("s"))).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("df"))
      val Array(bound, hot) = census
        .agg(sum(col("df") * (col("df") - 1) / 2).cast("long"),
          max(col("df")).cast("long"))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      val (nCand, t) = timed(
        Dedup.prefixFilterCandidates(shing, 0.5).count())
      (c.count(), bound, hot, nCand, t)
    }
    val pp1c = ppjoin(base) // clean baselines: same corpora, no footer
    val ppNc = ppjoin(corpus)
    val pp1 = ppjoin(withFooter(base))
    val ppN = ppjoin(withFooter(corpus))

    println(f"corpus=$nDocs docs (${mult}x $sfDir) maxDf=$maxDf")
    println(f"${"stage shingles"}%-18s $tStage%8.2f s")
    println(f"${"exact jaccard"}%-18s $tExact%8.2f s  pairs=${exact.size}")
    println(f"${"minhash+lsh"}%-18s $tLsh%8.2f s  pairs=${found.size} " +
      f"recall=$recall%.3f")
    println(f"${"clustering"}%-18s $tCc%8.2f s  clusters=$nClusters")
    println(f"${"cells lowest-id"}%-18s $tLow%8.2f s  " +
      f"worst=$lowWorst%.3f quad=$lowQuad%.2f " +
      s"hist=${lowHist.map(_._2).sorted.reverse.mkString(",")}")
    println(f"${"cells fitted"}%-18s $tFit%8.2f s  " +
      f"worst=$fitWorst%.3f quad=$fitQuad%.2f " +
      s"hist=${fitRes.map(_._2).sorted.reverse.mkString(",")}")
    println(f"${"buckets raw"}%-18s $tRawH%8.2f s  " +
      f"worst=${rawStats._1}%.3f sum_n2=${rawStats._2}%.3e " +
      f"buckets=${rawStats._3} (clustered $nVec vecs, ${tRawP}%.2f s " +
      f"pair scan, ${rawPairs.size} pairs)")
    println(f"${"buckets capped"}%-18s $tCapH%8.2f s  " +
      f"worst=${capStats._1}%.3f sum_n2=${capStats._2}%.3e " +
      f"buckets=${capStats._3} (cap=$cap, ${tCapP}%.2f s pair scan, " +
      f"${capPairs.size} pairs, guard_recall=$guardRecall%.3f)")
    println(f"${"ppjoin 1x clean"}%-18s ${pp1c._5}%8.2f s  " +
      f"docs=${pp1c._1} cand=${pp1c._4} naive_bound=${pp1c._2} " +
      f"hot_df=${pp1c._3}")
    println(f"${"ppjoin 1x+footer"}%-18s ${pp1._5}%8.2f s  " +
      f"docs=${pp1._1} cand=${pp1._4} naive_bound=${pp1._2} " +
      f"hot_df=${pp1._3}")
    println(f"${"ppjoin Nx clean"}%-18s ${ppNc._5}%8.2f s  " +
      f"docs=${ppNc._1} cand=${ppNc._4} naive_bound=${ppNc._2} " +
      f"hot_df=${ppNc._3}")
    println(f"${"ppjoin Nx+footer"}%-18s ${ppN._5}%8.2f s  " +
      f"docs=${ppN._1} cand=${ppN._4} naive_bound=${ppN._2} " +
      f"hot_df=${ppN._3}")
    println(s"""{"bench":"dedup","corpus":$nDocs,"mult":$mult,""" +
      s""""ppjoin_cand_1x_clean":${pp1c._4},""" +
      s""""ppjoin_cand_1x":${pp1._4},"ppjoin_bound_1x":${pp1._2},""" +
      s""""ppjoin_hotdf_1x":${pp1._3},"ppjoin_sec_1x":${pp1._5},""" +
      s""""ppjoin_cand_nx_clean":${ppNc._4},""" +
      s""""ppjoin_cand_nx":${ppN._4},"ppjoin_bound_nx":${ppN._2},""" +
      s""""ppjoin_hotdf_nx":${ppN._3},"ppjoin_sec_nx":${ppN._5},""" +
      s""""stage_sec":$tStage,"exact_sec":$tExact,""" +
      s""""exact_pairs":${exact.size},"lsh_sec":$tLsh,""" +
      s""""lsh_pairs":${found.size},"recall":$recall,""" +
      s""""cc_sec":$tCc,"clusters":$nClusters,""" +
      s""""cell_worst_lowid":$lowWorst,"cell_quad_lowid":$lowQuad,""" +
      s""""cell_worst_fitted":$fitWorst,"cell_quad_fitted":$fitQuad,""" +
      s""""fit_sec":$tFit,""" +
      s""""bucket_worst_raw":${rawStats._1},""" +
      s""""bucket_sumn2_raw":${rawStats._2},""" +
      s""""bucket_worst_capped":${capStats._1},""" +
      s""""bucket_sumn2_capped":${capStats._2},""" +
      s""""bucket_pairs_raw":${rawPairs.size},""" +
      s""""bucket_pairs_capped":${capPairs.size},""" +
      s""""bucket_guard_recall":$guardRecall,""" +
      s""""bucket_pair_sec_raw":$tRawP,""" +
      s""""bucket_pair_sec_capped":$tCapP}""")
    spark.stop()
  }
}
