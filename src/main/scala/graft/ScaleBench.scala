package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-shape evidence for the TOP OF THE BENCH PROFILE: run the
  * most expensive non-streaming queries — unchanged, through their
  * own SparkEntry closures — against a synthesized mult× SF dir and
  * report wall(1×) vs wall(mult×). A near-linear ratio is the "would
  * survive 100×" evidence; a super-linear one is a caught
  * accidentally-quadratic shape (AnnBench/DedupBench do this for
  * their domains; this covers the profile's head).
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.ScaleBench <testdata>/sf0.1 10"
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.ScaleBench <testdata>/sf0.1 100 q147,q150"
  *
  * An optional third arg restricts to a prefix-matched subset of the
  * targets (the 100× runs focus on the candidate-pair generators;
  * only the tables that subset reads are synthesized).
  *
  * The mult× corpus scales VOLUME, not density — mult disjoint
  * isomorphic copies, so the true answer grows linearly and any
  * super-linear wall is the PLAN's fault, not the data's:
  *  - documents: copy c shifts doc_id by c·100k (multiple of 10, so
  *    every pmod-10 split — q95's hist/fresh — keeps its meaning,
  *    and max id stays < 1e6, below the variant-id band) and renames
  *    every whitespace token with a copy prefix — a BIJECTION on
  *    tokens, so within-copy shingle/n-gram similarity structure is
  *    exactly the 1× corpus's, while cross-copy Jaccard is 0 (no
  *    synthetic near-dup quadratics; DedupBench measures that
  *    regime separately).
  *  - lineitem: copy c shifts l_orderkey by c·1M and l_partkey by
  *    c·100k (multiple of 4 and 100 — the graph queries' pmod-4
  *    sample and %100 seed sets keep their meaning), so the
  *    co-occurrence graph becomes mult disjoint copies: mult× nodes
  *    and edges, same degree distribution.
  */
object ScaleBench {

  val targets: Seq[String] = Seq(
    "q70_corpus_prep", "q95_incremental_neardup", "q141_pagerank",
    "q146_pagerank_weighted", "q147_triangles",
    "q149_pagerank_dangling", "q150_prefix_filter_jaccard",
    "q206_link_predict", "q219_ppr", "q221_communities",
    // the manifest family: per-partition manifest BUILD cost is the
    // part that scales with data (answers read manifest rows only)
    "q294_quantile_manifest", "q295_vocab_manifest",
    "q300_manifest_health",
    // round-10 continuation: manifest-diff selective recompute (two
    // fingerprint scans + stale-only recompute) and the span-removal
    // census (span index + doc-keyed window)
    "q316_selective_recompute", "q319_span_removal",
    // round-10 second continuation: the posting/plan family — WAND
    // bound census (one postings shuffle), per-rowgroup encoding
    // advisor (melted windowed scan), eval-span contamination (train
    // side never shuffles), manifest-driven range partitioner
    "q324_wand_bounds", "q325_encoding_advisor",
    "q327_contamination_spans", "q329_range_partition_planner",
    // round-11: the new profile heads — the staged co-occurrence
    // graph loop and the two pair-mining consumers (Staged.clear in
    // cleanup() makes every repeat pay the FULL mining cost, so the
    // ratio measures the mining exponent, not a staged parquet read)
    "q333_modularity", "q342_dedup_threshold_sweep",
    "q347_dedup_keeper_policy",
    // round-12: the three-way split + cluster-wise decontamination
    // (pair mining + closure + the corpus-gram × eval-gram broadcast
    // join; same Staged.clear discipline as q342)
    "q356_threeway_decon",
    // round-12 continuation: the DSIR importance pipeline (two
    // vocab-bounded censuses + the token-keyed weight join — the
    // shuffle that must stay linear) and the packed-batch mask
    // metadata (rank-bucketed spans + tokens/L explode)
    "q363_importance_resample", "q364_pack_mask_meta",
    // round-12 third continuation: the epoch-schedule family's
    // representative — quartile exposure explode (~2.5x rows) + the
    // bucketed per-epoch rank build + the resume-cut join
    "q378_resume_schedule",
    // the co-batching audit: within-batch pair sets are ∝ N·(B−1)/2
    // and the three overlap joins shuffle on the pair key — the row
    // proves the audit stays linear, not quadratic, in corpus size
    "q387_seed_overlap",
    // round-12 fourth continuation: the per-source-cap FOLD — three
    // per-batch bucketedRank mines + two K-bounded manifest merges;
    // the row proves batch mining stays linear while the fold cost
    // is K·|sources|-bounded regardless of corpus size
    "q389_cap_fold",
    // the CCNet tertile gate: quality-classifier kernel + score-band
    // bucketedRank over every doc — the rank decomposition must stay
    // linear as the per-source populations grow 100×
    "q396_quality_tertiles",
    // round-13: the training-data-build capstone — the full chain
    // cap → closure → decon → split → takedown → mixture → packing →
    // sharding → digest. With Staged.clear between repeats the wall
    // is dominated by the corpus-proportional mines (cap rank, pair
    // mining, contamination scan); stages downstream of the cap are
    // K·|sources|-bounded BY CONSTRUCTION, so the ratio proves the
    // pipeline's scale cost is its mines, not its composition
    "q403_training_build",
    // the BPE packing twin: corpus-proportional cost is the word
    // explode + broadcast join + spans; the staged vocab encode is
    // distinct-word-bounded (sublinear, Heaps' law) — the row proves
    // the tokenized packing census scales like the whitespace one
    "q404_bpe_packing",
    // round-14: the STREAMING capstone — per-batch manifest mining
    // (tokenize/shingle/hash once) + the drain-time postings join,
    // closure, and chain; nothing staged, so every repeat pays the
    // full streamed mine — the ratio measures the same mining
    // exponent as q403 plus the micro-batch runtime's fixed costs
    "q407_stream_training_build",
    // takedown execution: fragment explode (∝ tokens/L + docs), one
    // chunk-keyed shuffle, two-level digest folds — must stay linear
    "q408_takedown_exec",
    // round-15: the STREAMING EPOCH SERVE — q407's streamed mining
    // plus the selection-bounded epoch stage; same unstaged-by-design
    // discipline, so the ratio is q407's mining exponent + the
    // (bounded) epoch dealing
    "q411_stream_epoch_serve",
    // the takedown FOLD: pack-time manifest builds (spans, fragment
    // index, chunk digests — Staged.clear makes repeats pay them)
    // are the corpus-proportional part; the fold itself must stay
    // ∝ affected chunks + notices
    "q412_takedown_fold",
    // the migration execution: one occurrence scan + two broadcast
    // vocab joins, TWO rank-bucketed packings + fragment digests —
    // the ratio proves the layout-diff manifold stays linear
    "q413_tokenizer_migration")

  /** Tables each target reads — lets a subset run skip synthesizing
    * (and paying for) the others at high mults. */
  private val reads: Map[String, Set[String]] = Map(
    "q70_corpus_prep" -> Set("documents"),
    "q95_incremental_neardup" -> Set("documents"),
    "q141_pagerank" -> Set("lineitem"),
    "q146_pagerank_weighted" -> Set("lineitem"),
    "q147_triangles" -> Set("lineitem"),
    "q149_pagerank_dangling" -> Set("orders"),
    "q150_prefix_filter_jaccard" -> Set("documents"),
    "q206_link_predict" -> Set("lineitem"),
    "q219_ppr" -> Set("lineitem"),
    "q221_communities" -> Set("lineitem"),
    "q294_quantile_manifest" -> Set("events"),
    "q295_vocab_manifest" -> Set("documents"),
    "q300_manifest_health" -> Set("events"),
    "q316_selective_recompute" -> Set("events"),
    "q319_span_removal" -> Set("documents"),
    "q324_wand_bounds" -> Set("documents"),
    "q325_encoding_advisor" -> Set("lineitem"),
    "q327_contamination_spans" -> Set("documents"),
    "q329_range_partition_planner" -> Set("lineitem"),
    "q333_modularity" -> Set("lineitem"),
    "q342_dedup_threshold_sweep" -> Set("documents"),
    "q347_dedup_keeper_policy" -> Set("documents"),
    "q356_threeway_decon" -> Set("documents"),
    "q363_importance_resample" -> Set("documents"),
    "q364_pack_mask_meta" -> Set("documents"),
    "q378_resume_schedule" -> Set("documents"),
    "q387_seed_overlap" -> Set("documents"),
    "q389_cap_fold" -> Set("documents"),
    "q396_quality_tertiles" -> Set("documents"),
    "q403_training_build" -> Set("documents"),
    "q404_bpe_packing" -> Set("documents"),
    "q407_stream_training_build" -> Set("documents"),
    "q408_takedown_exec" -> Set("documents"),
    "q411_stream_epoch_serve" -> Set("documents"),
    "q412_takedown_fold" -> Set("documents"),
    "q413_tokenizer_migration" -> Set("documents"))

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val mult = if (args.length > 1) args(1).toInt else 10
    val chosen: Seq[String] =
      if (args.length > 2)
        args(2).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
          .map(p => targets.find(_.startsWith(p)).getOrElse(
            sys.error(s"no ScaleBench target matches '$p'")))
      else targets
    val needed: Set[String] =
      chosen.flatMap(n => reads.getOrElse(n, Set.empty[String])).toSet
    val spark = LocalSpark.session()

    // ---- synthesize the mult× dir (documents + lineitem: the only
    //      tables the targets read) ----
    val big = Scratch.dir("graft_scalebench").toString
    // copy stride for doc_id: must stay below the variant-id bands
    // (q150 adds +1M, q95/q132 +2M) at mult<=9; past that the copies
    // move to 10M-wide slots so each copy's variants stay INSIDE its
    // own slot (10M is a multiple of every pmod the queries use)
    val docStride = if (mult <= 10) 100000L else 10000000L
    if (needed("documents")) {
      val docs =
        new graft.tables.Catalog(spark, sfDir).table("documents")
      val docCols = docs.columns
      (0 until mult).map { c =>
        if (c == 0) docs
        else docs
          .withColumn("doc_id", col("doc_id") + lit(c * docStride))
          .withColumn("text", array_join(transform(
            split(col("text"), " "),
            x => concat(lit(s"c${c}x"), x)), " "))
          .select(docCols.map(col): _*)
      }.reduce(_ unionByName _)
        .repartition(LocalSpark.cpus)
        .write.parquet(s"$big/documents.parquet")
    }
    if (needed("lineitem")) {
      val li = new graft.tables.Catalog(spark, sfDir).table("lineitem")
      val liCols = li.columns
      (0 until mult).map { c =>
        if (c == 0) li
        else li
          .withColumn("l_orderkey",
            col("l_orderkey") + lit(c * 1000000L))
          .withColumn("l_partkey", col("l_partkey") + lit(c * 100000L))
          .select(liCols.map(col): _*)
      }.reduce(_ unionByName _)
        .repartition(LocalSpark.cpus)
        .write.parquet(s"$big/lineitem.parquet")
    }
    // orders (q149's dangling-mass graph): shift BOTH keys by
    // copy-disjoint offsets — custkey+1M and orderkey+1M keep the
    // bipartite src/dst bands (dst = orderkey + 10M) disjoint per copy
    if (needed("orders")) {
      val ord = new graft.tables.Catalog(spark, sfDir).table("orders")
      val ordCols = ord.columns
      (0 until mult).map { c =>
        if (c == 0) ord
        else ord
          .withColumn("o_orderkey",
            col("o_orderkey") + lit(c * 1000000L))
          .withColumn("o_custkey", col("o_custkey") + lit(c * 1000000L))
          .select(ordCols.map(col): _*)
      }.reduce(_ unionByName _)
        .repartition(LocalSpark.cpus)
        .write.parquet(s"$big/orders.parquet")
    }
    // events (manifest-family queries): event_id shifts by 1M (a
    // multiple of every pmod the queries use: 2, 4, 8, 10), user_id
    // by 100k — mult disjoint user populations, same per-user shape
    if (needed("events")) {
      val evt = new graft.tables.Catalog(spark, sfDir).table("events")
      val evtCols = evt.columns
      (0 until mult).map { c =>
        if (c == 0) evt
        else evt
          .withColumn("event_id", col("event_id") + lit(c * 1000000L))
          .withColumn("user_id", col("user_id") + lit(c * 100000L))
          .select(evtCols.map(col): _*)
      }.reduce(_ unionByName _)
        .repartition(LocalSpark.cpus)
        .write.parquet(s"$big/events.parquet")
    }

    // warmup (the Bench discipline): scan + agg + sort codegen once
    spark.range(1000000L).selectExpr("sum(id)").collect()

    def cleanup(): Unit = {
      // LocalSpark.release, minus the synthesized input dir
      spark.catalog.clearCache()
      graft.streaming.EventStream.dropSinkViews(spark)
      Scratch.sweepExcept(big)
      // every repeat pays the FULL build (see targets note)
      graft.operators.Staged.clear()
    }
    def best2(fn: => DataFrame): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      // rdd.count() deserializes FULL rows: a bare count() lets
      // Catalyst prune every column and then ELIMINATE branches the
      // row count doesn't need (observed: q319's unique-keyed left
      // join — and with it the whole span index — optimized away,
      // measuring fixed overhead as the wall)
      fn.rdd.count()
      val dt = (System.nanoTime() - t0) / 1e9
      cleanup()
      dt
    }.min

    println(f"${"query"}%-28s ${"1x"}%8s ${mult + "x"}%8s ratio")
    val rows = chosen.map { name =>
      val fn = SparkEntry.queries(name)
      val t1 = best2(fn(spark, sfDir))
      val tN = best2(fn(spark, big))
      println(f"$name%-28s $t1%8.2f $tN%8.2f ${tN / t1}%5.1fx")
      (name, t1, tN)
    }
    val line = rows.map { case (n, t1, tN) =>
      String.format(java.util.Locale.ROOT,
        "\"%s\":{\"t1\":%.2f,\"tN\":%.2f,\"ratio\":%.2f}",
        n, Double.box(t1), Double.box(tN), Double.box(tN / t1))
    }.mkString(s"""{"bench":"scale","mult":$mult,"sf":"$sfDir",""", ",",
      "}")
    println(line)
    Scratch.sweep()
    spark.stop()
  }
}
