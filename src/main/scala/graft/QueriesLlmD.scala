package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Contamination, Dedup}
import graft.llm.TextAnalysis
import QueryShared._

/** Round-13 queries: the training-data-build capstone (q403) and the
  * BPE-token fold twins — the round-12 training-prep families
  * COMPOSED into the production pipeline they exist for.
  *
  * Reference semantics: public data-pipeline recipes (per-domain
  * caps, near-dup decontaminated splits, UniMax mixtures, context
  * packing, rank sharding, corpus digests) re-expressed Spark-first;
  * the JX/ETL surface they compose with is SURVEY.md §2.
  */
private[graft] object QueriesLlmD {

  /** Melt a one-row metrics frame into (stage, metric, value) rows —
    * the capstone's long-format census shape (every value BIGINT so
    * the whole pipeline pins under the hard hash gate). */
  private def melt(stage: String, oneRow: DataFrame): DataFrame = {
    // coalesce to 0: a sum() over an empty stage frame is NULL in
    // Spark while the oracle's coalesce convention pins 0 — all the
    // capstone metrics are counts/sums where empty ≡ 0
    val kv = oneRow.columns.flatMap(c =>
      Seq(lit(c), coalesce(col(c).cast("long"), lit(0L))))
    oneRow.select(explode(map(kv.toIndexedSeq: _*)))
      .select(lit(stage).as("stage"), col("key").as("metric"),
        col("value"))
  }

  /** STAGED (word -> BPE length) table for the q404/q405 twins: the
    * 10-rule merge table trains once (batched trainer, the q129
    * surface), then every DISTINCT word encodes once — the vocab is
    * sublinear in the corpus (Heaps' law), so the encode cost and
    * the table are both bounded far below the corpus. Consumers
    * broadcast-join it back onto word occurrences: no shuffle, and
    * hot-word skew structurally cannot exist under a broadcast hash
    * join. (The first cut encoded PER OCCURRENCE — row-local but
    * ~50x the distinct-word work; 47 s -> ~3 s at sf0.1.) */
  private def bpeWordLens(spark: SparkSession, dir: String,
                          docs: DataFrame,
                          numMerges: Int = 10): DataFrame = {
    val bpe = graft.llm.Bpe
    graft.operators.Staged.getOrBuild(spark,
        s"bpe_wordlen::$dir::m${numMerges}_b4") {
      val ms = bpe.train(spark, docs, col("text"),
        numMerges = numMerges, batchSize = 4)
      docs.select(explode(TextAnalysis.tokens(col("text")))
          .as("word"))
        .distinct()
        .withColumn("wn", size(bpe.applyMerges(
          bpe.initSymbols(col("word")), ms)).cast("long"))
    }
  }

  /** Per-doc token counts under BOTH tokenizer versions — v1 (the
    * 10-rule staged vocab q404/q405 serve from) and v2 (14 rules):
    * ONE occurrence scan, two broadcast vocab joins, one per-doc
    * groupBy. Shared by the drift audit (q410) and the migration
    * execution (q413). Returns (doc_id, n1, n2). */
  private def bpeDualCounts(spark: SparkSession,
                            dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val wl10 = bpeWordLens(spark, dir, docs, 10)
      .select(col("word"), col("wn").as("w1"))
    val wl14 = bpeWordLens(spark, dir, docs, 14)
      .select(col("word"), col("wn").as("w2"))
    docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("word"))
      .join(broadcast(wl10), Seq("word"))
      .join(broadcast(wl14), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w1")).as("n1"), sum(col("w2")).as("n2"))
  }

  /** Stages 1–8 of the training-data-build capstone, computed from
    * its FOUR mined artifacts — the shared chain behind the batch
    * build (q403, artifacts mined by staged corpus scans) and the
    * streaming build (q407, artifacts folded from per-micro-batch
    * manifest appends). One implementation means the streaming twin
    * can only diverge from the batch build through its ARTIFACTS,
    * which is exactly the fold theorem the shared oracle pins.
    *
    *  - `kept`      the per-source K-min-hash capped set
    *                (doc_id, source, n_tok)
    *  - `corpusIds` every decon-corpus doc id (base ∪ variants)
    *  - `comps`     near-dup connected components (id, comp)
    *  - `contamIds` corpus docs sharing an 8-gram with the eval set
    *  - `docHash`   per-base-doc content hash (doc_id, h) —
    *                [[graft.operators.Digest.contentHash]] terms, so
    *                stage 8 digests the selected set without text
    */
  /** Stage-1-to-5 outputs of the capstone chain: the long-format
    * census rows for stages 1-5 (stage, metric, value — already in
    * the melt shape) and the SELECTED training set — split out so
    * the epoch / exposure stage (q409/q411) can consume the selection
    * without executing the census rows. */
  private case class ChainSelection(stageRows: DataFrame,
                                    sel: DataFrame)

  private def chainToSelection(kept0: DataFrame,
                               corpusIds: DataFrame,
                               comps: DataFrame,
                               contamIds: DataFrame): ChainSelection = {
    // ONE-PASS MULTI-AGGREGATE MELT (r16, guide §2.4/§1.2): the old
    // shape materialized every per-stage frame separately (kept, kc,
    // sp, trainAll, train2 — eleven eager localCheckpoints) and
    // melted EIGHT separate aggregate branches; with AQE each
    // exchange materializes as its own driver-sequential job, so at
    // bench scale the chain wall was ~73 job submissions, not
    // compute. Stages 1-4 are all row-local flags of the SAME
    // kept⨝cluster frame, so ONE wide aggregate over one annotated
    // materialization now computes all thirteen stage-1-4 metrics,
    // the two cluster censuses fold into ONE distinct-aggregate over
    // the cluster-assignment frame, and the long-format rows explode
    // from the single wide row. Values are identical by construction
    // (the filters were row-local, so filtered-frame censuses ≡
    // conditional aggregates; the oracle hash gate re-proves it).
    val asgAll = corpusIds
      .join(comps.select(col("id").as("doc_id"), col("comp")),
        Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("comp"), col("doc_id")))
      .join(contamIds.select(col("doc_id")).dropDuplicates("doc_id")
        .withColumn("__ci", lit(true)), Seq("doc_id"), "left")
      .withColumn("__td", col("doc_id") < 1000000L &&
        pmod(col("doc_id"), lit(89)) === 0)
      .localCheckpoint() // cluster assignment + contamination /
    // takedown flags: feeds the cluster sets, their one-agg census,
    // and the kept join
    val contamClusters = asgAll.filter(col("__ci"))
      .select(col("cluster")).distinct()
      .withColumn("__cc", lit(true))
    val tdClusters = asgAll.filter(col("__td"))
      .select(col("cluster")).distinct()
      .withColumn("__tc", lit(true))
    // both corpus-wide cluster censuses in ONE pass (a two-distinct
    // aggregate — Spark's Expand handles it in one shuffle)
    val clusterCounts = asgAll.agg(
      count_distinct(when(col("__ci"), col("cluster")))
        .as("m2_n_contam_clusters"),
      count_distinct(when(col("__td"), col("cluster")))
        .as("m4_n_td_clusters"))
    // 3_split axis — cluster-keyed md5 three-way split (q356)
    def hexVal(c: Column): Column =
      conv(substring(md5(concat(lit("split3:"),
        c.cast("string")).cast("binary")), 1, 2), 16, 10)
        .cast("int")
    // kept is bounded by K·|sources| BY CONSTRUCTION (the cap) while
    // the cluster assignment is corpus-wide: broadcast the kept side
    // so the corpus-wide frame is never shuffled for this join
    val annotated = asgAll.select(col("doc_id"), col("cluster"))
      .join(broadcast(kept0), Seq("doc_id"))
      .join(broadcast(contamClusters), Seq("cluster"), "left")
      .withColumn("drp", coalesce(col("__cc"), lit(false)))
      .withColumn("__v", hexVal(col("cluster")))
      .withColumn("sp", when(col("__v") < 205, "train")
        .when(col("__v") < 230, "val").otherwise("test"))
      .join(broadcast(tdClusters), Seq("cluster"), "left")
      .withColumn("rm", coalesce(col("__tc"), lit(false)))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("drp"), col("sp"), col("rm"))
      .localCheckpoint() // the chain's single stage-1-4 barrier
    val isTrain = !col("drp") && col("sp") === "train"
    // stages 1-4: thirteen conditional aggregates, ONE pass. The
    // kept⨝cluster join is row-preserving (corpus ids are distinct
    // and kept ⊆ corpus — TrainingChainSpec checks the latter), so
    // stage 1's census reads off the same frame.
    val wide14 = annotated.agg(
      count(lit(1)).as("m1_n_docs"),
      sum(col("n_tok")).as("m1_n_tokens"),
      sum(col("doc_id")).as("m1_id_checksum"),
      sum(when(col("drp"), 1L).otherwise(0L)).as("m2_n_dropped"),
      sum(when(!col("drp"), 1L).otherwise(0L)).as("m2_n_left"),
      sum(when(!col("drp"), col("doc_id")).otherwise(0L))
        .as("m2_id_checksum"),
      sum(when(!col("drp") && col("sp") === "train", 1L)
        .otherwise(0L)).as("m3_n_train"),
      sum(when(!col("drp") && col("sp") === "val", 1L)
        .otherwise(0L)).as("m3_n_val"),
      sum(when(!col("drp") && col("sp") === "test", 1L)
        .otherwise(0L)).as("m3_n_test"),
      sum(when(!col("drp") && col("sp") === "train", col("n_tok"))
        .otherwise(0L)).as("m3_tok_train"),
      sum(when(isTrain && col("rm"), 1L).otherwise(0L))
        .as("m4_n_removed"),
      sum(when(isTrain && !col("rm"), 1L).otherwise(0L))
        .as("m4_n_left"),
      sum(when(isTrain && !col("rm"), col("n_tok")).otherwise(0L))
        .as("m4_tok_left"))
    val train2 = annotated.filter(isTrain && !col("rm"))
      .select(col("doc_id"), col("source"), col("n_tok"))
    // 5_mixture — token-budget UniMax (q357) over the survivors.
    // The census is ≤ |sources| rows; the greedy prefix runs per
    // SOURCE over a set that is ≤ K rows per source BY CONSTRUCTION
    // (the cap upstream), so the windows are bounded without the
    // bucket decomposition the uncapped q357 needs.
    val census = train2.groupBy(col("source"))
      .agg(sum(col("n_tok")).as("sz_tok"))
    val nSources = census.count()
    require(nSources <= 10000,
      s"training build: source census has $nSources sources, above " +
        "the 10000 the allocation windows are bounded for")
    val alloc = unimaxAllocFull(census, "source", "sz_tok",
        "alloc_tok", 6, 10)
      .localCheckpoint() // ≤10k rows; read by the selection AND the
    // capped count — one build
    val iw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    val sel = train2
      .withColumn("h", md5(concat(lit("mix3:"),
        col("doc_id").cast("string")).cast("binary")))
      .withColumn("__cum", sum(col("n_tok")).over(iw.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        0)))
      .join(broadcast(alloc.select(col("source"),
        col("alloc_tok"))), Seq("source"))
      .filter(col("__cum") <= col("alloc_tok"))
      .select(col("doc_id"), col("source"), col("n_tok"))
      .localCheckpoint() // feeds mixture row, packing, sharding,
    //   digest — the selected set is read four times, built once
    val mixWide = sel.agg(count(lit(1)).as("m5_n_selected"),
      sum(col("n_tok")).as("m5_tok_selected"),
      sum(col("doc_id")).as("m5_id_checksum"))
      .crossJoin(broadcast(alloc.agg(
        sum(when(col("capped"), 1L).otherwise(0L))
          .as("m5_n_capped_sources"))))
    // one wide row -> the long-format melt rows for stages 1-5
    val entries = Seq(
      ("1_cap", "n_docs", "m1_n_docs"),
      ("1_cap", "n_tokens", "m1_n_tokens"),
      ("1_cap", "id_checksum", "m1_id_checksum"),
      ("2_decon", "n_dropped", "m2_n_dropped"),
      ("2_decon", "n_left", "m2_n_left"),
      ("2_decon", "id_checksum", "m2_id_checksum"),
      ("2_decon", "n_contam_clusters", "m2_n_contam_clusters"),
      ("3_split", "n_train", "m3_n_train"),
      ("3_split", "n_val", "m3_n_val"),
      ("3_split", "n_test", "m3_n_test"),
      ("3_split", "tok_train", "m3_tok_train"),
      ("4_takedown", "n_removed", "m4_n_removed"),
      ("4_takedown", "n_left", "m4_n_left"),
      ("4_takedown", "tok_left", "m4_tok_left"),
      ("4_takedown", "n_td_clusters", "m4_n_td_clusters"),
      ("5_mixture", "n_selected", "m5_n_selected"),
      ("5_mixture", "tok_selected", "m5_tok_selected"),
      ("5_mixture", "id_checksum", "m5_id_checksum"),
      ("5_mixture", "n_capped_sources", "m5_n_capped_sources"))
    val stageRows = wide14
      .crossJoin(broadcast(clusterCounts))
      .crossJoin(broadcast(mixWide))
      .select(explode(array(entries.map { case (st, m, c) =>
        struct(lit(st).as("stage"), lit(m).as("metric"),
          coalesce(col(c).cast("long"), lit(0L)).as("value"))
      }: _*)).as("r"))
      .select(col("r.stage").as("stage"), col("r.metric").as("metric"),
        col("r.value").as("value"))
    ChainSelection(stageRows, sel)
  }

  private def trainingBuildChain(kept0: DataFrame,
                                 corpusIds: DataFrame,
                                 comps: DataFrame,
                                 contamIds: DataFrame,
                                 docHash: DataFrame): DataFrame = {
    val c = chainToSelection(kept0, corpusIds, comps, contamIds)
    val sel = c.sel
    // 6_packing — context packing at L=512 in pinned doc_id order.
    // The census metrics have CLOSED FORMS over the span frame
    // (spans are contiguous from offset 0), so one aggregate replaces
    // the old explode-to-chunks + groupBy(chunk) pass:
    //   n_chunks     = max(e) div L + 1          (every chunk in
    //                  [0, max(e) div L] is touched — contiguity)
    //   n_multidoc   = #distinct chunks holding a doc START strictly
    //                  inside (s mod L ≠ 0): such a start means the
    //                  previous doc occupied s−1 in the same chunk
    //                  (contiguity again), and a chunk with no
    //                  strictly-inside start is covered by one doc
    //   n_boundaries = Σ_chunks (n_docs−1)
    //                = Σ_docs (chunks touched) − n_chunks
    //   tail_fill    = (max(e)+1) − (n_chunks−1)·L
    val L = 512L
    val pk = graft.operators.Packing
    val spans = pk.spans(sel, col("doc_id"), col("n_tok"))
    val packingRow = spans.agg(
      (expr(s"max(e) div $L") + 1L).as("n_chunks"),
      count_distinct(when(pmod(col("s"), lit(L)) =!= 0,
        expr(s"s div $L"))).as("n_multidoc"),
      (sum(expr(s"e div $L - s div $L + 1")) -
        (expr(s"max(e) div $L") + 1L)).as("n_boundaries"),
      (max(col("e")) + 1 - expr(s"max(e) div $L") * L)
        .as("tail_fill"))
    // 7_sharding — world-size-8 rank assignment in md5 order
    val R = 8L
    val keyed = sel.withColumn("hs", md5(concat(lit("shard:"),
        col("doc_id").cast("string")).cast("binary")))
      .withColumn("__bk", substring(col("hs"), 1, 2))
    val ranked = bucketedRank(keyed, Seq.empty, "__bk",
        Seq("hs", "doc_id"), "rk")
      .withColumn("rnk", pmod(col("rk") - 1, lit(R)))
      .withColumn("step", expr(s"(rk - 1) div $R"))
    val perRank = ranked.groupBy(col("rnk"))
      .agg(sum(col("n_tok")).as("__rt"),
        sum((col("rnk") + 1) * (col("step") + 1) * col("doc_id"))
          .as("__oc"))
    val shardingRow = perRank.agg(
      sum(col("__oc")).as("order_checksum"),
      max(col("__rt")).as("max_rank_tokens"),
      count(lit(1)).as("n_ranks"))
    // 8_digest — the corpus integrity manifest over the FINAL
    // selection's pre-computed content hashes. The selection is
    // K·|sources|-bounded (the cap), the hash manifest corpus-wide:
    // broadcast the selection so the manifest is never shuffled.
    val dg = graft.operators.Digest
    val dgm = dg.shardDigestsFromHashes(
      docHash.join(broadcast(sel.select(col("doc_id"))),
        Seq("doc_id")),
      col("doc_id"), col("h"), shards = 16)
    val digestRow = dgm.agg(count(lit(1)).as("n_shards"),
      sum(col("digest")).as("digest_sum"),
      min(col("min_h")).as("hash_min"),
      max(col("max_h")).as("hash_max"))
    c.stageRows
      .unionByName(melt("6_packing", packingRow))
      .unionByName(melt("7_sharding", shardingRow))
      .unionByName(melt("8_digest", digestRow))
      .orderBy(col("stage"), col("metric"))
  }

  /** The BATCH capstone's four chain artifacts, mined from the same
    * STAGED corpus scans q403 has always used (shared with
    * q388/q342/q356 — the "never re-mine what a sibling mined"
    * discipline). Used by q403 (full chain) and q409 (epoch stage
    * over the chain's selection). */
  private[graft] def batchChainArtifacts(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val K = 15
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long")
          .as("n_tok"))
    val kept = graft.operators.Staged.getOrBuild(spark,
        s"cap_kept::$dir::md5cap_k$K") {
      graft.operators.CapSample.mine(
          docs.withColumn("h", md5(concat(lit("cap:"),
            col("doc_id").cast("string")).cast("binary"))),
          "source", Seq("h", "doc_id"), k = K)
        .select(col("doc_id"), col("source"), col("n_tok"))
    }
    val docs0 = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    requireNoVariantCollision(docs0)
    val variants = docs0.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        col("text").substr(lit(1),
          greatest(length(col("text")) - 20, lit(1))).as("text"))
    val corpus = docs0.unionByName(variants)
    val pairs = graft.operators.Staged.getOrBuild(spark,
        s"ngram_pairs::$dir::mod3_trunc20::sh3_t0.5_df16") {
      Dedup.ngramJaccardPairs(corpus, col("doc_id"),
        col("text"), shingleN = 3, threshold = 0.5, maxDf = 16)
    }.select(col("id_a"), col("id_b"))
    val comps = graft.operators.Staged.getOrBuild(spark,
        s"ngram_cc::$dir::mod3_trunc20::sh3_t0.5_df16") {
      Dedup.connectedComponents(pairs, col("id_a"), col("id_b"))
    }
    val toks = TextAnalysis.tokens(col("text"))
    // doc_id < 1000000: the oracle's eval-set guard, mirrored (r13
    // advice — equivalence must not rest on an unchecked assumption
    // about the id space; a no-op when all real ids sit below the
    // variant band, which the driver corpora do)
    val evalSet = docs0
      .filter(col("doc_id") < 1000000L &&
        pmod(col("doc_id"), lit(97)) === 0)
      .select(array_join(
        when(size(toks) >= 8, slice(toks, size(toks) - 7, lit(8)))
          .otherwise(toks), " ").as("etext"))
    // staged like its sibling artifacts (kept/pairs/comps): the
    // 8-gram contamination scan re-ran per CALL (q403 and q409 each
    // paid the full corpus explode+join) while everything around it
    // was built once — the "never re-mine what a sibling mined"
    // discipline, applied to the one artifact it had missed
    val contamIds = graft.operators.Staged.getOrBuild(spark,
        s"contam_ids::$dir::mod3_trunc20::mod97_g8") {
      Contamination.sharedGrams(corpus,
          col("doc_id"), col("text"), evalSet, col("etext"), n = 8)
        .select(col("id").as("doc_id"))
    }
    (kept, corpus.select(col("doc_id")), comps, contamIds, docs0)
  }

  /** The +1000000 truncated-variant offset and the oracle's
    * `doc_id < 1000000` eval/takedown guards are only coherent when
    * NO real doc_id equals a variant id. Check the collision itself
    * (one id-pruned equi-join count), not `max(doc_id) < 1000000`: a
    * plain max-id bound would false-fail the ScaleBench slot corpora,
    * whose ids exceed 1M BY DESIGN with variant bands kept disjoint
    * inside each 10M slot (r13 advice, made scale-corpus-safe). */
  private def requireNoVariantCollision(docs0: DataFrame): Unit = {
    val ids = docs0.select(col("doc_id"))
    val n = ids.join(
      ids.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id")),
      Seq("doc_id")).count()
    require(n == 0L,
      s"training build: $n real doc_ids collide with the +1000000 " +
        "truncated-variant id band — raise the offset and the " +
        "oracle's doc_id < 1000000 guards together")
  }

  /** The PACK-TIME manifests behind the takedown folds (q412 batch,
    * q414 streaming): the spans layout, the chunk-keyed fragment
    * index, the subtractive per-chunk digests, and the one-row
    * totals — staged once per corpus (the q342 "never re-mine"
    * discipline), shared across every later notice batch. */
  private def packManifests(spark: SparkSession, dir: String,
                            L: Long, MOD: Long)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val td = graft.operators.Takedown
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_tok"))
    val sp = graft.operators.Staged.getOrBuild(spark,
      s"pack_spans::$dir::L$L") {
      graft.operators.Packing.spans(docs, col("doc_id"),
        col("n_tok"))
    }
    val frIdx = graft.operators.Staged.getOrBuild(spark,
      s"pack_frindex::$dir::L$L") { td.fragmentIndex(sp, L) }
    val chDig = graft.operators.Staged.getOrBuild(spark,
      s"pack_chdig::$dir::L${L}_m$MOD") {
      td.chunkDigests(frIdx, MOD)
    }
    val totals = graft.operators.Staged.getOrBuild(spark,
      s"pack_totals::$dir::L${L}_m$MOD") {
      td.packTotals(sp, chDig, L, MOD)
    }
    (sp, frIdx, chDig, totals)
  }

  /** The epoch/exposure stage shared by the batch (q409) and the
    * STREAMING (q411) serves: quality-quartile upsampling (q359 —
    * docs rank by exact distinct-token score; quartile q trains q
    * epochs) + the deterministic epoch-seeded md5 shuffle (q360),
    * dealt round-robin to 8 ranks with ORDER-SENSITIVE checksums.
    * `scored0` must carry (doc_id, n_tok, score); ranks ride
    * bucketedRank (hash prefixes / score bands), never a global
    * window; the upsample explode emits ≤4 rows/doc over the
    * K·|sources|-bounded selection. */
  private def epochExposure(scored0: DataFrame): DataFrame = {
    val scored = scored0.localCheckpoint() // tiny; ranked twice
    val tot = scored.agg(count(lit(1)).as("__n"))
    val rep = bucketedRank(scored, Seq.empty, "score",
        Seq("doc_id"), "__rn")
      .crossJoin(broadcast(tot))
      .withColumn("__quart", // div, NOT "/": / on longs is double
        expr("((__rn - 1) * 4) div __n") + 1)
      .withColumn("epoch",
        explode(sequence(lit(1L), col("__quart"))))
      .select(col("doc_id"), col("n_tok"), col("epoch"))
    val keyed = rep.withColumn("h", md5(concat(lit("ep"),
        col("epoch").cast("string"), lit(":"),
        col("doc_id").cast("string")).cast("binary")))
      .withColumn("__bk", substring(col("h"), 1, 2))
    bucketedRank(keyed, Seq("epoch"), "__bk", Seq("h", "doc_id"),
        "rk")
      .withColumn("rnk", pmod(col("rk") - 1, lit(8L)))
      .withColumn("step", expr("(rk - 1) div 8"))
      .groupBy(col("epoch"), col("rnk"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tok"),
        sum((col("step") + 1) * col("doc_id"))
          .as("order_checksum"))
      .orderBy(col("epoch"), col("rnk"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- THE TRAINING-DATA-BUILD CAPSTONE (round 13 — the q127/q282
    //     move for the round-12 training-prep surface): one query
    //     composes the whole production pipeline END TO END, each
    //     stage feeding the next, and pins every stage with exact
    //     integers under the hash gate:
    //       1_cap        per-source K-min-hash cap (q388's STAGED
    //                    kept set — the crawl guard; the only
    //                    corpus-proportional step besides the mines)
    //       2_decon      near-dup clusters from the STAGED q342
    //                    pair set + closure; benchmark-8-gram
    //                    contamination dropped CLUSTER-wise (q356)
    //       3_split      train/val/test ~80/10/10 keyed by CLUSTER
    //                    md5 (near-dups can never straddle splits)
    //       4_takedown   retraction pass (q400): takedown notices
    //                    (doc_id%89) remove their whole near-dup
    //                    cluster from train — no corpus re-mine
    //       5_mixture    token-budget UniMax water-fill over the
    //                    surviving train census + greedy md5-ranked
    //                    prefix per source (q357)
    //       6_packing    context packing at L=512 over the selected
    //                    set: chunk count, cross-doc boundaries (the
    //                    block-diagonal mask workload, q364), tail
    //                    fill
    //       7_sharding   world-size-8 rank sharding in content-keyed
    //                    md5 order (q371): order checksum pins every
    //                    rank's exact stream, max rank-token load is
    //                    the straggler axis
    //       8_digest     16-shard corpus digest manifest over the
    //                    final selected text (q380) — the artifact a
    //                    nightly 100 TB integrity check folds against
    //     Scale story: the mines (cap rank, pair mining, closure)
    //     are staged ONCE per corpus and shared with q388/q342/q356/
    //     q376; everything downstream of the cap is bounded by
    //     K·|sources| BY CONSTRUCTION — the cap is the scale knob,
    //     so stages 2-8 cost the same at 100 TB as here. The oracle
    //     replays the entire chain in one SQL statement: the hash
    //     match is the proof that the fold/staged families COMPOSE. ---
    "q403_training_build" -> { (spark, dir) =>
      val (kept, corpusIds, comps, contamIds, docs0) =
        batchChainArtifacts(spark, dir)
      trainingBuildChain(kept, corpusIds, comps, contamIds,
        docHash = docs0.select(col("doc_id"),
          graft.operators.Digest.contentHash(col("text")).as("h")))
    },

    // --- THE STREAMING TRAINING-DATA-BUILD CAPSTONE (round 14 — the
    //     r13 verdict's top ask): q403's whole chain run in the
    //     MICRO-BATCH runtime. The corpus arrives as an ordered file
    //     stream in two batches; each batch is tokenized/shingled/
    //     hashed EXACTLY ONCE at arrival and appends five compact
    //     manifests (EventStream.streamingTrainingArtifacts — the
    //     q393 cap mine, the pair/contamination/digest images as
    //     64-bit hash postings, 8 bytes/doc content hashes). After
    //     the drain, the SAME shared chain as q403
    //     (trainingBuildChain) rebuilds stages 1–8 from the folded
    //     manifests alone — history text is NEVER re-read — and the
    //     oracle is the batch q403 rebuild VERBATIM: the hash match
    //     is the fold theorem's capstone (cap fold = CapSample
    //     monoid; pairs/closure/contamination = set functions of the
    //     appended postings; digest = the Digest fold over
    //     later-chosen subsets). Unlike q403, NOTHING here rides the
    //     staged corpus mines — every artifact comes off the stream. ---
    "q407_stream_training_build" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      // same variant-band collision guard as q403
      requireNoVariantCollision(docs.select(col("doc_id")))
      val src = Scratch.dir("graft_q407").toString + "/docs"
      graft.streaming.EventStream.writeOrderedBatches(
        Seq(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1)), src)
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val (cap, sh3, g8, evalg, docHash, _) =
        graft.streaming.EventStream.streamingTrainingArtifacts(spark,
          stream, Scratch.dir("graft_q407man").toString,
          Scratch.dir("graft_q407ck").toString, k = 15)
      // fold the artifacts: each is a monoid/set image, so the folds
      // below equal the batch mines exactly (CapSampleSpec fold law;
      // postings of disjoint doc sets union to the batch postings)
      val kept = graft.operators.CapSample.truncate(cap, "source",
          Seq("h", "doc_id"), 15)
        .select(col("doc_id"), col("source"), col("n_tok"))
      val pairs = Dedup.ngramJaccardPairsFromShingles(sh3,
          threshold = 0.5, maxDf = 16)
        .select(col("id_a"), col("id_b"))
      val comps = Dedup.connectedComponents(pairs, col("id_a"),
        col("id_b"))
      val contamIds = g8
        .join(broadcast(evalg.distinct()), Seq("g"))
        .select(col("doc_id")).distinct()
      trainingBuildChain(kept,
        corpusIds = sh3.select(col("id").as("doc_id")),
        comps = comps,
        contamIds = contamIds,
        docHash = docHash)
    },

    // --- BPE-TOKEN PACKING TWIN (round 13 — the fold-family censuses
    //     under the tokenizer a real pretraining build uses): q353's
    //     context-packing census re-run on BPE token counts instead
    //     of whitespace counts. The merge table (10 rules, batched
    //     trainer — the q129 surface) trains once inside the STAGED
    //     (word -> BPE length) vocab table; per-doc BPE length is a
    //     broadcast join of that table onto word occurrences (no
    //     shuffle — hot-word skew cannot exist under a broadcast
    //     hash join; see bpeWordLens), and the spans /
    //     chunk census ride the same rank-bucketed Packing operator
    //     as q353. The oracle RETRAINS the merges sequentially (the
    //     q129 chained-CTE rounds), re-encodes every word, sums per
    //     doc, and replays the packing chain — proving the packing
    //     fold theorem end-to-end under BPE, exact integers. ---
    "q404_bpe_packing" -> { (spark, dir) =>
      val L = 512L
      val pk = graft.operators.Packing
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val wl = bpeWordLens(spark, dir, docs)
      val dn = docs
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("word"))
        .join(broadcast(wl), Seq("word"))
        .groupBy(col("doc_id")).agg(sum(col("wn")).as("n_tok"))
      val spans = pk.spans(dn, col("doc_id"), col("n_tok"))
        .localCheckpoint() // feeds the census AND the total
      val tot = spans.agg((max(col("e")) + 1).as("__t"))
      pk.withFill(pk.chunkCensus(spans, L).crossJoin(broadcast(tot)),
          L, col("__t"))
        .select(col("chunk"), col("n_docs"), col("n_starts"),
          col("n_tokens"))
        .orderBy(col("chunk"))
    },

    // --- BPE TOKEN-BUDGET MIXTURE TWIN (q357 under the tokenizer a
    //     pretraining budget is actually written in): the UniMax
    //     water-fill + greedy md5-ranked prefix selection re-run on
    //     BPE token sums. Reuses the q404 STAGED word-length vocab
    //     (second consumer — the stage pays off); per-doc BPE counts
    //     are the same broadcast join; selection rides the q357 bucketed
    //     running-sum shape (per-(source, hash-prefix) windows +
    //     triangular offsets — the corpus is UNCAPPED here, so the
    //     bounded-window shortcut q403 earned from its cap does not
    //     apply). Exact integers end to end. ---
    "q405_bpe_mixture" -> { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs0 = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val wl = bpeWordLens(spark, dir, docs0)
      val docs = docs0
        .select(col("doc_id"), col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("word"))
        .join(broadcast(wl), Seq("word"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("wn")).as("n_tok"))
        .localCheckpoint() // the per-doc BPE counts feed the census
      //   count, the water-fill, the bucket census, and the selection
      //   join — checkpoint once, never re-pay the occurrence explode
      val sizes = docs.groupBy(col("source"))
        .agg(sum(col("n_tok")).as("sz_tok"))
      val nSources = sizes.count()
      require(nSources <= 10000,
        s"q405: source census has $nSources sources, above the " +
          "10000 the allocation windows are bounded for")
      val alloc = unimaxAlloc(sizes, "sz_tok", "alloc_tok", 6, 10)
        .localCheckpoint() // tiny; feeds selection AND the output join
      val based = docs
        .withColumn("h", md5(concat(lit("mix4:"),
          col("doc_id").cast("string")).cast("binary")))
        .withColumn("__bk", substring(col("h"), 1, 2))
      val census = based.groupBy(col("source"), col("__bk"))
        .agg(sum(col("n_tok")).as("__c"))
      val offs = census
        .join(census.select(col("source").as("__s2"),
            col("__bk").as("__b2"), col("__c").as("__c2")),
          col("__s2") === col("source") && col("__b2") < col("__bk"),
          "left")
        .groupBy(col("source"), col("__bk"))
        .agg(coalesce(sum(col("__c2")), lit(0L)).as("__off"))
      val iw = Window.partitionBy(col("source"), col("__bk"))
        .orderBy(col("h"), col("doc_id"))
      val selected = based.join(offs, Seq("source", "__bk"))
        .withColumn("__ctok", col("__off") + sum(col("n_tok")).over(
          iw.rowsBetween(Window.unboundedPreceding, 0)))
        .join(broadcast(alloc.select(col("source"),
          col("alloc_tok"))), Seq("source"))
        .filter(col("__ctok") <= col("alloc_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("__nsel"),
          sum(col("n_tok")).as("__tsel"),
          sum(col("doc_id")).as("__csum"))
      alloc.join(selected, Seq("source"), "left")
        .select(col("source"), col("sz_tok"), col("alloc_tok"),
          coalesce(col("__nsel"), lit(0L)).as("n_selected"),
          coalesce(col("__tsel"), lit(0L)).as("tok_selected"),
          coalesce(col("__csum"), lit(0L)).as("sel_checksum"))
        .orderBy(col("source"))
    },

    // --- TAKEDOWN EXECUTION OVER A PACKED CORPUS (round 14 — closes
    //     the q395/q400/q403 loop: q395 COSTS hole-punch vs
    //     tail-repack, q403 retracts BEFORE packing; this EXECUTES a
    //     takedown against an already-packed corpus). The corpus is
    //     packed at L=512 in pinned doc_id order; takedown notices
    //     (doc_id % 89) hole-punch their docs: every affected chunk
    //     (one containing a removed fragment) is rewritten with the
    //     removed spans as pad, every CLEAN chunk is untouched. The
    //     census pins the execution: affected/clean chunk counts, pad
    //     added, the post-punch mask metadata of rewritten chunks
    //     (surviving fragments + block-diagonal boundaries, the q364
    //     axis), and CONTENT INVARIANCE of the survivors — the
    //     clean-chunk fragment digest computed from the PRE layout
    //     (all docs) and from the POST layout (survivors only) must
    //     be equal, because hole-punch never moves an offset; the
    //     digest is the Digest-style two-level mod-sum over
    //     (doc, fs, fe) fragment hashes, so the check runs at any
    //     corpus size. The tail-repack alternative is quantified
    //     beside it: chunks after full repack and the tokens it
    //     would MOVE (every survivor after the first hole shifts) —
    //     the number that justifies hole-punch at 100 TB, where the
    //     rewrite cost must be ∝ affected chunks, not corpus size.
    //     Exact integers end to end; PackingSpec pins the offset
    //     laws on a fixture. ---
    "q408_takedown_exec" -> { (spark, dir) =>
      val L = 512L
      val MOD = 1000000007L
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n_tok"))
      val sp = graft.operators.Packing
        .spans(docs, col("doc_id"), col("n_tok"))
        .withColumn("removed", pmod(col("doc_id"), lit(89)) === 0)
        .localCheckpoint() // feeds fragments, totals, repack, move
      val fr = sp.withColumn("chunk", explode(sequence(
          expr(s"s div $L"), expr(s"e div $L"))))
        .withColumn("fs", greatest(col("s"), col("chunk") * L))
        .withColumn("fe", least(col("e"), (col("chunk") + 1) * L - 1))
      // affected set ∝ takedown volume, not corpus size — the join
      // below is the one shuffle (by chunk); AQE broadcasts when the
      // takedown is small, which is the production case
      val affected = fr.filter(col("removed"))
        .select(col("chunk")).distinct()
        .withColumn("__af", lit(true)).localCheckpoint()
      val fr2 = fr.join(affected, Seq("chunk"), "left")
        .withColumn("af", coalesce(col("__af"), lit(false)))
        .drop("__af")
        .localCheckpoint() // read three times (two digests + mask)
      // Digest-discipline two-level mod-sum of fragment identity
      // hashes: value identical to the flat sum by modular
      // arithmetic, no accumulator ever exceeds ~2^35 terms
      def digestOf(f: DataFrame, name: String): DataFrame =
        f.select(conv(substring(md5(concat(lit("frag:"),
              col("doc_id").cast("string"), lit(":"),
              col("fs").cast("string"), lit(":"),
              col("fe").cast("string")).cast("binary")), 1, 7),
            16, 10).cast("long").as("h"))
          .groupBy(pmod(col("h"), lit(1024L)).as("__sb"))
          .agg(pmod(sum(col("h")), lit(MOD)).as("__ps"))
          .agg(coalesce(pmod(sum(col("__ps")), lit(MOD)), lit(0L))
            .as(name))
      val dpre = digestOf(fr2.filter(!col("af")),
        "clean_digest_pre")
      val dpost = digestOf(fr2.filter(!col("af") && !col("removed")),
        "clean_digest_post")
      val tot = sp.agg(coalesce(expr(s"max(e) div $L") + 1, lit(0L))
        .cast("long").as("n_chunks"))
      val rem = sp.filter(col("removed"))
        .agg(count(lit(1)).as("n_removed_docs"),
          coalesce(sum(col("n_tok")), lit(0L)).as("pad_tokens"),
          min(col("s")).as("__minrs"))
        .localCheckpoint() // single row; feeds output AND the mover
      val nafc = affected.agg(count(lit(1)).as("n_affected"))
      val mb = fr2.filter(col("af") && !col("removed"))
        .groupBy(col("chunk")).agg(count(lit(1)).as("__ns"))
        .agg(coalesce(sum(col("__ns")), lit(0L))
            .as("n_surv_frags_affected"),
          coalesce(sum(greatest(col("__ns") - 1, lit(0L))), lit(0L))
            .as("boundaries_affected"))
      val rp = sp.filter(!col("removed"))
        .agg(expr(s"CASE WHEN coalesce(sum(n_tok), 0) > 0 THEN " +
          s"(sum(n_tok) - 1) div $L + 1 ELSE 0 END").cast("long")
          .as("n_chunks_repacked"))
      val mv = sp.crossJoin(broadcast(rem.select(col("__minrs"))))
        .agg(coalesce(sum(when(!col("removed") &&
            col("s") > col("__minrs"), col("n_tok"))), lit(0L))
          .as("tokens_moved"))
      tot.crossJoin(broadcast(nafc))
        .withColumn("n_clean", col("n_chunks") - col("n_affected"))
        .crossJoin(broadcast(rem.drop("__minrs")))
        .crossJoin(broadcast(dpre))
        .crossJoin(broadcast(dpost))
        .crossJoin(broadcast(mb))
        .crossJoin(broadcast(rp))
        .crossJoin(broadcast(mv))
        .select(col("n_chunks"), col("n_affected"), col("n_clean"),
          col("n_removed_docs"), col("pad_tokens"),
          col("clean_digest_pre"), col("clean_digest_post"),
          col("n_surv_frags_affected"), col("boundaries_affected"),
          col("n_chunks_repacked"), col("tokens_moved"))
    },

    // --- INCREMENTAL TAKEDOWN EXECUTION (round 15 — the r14
    //     verdict's ask #3: make q408 a FOLD). q408 re-derives spans,
    //     fragments and digests from the corpus per takedown — a
    //     full-corpus scan per notice batch at 100 TB. Here the pack
    //     step STAGES three manifests once (the spans layout, the
    //     chunk-keyed fragment index, the per-chunk fragment-digest
    //     partial sums + one totals row — graft.operators.Takedown),
    //     then takedown notices arrive in TWO overlapping batches
    //     (doc_id%89, doc_id%101) that each join the spans manifest
    //     and APPEND to a takedown manifest; Takedown.foldCensus
    //     answers the census off the manifests alone: affected chunks
    //     from the removed spans, clean digest = TOTAL MINUS AFFECTED
    //     (partial mod-sums are subtractive), survivor/mask metadata
    //     via a chunk-PRUNED fragment-index lookup, and the repack
    //     alternative in closed form off the totals row. Everything
    //     after pack time costs ∝ affected chunks + notices — text is
    //     never re-read, and the pre/post digests take different
    //     paths (manifest rows vs fresh hashes) so their equality is
    //     a live manifest-integrity check. The oracle is the q408
    //     rebuild VERBATIM with the union of both notice batches
    //     (takedownExecSql, parameterized on the removed predicate):
    //     the hash match proves fold ≡ one-shot. PackingSpec pins the
    //     fold laws (overlap/redelivery idempotence, digest
    //     subtraction ≡ direct recompute, the tokens-moved closed
    //     form) on a fixture. ---
    "q412_takedown_fold" -> { (spark, dir) =>
      val L = 512L
      val MOD = 1000000007L
      val td = graft.operators.Takedown
      val (sp, frIdx, chDig, totals) = packManifests(spark, dir, L,
        MOD)
      // notice batches arrive as BARE DOC IDS, look up their spans in
      // the staged layout manifest (∝ notices), and append; %89 and
      // %101 overlap on multiples of both — the fold dedups on doc_id
      val man = Scratch.dir("graft_q412").toString + "/notices"
      Seq(89L, 101L).foreach { m =>
        val notices = tbl(spark, dir, "documents")
          .select(col("doc_id"))
          .filter(pmod(col("doc_id"), lit(m)) === 0)
        sp.join(notices, Seq("doc_id"))
          .write.mode("append").parquet(man)
      }
      val removed = spark.read.parquet(man)
        .dropDuplicates("doc_id")
      td.foldCensus(removed, frIdx, chDig, totals, L, MOD)
    },

    // --- STREAMING TAKEDOWN FOLD (round 15 — q412 ∘ the micro-batch
    //     runtime): takedown notices arrive as a FILE STREAM of bare
    //     doc ids — three micro-batches, the third a REDELIVERY of
    //     the first, so at-least-once sits under the oracle gate
    //     itself, not just a spec. Each batch joins the same STAGED
    //     pack-time manifests as q412 (layout lookup ∝ notices,
    //     text never read) and appends removed spans; after the
    //     drain, Takedown.foldCensus answers the census in
    //     O(affected). The oracle is the q408 one-shot rebuild with
    //     the notice union VERBATIM (shared with q412 — the
    //     q403/q407 shared-val pattern): the hash match proves the
    //     streamed, redelivered fold ≡ the batch rebuild. ---
    "q414_stream_takedown" -> { (spark, dir) =>
      val L = 512L
      val MOD = 1000000007L
      val td = graft.operators.Takedown
      val (sp, frIdx, chDig, totals) = packManifests(spark, dir, L,
        MOD)
      val ids = tbl(spark, dir, "documents").select(col("doc_id"))
      val b89 = ids.filter(pmod(col("doc_id"), lit(89)) === 0)
      val b101 = ids.filter(pmod(col("doc_id"), lit(101)) === 0)
      val src = Scratch.dir("graft_q414").toString + "/notices"
      graft.streaming.EventStream.writeOrderedBatches(
        Seq(b89, b101, b89), src) // b89 redelivered
      val stream = spark.readStream.schema(ids.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val removed = graft.streaming.EventStream
        .streamingTakedownManifest(spark, stream, sp,
          Scratch.dir("graft_q414man").toString + "/removed",
          Scratch.dir("graft_q414ck").toString)
      td.foldCensus(removed, frIdx, chDig, totals, L, MOD)
    },

    // --- EPOCH / EXPOSURE STAGE OVER THE CAPSTONE SELECTION (round
    //     14 — the r13 verdict's ask #6): the capstone so far ends at
    //     a selected, packed, rank-sharded corpus; a trainer consumes
    //     it as per-EPOCH, per-RANK batch streams. This extends the
    //     q403 chain (same STAGED artifacts, same chainToSelection —
    //     zero re-mining) with the two order-defining stages:
    //     quality-weighted epoch upsampling (q359's policy — docs
    //     rank by exact distinct-token score; quartile q trains q
    //     epochs) and the deterministic epoch shuffle (q360 — each
    //     epoch's order is an epoch-seeded md5 rank), then deals each
    //     epoch's stream round-robin to 8 ranks. Output: one row per
    //     (epoch, rank) with doc/token loads and the ORDER-SENSITIVE
    //     checksum Σ(step+1)·doc_id — a re-run, another engine, or a
    //     resumed job must reproduce each rank's byte-exact batch
    //     order, not just the same multiset. Ranks ride bucketedRank
    //     (score bands / hash prefixes), never a global window; the
    //     upsample explode emits ≤4 rows/doc over the K·|sources|-
    //     bounded selection. Exact integers end to end; the oracle
    //     replays the full chain + both stages. ---
    "q409_epoch_stream" -> { (spark, dir) =>
      val (kept, corpusIds, comps, contamIds, docs0) =
        batchChainArtifacts(spark, dir)
      val sel = chainToSelection(kept, corpusIds, comps,
        contamIds).sel
      epochExposure(sel.join(docs0, Seq("doc_id"))
        .select(col("doc_id"), col("n_tok"),
          size(array_distinct(TextAnalysis.tokens(col("text"))))
            .cast("long").as("score")))
    },

    // --- THE STREAMING EPOCH SERVE (round 15 — the r14 verdict's
    //     ask #2: q407 ∘ q409): the FULL path from file-stream ingest
    //     to per-(epoch, rank) ordered batch streams, run in the
    //     micro-batch runtime with history text NEVER re-read. q409
    //     runs the epoch/exposure stage over the BATCH-staged
    //     artifacts; here every input to the stage comes off the
    //     stream instead — the six per-micro-batch manifests
    //     (q407's five + a per-doc distinct-token SCORE image mined
    //     at arrival, 8 bytes/doc) fold into the shared
    //     chainToSelection, and the selection joins the score
    //     manifest (not the corpus) before the shared epochExposure
    //     stage. One implementation for chain AND stage means the
    //     streaming serve can only diverge from q409 through its
    //     ARTIFACTS — and the oracle is epochStreamSql VERBATIM
    //     (the q403/q407 shared-val pattern), so the hash match
    //     proves ingest-time mining carries the whole serve path.
    //     Scale story: everything q407 already bounds, plus one
    //     8-byte/doc manifest; the epoch stage itself rides the
    //     K·|sources|-bounded selection. ---
    "q411_stream_epoch_serve" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      requireNoVariantCollision(docs.select(col("doc_id")))
      val src = Scratch.dir("graft_q411").toString + "/docs"
      graft.streaming.EventStream.writeOrderedBatches(
        Seq(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1)), src)
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val (cap, sh3, g8, evalg, _, score) =
        graft.streaming.EventStream.streamingTrainingArtifacts(spark,
          stream, Scratch.dir("graft_q411man").toString,
          Scratch.dir("graft_q411ck").toString, k = 15)
      val kept = graft.operators.CapSample.truncate(cap, "source",
          Seq("h", "doc_id"), 15)
        .select(col("doc_id"), col("source"), col("n_tok"))
      val pairs = Dedup.ngramJaccardPairsFromShingles(sh3,
          threshold = 0.5, maxDf = 16)
        .select(col("id_a"), col("id_b"))
      val comps = Dedup.connectedComponents(pairs, col("id_a"),
        col("id_b"))
      val contamIds = g8
        .join(broadcast(evalg.distinct()), Seq("g"))
        .select(col("doc_id")).distinct()
      val sel = chainToSelection(kept,
        corpusIds = sh3.select(col("id").as("doc_id")),
        comps = comps, contamIds = contamIds).sel
      epochExposure(sel.join(score, Seq("doc_id"))
        .select(col("doc_id"), col("n_tok"), col("score")))
    },

    // --- TOKENIZER-MIGRATION DRIFT AUDIT (round 14): the census a
    //     pipeline reads before swapping tokenizer versions — retrain
    //     the vocabulary at v1 (10 merge rules) and v2 (14 rules)
    //     over the same corpus, re-encode every doc under both, and
    //     pin the migration's blast radius in exact integers: docs
    //     whose token count changes (with an order-independent id
    //     checksum naming the set), total/max shrink, and the packed-
    //     corpus chunk count under each version (every downstream
    //     budget — mixture allocations, packing layouts, rank loads —
    //     is denominated in tokens, so this is the number that
    //     decides whether v2 re-packs the corpus). Both vocabs are
    //     STAGED (word → length) tables — v1 is the SAME artifact
    //     q404/q405 serve from (third consumer) — and both broadcast
    //     onto one occurrence scan: the corpus is tokenized once,
    //     joined twice, shuffled once (the per-doc groupBy). The
    //     oracle retrains ONE sequential 14-round chain (q129's
    //     replay) and reads segmentations at round 10 AND round 14 —
    //     the batched trainer's exactness law, proven at two depths
    //     in one statement. ---
    "q410_tokenizer_drift" -> { (spark, dir) =>
      bpeDualCounts(spark, dir).agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("n1")), lit(0L)).as("tok_v1"),
        coalesce(sum(col("n2")), lit(0L)).as("tok_v2"),
        coalesce(sum(when(col("n1") =!= col("n2"), 1L)
          .otherwise(0L)), lit(0L)).as("n_changed"),
        coalesce(sum(col("n1") - col("n2")), lit(0L))
          .as("shrink_sum"),
        coalesce(max(col("n1") - col("n2")), lit(0L))
          .as("max_shrink"),
        coalesce(sum(when(col("n1") =!= col("n2"), col("doc_id"))),
          lit(0L)).as("changed_checksum"),
        expr("CASE WHEN coalesce(sum(n1), 0) > 0 THEN " +
          "(sum(n1) - 1) div 512 + 1 ELSE 0 END").cast("long")
          .as("chunks_v1"),
        expr("CASE WHEN coalesce(sum(n2), 0) > 0 THEN " +
          "(sum(n2) - 1) div 512 + 1 ELSE 0 END").cast("long")
          .as("chunks_v2"))
    },

    // --- TOKENIZER-MIGRATION EXECUTION (round 15 — the r14
    //     verdict's ask #6: q410 AUDITS the drift; this EXECUTES the
    //     migration). The corpus re-packs under the v2 (14-rule)
    //     token counts, and the census diffs the v1/v2 layouts in
    //     exact integers: both packings' chunk counts, boundary
    //     counts and FULL-LAYOUT fragment digests (the q408/q380
    //     manifold — a 7-hex-digit md5 per (doc, fs, fe) fragment,
    //     two-level mod-summed, so the comparison runs at any corpus
    //     size), the chunks the migration does NOT have to rewrite
    //     (everything before the first changed doc's start offset —
    //     offsets are prefix sums, so the layouts agree exactly up to
    //     that point), the rewrite set, and the docs/tokens whose
    //     start offsets MOVE (the shuffle a re-pack actually pays;
    //     shifts can cancel, so it is an exact s1≠s2 join, not a
    //     prefix closed form). Both vocabs are the SAME staged
    //     (word → length) artifacts q404/q405/q410 serve from; the
    //     corpus is tokenized once (bpeDualCounts), packed twice by
    //     the rank-bucketed Packing operator, digested by the
    //     Takedown manifold. The oracle retrains ONE sequential
    //     14-round chain, reads segmentations at both depths, and
    //     replays BOTH packings + the diff — the migration's entire
    //     blast radius pinned in one hash-compared row. ---
    "q413_tokenizer_migration" -> { (spark, dir) =>
      val L = 512L
      val MOD = 1000000007L
      val pk = graft.operators.Packing
      val td = graft.operators.Takedown
      val per = bpeDualCounts(spark, dir)
        .localCheckpoint() // feeds both packings + the diff row
      val s1 = pk.spans(per, col("doc_id"), col("n1"))
        .localCheckpoint() // layout v1: digest + census + diffs
      val s2 = pk.spans(per, col("doc_id"), col("n2"))
        .localCheckpoint()
      def layout(sp: DataFrame, v: Int): DataFrame = {
        val tot = td.packTotals(sp,
          td.chunkDigests(td.fragmentIndex(sp, L), MOD), L, MOD)
        val bnd = pk.chunkCensus(sp, L)
          .agg(coalesce(sum(col("n_docs") - 1), lit(0L))
            .as(s"n_boundaries_v$v"))
        tot.select(col("n_chunks").as(s"chunks_v$v"),
            col("total_tokens").as(s"tok_v$v"),
            col("total_digest").as(s"layout_digest_v$v"))
          .crossJoin(broadcast(bnd))
      }
      val fcRow = per.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("n1") =!= col("n2"), 1L)
          .otherwise(0L)), lit(0L)).as("n_changed"),
        coalesce(min(when(col("n1") =!= col("n2"), col("doc_id"))),
          lit(-1L)).as("first_changed_doc"))
        .localCheckpoint() // single row; feeds output AND the s_fc
      //   lookup (-1 sentinel: ids are non-negative)
      val sfc = s1.join(broadcast(fcRow
          .select(col("first_changed_doc").as("doc_id"))),
          Seq("doc_id"))
        .agg(coalesce(min(expr(s"s div $L")), lit(-1L)).as("__sfc"))
      val mv = s1.select(col("doc_id"), col("s").as("__s1"))
        .join(s2.select(col("doc_id"), col("n_tok").as("__n2"),
          col("s").as("__s2")), Seq("doc_id"))
        .agg(coalesce(sum(when(col("__s1") =!= col("__s2"), 1L)
            .otherwise(0L)), lit(0L)).as("moved_docs"),
          coalesce(sum(when(col("__s1") =!= col("__s2"),
            col("__n2"))), lit(0L)).as("moved_tokens"))
      fcRow.crossJoin(broadcast(layout(s1, 1)))
        .crossJoin(broadcast(layout(s2, 2)))
        .crossJoin(broadcast(sfc))
        .crossJoin(broadcast(mv))
        .withColumn("chunks_unchanged",
          when(col("first_changed_doc") === -1L, col("chunks_v1"))
            .otherwise(col("__sfc")))
        .withColumn("chunks_rewritten",
          col("chunks_v2") - col("chunks_unchanged"))
        .select(col("n_docs"), col("n_changed"),
          col("first_changed_doc"), col("tok_v1"), col("tok_v2"),
          col("chunks_v1"), col("chunks_v2"),
          col("chunks_unchanged"), col("chunks_rewritten"),
          col("n_boundaries_v1"), col("n_boundaries_v2"),
          col("moved_docs"), col("moved_tokens"),
          col("layout_digest_v1"), col("layout_digest_v2"))
    },

    // --- RECRAWL UNDER THE STREAMING CAP (the r12-advice payload
    //     contract under the oracle gate): batch 1 delivers the
    //     corpus, batch 2 RE-DELIVERS every 7th doc re-crawled with
    //     its tail truncated — same (source, hash, id) manifest key,
    //     DIVERGENT n_tok payload. The standing manifest must stay a
    //     pure function of the rows ever appended: CapSample's
    //     two-layer dedup collapses exact replays (short docs whose
    //     truncation changed nothing) and resolves divergent payloads
    //     deterministically (least row by non-key columns — here
    //     min(n_tok)). Because the md5 sampling order is
    //     payload-independent, the KEPT ID SET equals the
    //     no-recrawl rebuild; only the resolved n_tok values move —
    //     the oracle rebuilds from the full corpus with
    //     least(original, recrawled) token counts per re-delivered
    //     doc, and the hash match pins both the selection monoid and
    //     the payload resolution in the runtime a real crawl
    //     redelivers through. ---
    "q406_stream_recrawl" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val recrawl = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .withColumn("text", col("text").substr(lit(1),
          greatest(length(col("text")) - 30, lit(1))))
      val src = Scratch.dir("graft_q406").toString + "/docs"
      graft.streaming.EventStream.writeOrderedBatches(
        Seq(docs, recrawl), src)
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      graft.streaming.EventStream.streamingCapManifest(spark, stream,
          Scratch.dir("graft_q406man").toString + "/manifest",
          Scratch.dir("graft_q406ck").toString, 15)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tok")).as("tok_kept"),
          sum(col("doc_id")).as("kept_checksum"))
        .orderBy(col("source"))
    },
  )

  /** CTE chain tk0 → sel (stages 1–5 of the batch replay) — shared
    * by the full-build oracle (q403/q407) and the epoch-stage oracle
    * (q409). Composed by PLAIN CONCATENATION, never s-interpolation:
    * the chain carries single-backslash regexes that interpolation
    * would mangle. */
  private val trainingChainCtes: String = """
      tk0 AS (SELECT doc_id, source, CAST(len(list_filter(
                string_split_regex(lower(trim(text)), '\s+'),
                x -> length(x) > 0)) AS BIGINT) AS n_tok
              FROM documents),
      capr AS (SELECT doc_id, source, n_tok,
                      row_number() OVER (PARTITION BY source ORDER BY
                        md5('cap:' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS rk
               FROM tk0),
      kept AS MATERIALIZED (SELECT doc_id, source, n_tok FROM capr WHERE rk <= 15),
      base AS (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 1000000,
                      substring(text, 1,
                        greatest(length(text) - 20, 1))
               FROM documents WHERE doc_id % 3 = 0),
      btk AS MATERIALIZED (SELECT doc_id, list_filter(
                string_split_regex(lower(trim(text)), '\s+'),
                x -> length(x) > 0) AS toks FROM base),
      sh AS (SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN
                      list_distinct(list_transform(
                        generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' '
                          || toks[i+2]))
                    WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                    ELSE [] END AS s
             FROM btk),
      ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
      keep AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) <= 16),
      ex AS (SELECT doc_id, ex0.g FROM ex0 JOIN keep USING (g)),
      dsz AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS ns
                FROM ex a JOIN ex b
                  ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      prs AS (SELECT i.id_a, i.id_b
              FROM inter i
              JOIN dsz sa ON sa.doc_id = i.id_a
              JOIN dsz sb ON sb.doc_id = i.id_b
              WHERE round(CAST(i.ns AS DOUBLE)
                / (sa.sz + sb.sz - i.ns), 6) >= 0.5),
      e AS (SELECT id_a AS x, id_b AS y FROM prs
            UNION ALL SELECT id_b, id_a FROM prs),
      rch AS (SELECT x AS id, x AS rr FROM e
              UNION
              SELECT e.x, rch.rr FROM e JOIN rch ON e.y = rch.id),
      cc AS MATERIALIZED (SELECT id, min(rr) AS comp FROM rch GROUP BY id),
      asg AS MATERIALIZED (SELECT b.doc_id,
                     coalesce(cc.comp, b.doc_id) AS cluster
              FROM (SELECT doc_id FROM base) b
              LEFT JOIN cc ON cc.id = b.doc_id),
      eg AS (SELECT DISTINCT CASE WHEN len(toks) >= 8
                    THEN array_to_string(
                           toks[len(toks)-7:len(toks)], ' ')
                    ELSE array_to_string(toks, ' ') END AS g
             FROM btk WHERE doc_id < 1000000 AND doc_id % 97 = 0),
      cg AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 8 THEN
                 list_transform(generate_series(1, len(toks) - 7),
                   i -> array_to_string(toks[i:i+7], ' '))
               WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
               ELSE [] END) AS g
             FROM btk),
      cont AS (SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (g)),
      ccl AS MATERIALIZED (SELECT DISTINCT asg.cluster
              FROM cont JOIN asg ON asg.doc_id = cont.doc_id),
      kc AS MATERIALIZED (SELECT k.doc_id, k.source, k.n_tok, asg.cluster,
                    (ccl.cluster IS NOT NULL) AS drp
             FROM kept k
             JOIN asg ON asg.doc_id = k.doc_id
             LEFT JOIN ccl ON ccl.cluster = asg.cluster),
      spl AS MATERIALIZED (SELECT *, CASE WHEN vc < 205 THEN 'train'
                             WHEN vc < 230 THEN 'val'
                             ELSE 'test' END AS sp
              FROM (SELECT kc.*,
                           CAST('0x' || substring(md5('split3:' ||
                             CAST(cluster AS VARCHAR)), 1, 2)
                             AS INTEGER) AS vc
                    FROM kc WHERE NOT drp) q),
      td AS MATERIALIZED (SELECT DISTINCT asg.cluster FROM asg
             WHERE asg.doc_id < 1000000 AND asg.doc_id % 89 = 0),
      tr AS MATERIALIZED (SELECT spl.*, (td.cluster IS NOT NULL) AS rm
             FROM spl LEFT JOIN td ON td.cluster = spl.cluster
             WHERE spl.sp = 'train'),
      src AS MATERIALIZED (SELECT source, CAST(sum(n_tok) AS BIGINT) AS sz_tok
              FROM tr WHERE NOT rm GROUP BY 1),
      ut AS (SELECT CAST((sum(sz_tok) * 6) // 10 AS BIGINT) AS b,
                    CAST(count(*) AS BIGINT) AS n FROM src),
      uo AS (SELECT source, sz_tok, b, n,
                    row_number() OVER (ORDER BY sz_tok, source)
                      AS rn,
                    sum(sz_tok) OVER (ORDER BY sz_tok, source
                      ROWS UNBOUNDED PRECEDING) AS cum
             FROM src CROSS JOIN ut),
      uf AS (SELECT *,
                    (sz_tok * (n - rn + 1) <= b - (cum - sz_tok))
                      AS raw
             FROM uo),
      uff AS (SELECT coalesce(min(CASE WHEN NOT raw THEN rn END),
                              max(n) + 1) AS ff FROM uf),
      uck AS (SELECT coalesce(max(CASE WHEN f.rn = ff.ff - 1
                                  THEN f.cum END), 0) AS cumk
              FROM uf f CROSS JOIN uff ff),
      up AS MATERIALIZED (SELECT f.source, f.sz_tok, f.rn, ff.ff,
                    f.b - ck.cumk AS rem, f.n - (ff.ff - 1) AS lft
             FROM uf f CROSS JOIN uff ff CROSS JOIN uck ck),
      ua AS MATERIALIZED (SELECT source, sz_tok,
                    CAST(CASE WHEN rn < ff THEN sz_tok
                         ELSE (rem // lft) + (CASE WHEN rn - (ff - 1)
                           <= (rem % lft) THEN 1 ELSE 0 END)
                    END AS BIGINT) AS alloc_tok
             FROM up),
      gr AS (SELECT tr.doc_id, tr.source, tr.n_tok,
                    sum(tr.n_tok) OVER (PARTITION BY tr.source
                      ORDER BY md5('mix3:' ||
                        CAST(tr.doc_id AS VARCHAR)), tr.doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum
             FROM tr WHERE NOT rm),
      sel AS MATERIALIZED (SELECT gr.doc_id, gr.source, gr.n_tok
              FROM gr JOIN ua ON ua.source = gr.source
              WHERE gr.cum <= ua.alloc_tok)"""

  /** The batch training build replayed in ONE SQL statement — the
    * shared oracle for q403 (batch build over staged corpus mines)
    * AND q407 (the same chain fed by streamed per-batch manifests):
    * a hash match for q407 proves the streaming pipeline reproduces
    * the batch build bit-exactly — the fold theorem's capstone. */
  private val trainingBuildSql: String =
    "WITH RECURSIVE" + trainingChainCtes + """,
      pcs AS MATERIALIZED (SELECT doc_id, n_tok,
                     sum(n_tok) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
              FROM sel WHERE n_tok > 0),
      sps AS (SELECT doc_id, CAST(cum - n_tok AS BIGINT) AS s,
                     CAST(cum - 1 AS BIGINT) AS e FROM pcs),
      chn AS (SELECT doc_id, s,
                     unnest(generate_series(s // 512, e // 512))
                       AS chunk
              FROM sps),
      pc AS MATERIALIZED (SELECT chunk, CAST(count(*) AS BIGINT) AS n_docs
             FROM chn GROUP BY 1),
      pt AS MATERIALIZED (SELECT max(cum) AS tt FROM pcs),
      shr AS (SELECT doc_id, n_tok,
                     row_number() OVER (ORDER BY md5('shard:' ||
                       CAST(doc_id AS VARCHAR)), doc_id) AS rk
              FROM sel),
      shm AS MATERIALIZED (SELECT (rk - 1) % 8 AS rnk,
                     CAST(sum(n_tok) AS BIGINT) AS rt,
                     CAST(sum((((rk - 1) % 8) + 1)
                       * (((rk - 1) // 8) + 1) * doc_id) AS BIGINT)
                       AS oc
              FROM shr GROUP BY 1),
      dgh AS (SELECT s.doc_id % 16 AS shard,
                     CAST(('0x' || substring(md5(d.text), 1, 7))
                       AS BIGINT) AS h
              FROM sel s JOIN documents d ON d.doc_id = s.doc_id),
      dgs AS MATERIALIZED (SELECT shard,
                     CAST(sum(h) % 1000000007 AS BIGINT) AS dg,
                     min(h) AS mn, max(h) AS mx
              FROM dgh GROUP BY 1)
      -- every aggregate that can be NULL over an empty stage frame is
      -- coalesced to 0: the engine's melt() pins that convention, and
      -- a degenerate (empty-corpus) run must diverge only for REAL
      -- reasons, never a null-formatting one (r13 advice)
      SELECT stage, metric, value FROM (
        SELECT '1_cap' AS stage, 'n_docs' AS metric,
               CAST(count(*) AS BIGINT) AS value FROM kept
        UNION ALL SELECT '1_cap', 'n_tokens',
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM kept
        UNION ALL SELECT '1_cap', 'id_checksum',
               CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM kept
        UNION ALL SELECT '2_decon', 'n_contam_clusters',
               CAST(count(*) AS BIGINT) FROM ccl
        UNION ALL SELECT '2_decon', 'n_dropped',
               CAST(coalesce(sum(CASE WHEN drp THEN 1 ELSE 0 END), 0)
                 AS BIGINT) FROM kc
        UNION ALL SELECT '2_decon', 'n_left',
               CAST(coalesce(sum(CASE WHEN NOT drp THEN 1 ELSE 0 END),
                 0) AS BIGINT) FROM kc
        UNION ALL SELECT '2_decon', 'id_checksum',
               CAST(coalesce(sum(CASE WHEN NOT drp THEN doc_id END),
                 0) AS BIGINT) FROM kc
        UNION ALL SELECT '3_split', 'n_train',
               CAST(coalesce(sum(CASE WHEN sp = 'train' THEN 1
                 ELSE 0 END), 0) AS BIGINT) FROM spl
        UNION ALL SELECT '3_split', 'n_val',
               CAST(coalesce(sum(CASE WHEN sp = 'val' THEN 1
                 ELSE 0 END), 0) AS BIGINT) FROM spl
        UNION ALL SELECT '3_split', 'n_test',
               CAST(coalesce(sum(CASE WHEN sp = 'test' THEN 1
                 ELSE 0 END), 0) AS BIGINT) FROM spl
        UNION ALL SELECT '3_split', 'tok_train',
               CAST(coalesce(sum(CASE WHEN sp = 'train' THEN n_tok
                 END), 0) AS BIGINT) FROM spl
        UNION ALL SELECT '4_takedown', 'n_td_clusters',
               CAST(count(*) AS BIGINT) FROM td
        UNION ALL SELECT '4_takedown', 'n_removed',
               CAST(coalesce(sum(CASE WHEN rm THEN 1 ELSE 0 END), 0)
                 AS BIGINT) FROM tr
        UNION ALL SELECT '4_takedown', 'n_left',
               CAST(coalesce(sum(CASE WHEN NOT rm THEN 1 ELSE 0 END),
                 0) AS BIGINT) FROM tr
        UNION ALL SELECT '4_takedown', 'tok_left',
               CAST(coalesce(sum(CASE WHEN NOT rm THEN n_tok END),
                 0) AS BIGINT) FROM tr
        UNION ALL SELECT '5_mixture', 'n_selected',
               CAST(count(*) AS BIGINT) FROM sel
        UNION ALL SELECT '5_mixture', 'tok_selected',
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM sel
        UNION ALL SELECT '5_mixture', 'id_checksum',
               CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM sel
        UNION ALL SELECT '5_mixture', 'n_capped_sources',
               CAST(sum(CASE WHEN rn < ff THEN 1 ELSE 0 END)
                 AS BIGINT) FROM up
        UNION ALL SELECT '6_packing', 'n_chunks',
               CAST(count(*) AS BIGINT) FROM pc
        UNION ALL SELECT '6_packing', 'n_multidoc',
               CAST(coalesce(sum(CASE WHEN n_docs >= 2 THEN 1
                 ELSE 0 END), 0) AS BIGINT) FROM pc
        UNION ALL SELECT '6_packing', 'n_boundaries',
               CAST(coalesce(sum(n_docs - 1), 0) AS BIGINT) FROM pc
        UNION ALL SELECT '6_packing', 'tail_fill',
               CAST(coalesce(pt.tt - (SELECT count(*) - 1 FROM pc)
                 * 512, 0) AS BIGINT) FROM pt
        UNION ALL SELECT '7_sharding', 'order_checksum',
               CAST(coalesce(sum(oc), 0) AS BIGINT) FROM shm
        UNION ALL SELECT '7_sharding', 'max_rank_tokens',
               CAST(coalesce(max(rt), 0) AS BIGINT) FROM shm
        UNION ALL SELECT '7_sharding', 'n_ranks',
               CAST(count(*) AS BIGINT) FROM shm
        UNION ALL SELECT '8_digest', 'n_shards',
               CAST(count(*) AS BIGINT) FROM dgs
        UNION ALL SELECT '8_digest', 'digest_sum',
               CAST(coalesce(sum(dg), 0) AS BIGINT) FROM dgs
        UNION ALL SELECT '8_digest', 'hash_min',
               CAST(coalesce(min(mn), 0) AS BIGINT) FROM dgs
        UNION ALL SELECT '8_digest', 'hash_max',
               CAST(coalesce(max(mx), 0) AS BIGINT) FROM dgs
      ) fin ORDER BY stage, metric"""

  /** Epoch/exposure replay: the chain through `sel`, then q359's
    * quartile upsampling (exact distinct-token score) and q360's
    * epoch-seeded md5 shuffle, dealt round-robin to 8 ranks. */
  private val epochStreamSql: String =
    "WITH RECURSIVE" + trainingChainCtes + """,
      sc AS (SELECT sel.doc_id, sel.n_tok,
               CAST(len(list_distinct(btk.toks)) AS BIGINT) AS score
             FROM sel JOIN btk USING (doc_id)),
      cnt AS (SELECT count(*) AS nn FROM sc),
      rk0 AS (SELECT doc_id, n_tok,
                row_number() OVER (ORDER BY score, doc_id) AS rn
              FROM sc),
      quart AS (SELECT doc_id, n_tok,
                  ((rn - 1) * 4) // nn + 1 AS q
                FROM rk0 CROSS JOIN cnt),
      rep AS (SELECT doc_id, n_tok,
                unnest(generate_series(1, q)) AS epoch
              FROM quart),
      erk AS (SELECT epoch, doc_id, n_tok,
                row_number() OVER (PARTITION BY epoch ORDER BY
                  md5('ep' || CAST(epoch AS VARCHAR) || ':'
                    || CAST(doc_id AS VARCHAR)), doc_id) AS rk
              FROM rep)
      SELECT CAST(epoch AS BIGINT) AS epoch,
             CAST((rk - 1) % 8 AS BIGINT) AS rnk,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS tok,
             CAST(sum(((rk - 1) // 8 + 1) * doc_id) AS BIGINT)
               AS order_checksum
      FROM erk GROUP BY 1, 2 ORDER BY epoch, rnk"""

  /** The one-shot takedown-execution replay (q408), parameterized on
    * the removed predicate so the INCREMENTAL fold (q412) reuses it
    * verbatim with the union of its notice batches. Composed by plain
    * concatenation — the chain carries single-backslash regexes that
    * s-interpolation would mangle. */
  private def takedownExecSql(removedPred: String): String =
    """
      WITH tk AS (SELECT doc_id, CAST(len(list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    x -> length(x) > 0)) AS BIGINT) AS n_tok
                  FROM documents),
      pcs AS MATERIALIZED (SELECT doc_id, n_tok,
               sum(n_tok) OVER (ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
             FROM tk WHERE n_tok > 0),
      sps AS MATERIALIZED (SELECT doc_id, n_tok,
               CAST(cum - n_tok AS BIGINT) AS s,
               CAST(cum - 1 AS BIGINT) AS e,
               (""" + removedPred + """) AS removed
             FROM pcs),
      frg AS (SELECT doc_id, removed, s, e,
                unnest(generate_series(s // 512, e // 512)) AS chunk
              FROM sps),
      fr AS MATERIALIZED (SELECT doc_id, removed, chunk,
              greatest(s, chunk * 512) AS fs,
              least(e, (chunk + 1) * 512 - 1) AS fe
            FROM frg),
      af AS MATERIALIZED (SELECT DISTINCT chunk FROM fr WHERE removed),
      fr2 AS MATERIALIZED (SELECT fr.*, (af.chunk IS NOT NULL) AS af
              FROM fr LEFT JOIN af ON af.chunk = fr.chunk),
      fh AS MATERIALIZED (SELECT removed, af,
              CAST(('0x' || substring(md5('frag:'
                || CAST(doc_id AS VARCHAR) || ':'
                || CAST(fs AS VARCHAR) || ':'
                || CAST(fe AS VARCHAR)), 1, 7)) AS BIGINT) AS h
            FROM fr2),
      dpre AS (SELECT CAST(coalesce(sum(ps), 0) % 1000000007
                 AS BIGINT) AS clean_digest_pre
               FROM (SELECT sum(h) % 1000000007 AS ps FROM fh
                     WHERE NOT af GROUP BY h % 1024) g),
      dpost AS (SELECT CAST(coalesce(sum(ps), 0) % 1000000007
                  AS BIGINT) AS clean_digest_post
                FROM (SELECT sum(h) % 1000000007 AS ps FROM fh
                      WHERE NOT af AND NOT removed
                      GROUP BY h % 1024) g),
      tot AS (SELECT CAST(coalesce(max(e) // 512 + 1, 0) AS BIGINT)
                AS n_chunks FROM sps),
      rem AS (SELECT CAST(count(*) AS BIGINT) AS n_removed_docs,
                     CAST(coalesce(sum(n_tok), 0) AS BIGINT)
                       AS pad_tokens,
                     min(s) AS min_rs
              FROM sps WHERE removed),
      nafc AS (SELECT CAST(count(*) AS BIGINT) AS n_affected FROM af),
      mb AS (SELECT CAST(coalesce(sum(ns), 0) AS BIGINT)
                 AS n_surv_frags_affected,
               CAST(coalesce(sum(greatest(ns - 1, 0)), 0) AS BIGINT)
                 AS boundaries_affected
             FROM (SELECT chunk, count(*) AS ns FROM fr2
                   WHERE af AND NOT removed GROUP BY 1) g),
      rp AS (SELECT CAST(CASE WHEN coalesce(sum(n_tok), 0) > 0
                      THEN (sum(n_tok) - 1) // 512 + 1
                      ELSE 0 END AS BIGINT) AS n_chunks_repacked
             FROM sps WHERE NOT removed),
      mv AS (SELECT CAST(coalesce(sum(CASE WHEN NOT sps.removed
                      AND sps.s > rem.min_rs THEN sps.n_tok END), 0)
                 AS BIGINT) AS tokens_moved
             FROM sps CROSS JOIN rem)
      SELECT tot.n_chunks, nafc.n_affected,
             tot.n_chunks - nafc.n_affected AS n_clean,
             rem.n_removed_docs, rem.pad_tokens,
             dpre.clean_digest_pre, dpost.clean_digest_post,
             mb.n_surv_frags_affected, mb.boundaries_affected,
             rp.n_chunks_repacked, mv.tokens_moved
      FROM tot, nafc, rem, dpre, dpost, mb, rp, mv"""

  def oracleSql: Map[String, String] = Map(
    "q403_training_build" -> trainingBuildSql,
    "q407_stream_training_build" -> trainingBuildSql,
    "q409_epoch_stream" -> epochStreamSql,
    // the streaming serve's oracle IS the batch epoch-stage replay —
    // a hash match proves the streamed manifests carry the full
    // ingest→selection→epoch→rank path bit-exactly
    "q411_stream_epoch_serve" -> epochStreamSql,

    // sequential BPE retrain (the q129 chained rounds), then re-encode
    // every word, sum BPE lengths per doc, and replay the q353 packing
    // chain over the BPE token axis
    "q404_bpe_packing" -> s"""
      WITH dtk AS MATERIALIZED (SELECT doc_id, unnest(list_filter(
                    string_split_regex(lower(trim(text)), '\\s+'),
                    x -> length(x) > 0)) AS word FROM documents),
      wf AS (SELECT word, count(*) AS freq FROM dtk GROUP BY 1),
      m0 AS MATERIALIZED (SELECT word, freq,
               regexp_replace(word, '(.)', ' \\1 ', 'g') AS s FROM wf),
      ${(1 to 10).map(QueryShared.bpeRoundSql).mkString(",\n      ")},
      wl AS (SELECT word, CAST(len(list_filter(string_split(s, ' '),
                x -> x <> '')) AS BIGINT) AS wn FROM m10),
      dn AS (SELECT doc_id, CAST(sum(wn) AS BIGINT) AS n_tok
             FROM dtk JOIN wl USING (word) GROUP BY 1),
      pcs AS MATERIALIZED (SELECT doc_id, n_tok,
                     sum(n_tok) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
              FROM dn WHERE n_tok > 0),
      sps AS (SELECT doc_id, CAST(cum - n_tok AS BIGINT) AS s,
                     CAST(cum - 1 AS BIGINT) AS e FROM pcs),
      chn AS (SELECT doc_id, s,
                     unnest(generate_series(s // 512, e // 512))
                       AS chunk
              FROM sps),
      pc AS (SELECT chunk, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(CASE WHEN s // 512 = chunk
                             THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_starts
             FROM chn GROUP BY 1),
      pt AS (SELECT max(cum) AS tt FROM pcs)
      SELECT CAST(chunk AS BIGINT) AS chunk, n_docs, n_starts,
             CAST(least(512, pt.tt - chunk * 512) AS BIGINT)
               AS n_tokens
      FROM pc CROSS JOIN pt ORDER BY chunk""",

    // BPE retrain + per-doc re-encode (the q404 head), then the q357
    // water-fill + greedy prefix replay on the BPE token axis
    "q405_bpe_mixture" -> s"""
      WITH dtk AS MATERIALIZED (SELECT doc_id, source,
                    unnest(list_filter(
                      string_split_regex(lower(trim(text)), '\\s+'),
                      x -> length(x) > 0)) AS word FROM documents),
      wf AS (SELECT word, count(*) AS freq FROM dtk GROUP BY 1),
      m0 AS MATERIALIZED (SELECT word, freq,
               regexp_replace(word, '(.)', ' \\1 ', 'g') AS s FROM wf),
      ${(1 to 10).map(QueryShared.bpeRoundSql).mkString(",\n      ")},
      wl AS (SELECT word, CAST(len(list_filter(string_split(s, ' '),
                x -> x <> '')) AS BIGINT) AS wn FROM m10),
      tk AS MATERIALIZED (SELECT doc_id, source,
                    CAST(sum(wn) AS BIGINT) AS n_tok
             FROM dtk JOIN wl USING (word) GROUP BY 1, 2),
      src AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS sz_tok
              FROM tk GROUP BY 1),
      ${QueryShared.unimaxAllocSql("src", "sz_tok", "alloc_tok", "u")},
      rk AS (SELECT tk.source, tk.doc_id, tk.n_tok,
                    sum(tk.n_tok) OVER (PARTITION BY tk.source
                      ORDER BY md5('mix4:' ||
                        CAST(tk.doc_id AS VARCHAR)), tk.doc_id
                      ROWS UNBOUNDED PRECEDING) AS ctok
             FROM tk),
      sel AS (SELECT rk.source, rk.doc_id, rk.n_tok
              FROM rk JOIN ua USING (source)
              WHERE rk.ctok <= ua.alloc_tok)
      SELECT ua.source, ua.sz_tok, ua.alloc_tok,
             CAST(count(sel.doc_id) AS BIGINT) AS n_selected,
             CAST(coalesce(sum(sel.n_tok), 0) AS BIGINT)
               AS tok_selected,
             CAST(coalesce(sum(sel.doc_id), 0) AS BIGINT)
               AS sel_checksum
      FROM ua LEFT JOIN sel ON sel.source = ua.source
      GROUP BY ua.source, ua.sz_tok, ua.alloc_tok
      ORDER BY ua.source""",

    // replay: spans by prefix sum in doc_id order, fragments by
    // generate_series over touched chunks, hole-punch census +
    // two-level fragment digests + the repack/move alternative
    "q408_takedown_exec" -> takedownExecSql("doc_id % 89 = 0"),

    // the fold twin's oracle IS the one-shot rebuild with the UNION
    // of both notice batches — the hash match proves fold ≡ batch;
    // the STREAMING fold (q414, with an in-stream redelivery) maps
    // to the same rebuild
    "q412_takedown_fold" ->
      takedownExecSql("doc_id % 89 = 0 OR doc_id % 101 = 0"),
    "q414_stream_takedown" ->
      takedownExecSql("doc_id % 89 = 0 OR doc_id % 101 = 0"),

    // ONE sequential 14-round retrain chain; segmentations read at
    // round 10 (v1) and round 14 (v2), re-encoded per doc, diffed
    "q410_tokenizer_drift" -> s"""
      WITH dtk AS MATERIALIZED (SELECT doc_id, unnest(list_filter(
                    string_split_regex(lower(trim(text)), '\\s+'),
                    x -> length(x) > 0)) AS word FROM documents),
      wf AS (SELECT word, count(*) AS freq FROM dtk GROUP BY 1),
      m0 AS MATERIALIZED (SELECT word, freq,
               regexp_replace(word, '(.)', ' \\1 ', 'g') AS s FROM wf),
      ${(1 to 14).map(QueryShared.bpeRoundSql).mkString(",\n      ")},
      wl AS (SELECT m10.word,
               CAST(len(list_filter(string_split(m10.s, ' '),
                 x -> x <> '')) AS BIGINT) AS w1,
               CAST(len(list_filter(string_split(m14.s, ' '),
                 x -> x <> '')) AS BIGINT) AS w2
             FROM m10 JOIN m14 USING (word)),
      per AS MATERIALIZED (SELECT doc_id,
               CAST(sum(w1) AS BIGINT) AS n1,
               CAST(sum(w2) AS BIGINT) AS n2
             FROM dtk JOIN wl USING (word) GROUP BY 1)
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(coalesce(sum(n1), 0) AS BIGINT) AS tok_v1,
             CAST(coalesce(sum(n2), 0) AS BIGINT) AS tok_v2,
             CAST(coalesce(sum(CASE WHEN n1 <> n2 THEN 1 ELSE 0 END),
               0) AS BIGINT) AS n_changed,
             CAST(coalesce(sum(n1 - n2), 0) AS BIGINT) AS shrink_sum,
             CAST(coalesce(max(n1 - n2), 0) AS BIGINT) AS max_shrink,
             CAST(coalesce(sum(CASE WHEN n1 <> n2 THEN doc_id END),
               0) AS BIGINT) AS changed_checksum,
             CAST(CASE WHEN coalesce(sum(n1), 0) > 0
               THEN (sum(n1) - 1) // 512 + 1 ELSE 0 END AS BIGINT)
               AS chunks_v1,
             CAST(CASE WHEN coalesce(sum(n2), 0) > 0
               THEN (sum(n2) - 1) // 512 + 1 ELSE 0 END AS BIGINT)
               AS chunks_v2
      FROM per""",

    // the same 14-round retrain chain as q410, then BOTH packings
    // replayed (prefix sums in doc_id order), fragment-digested, and
    // diffed — the migration execution's full blast radius
    "q413_tokenizer_migration" -> s"""
      WITH dtk AS MATERIALIZED (SELECT doc_id, unnest(list_filter(
                    string_split_regex(lower(trim(text)), '\\s+'),
                    x -> length(x) > 0)) AS word FROM documents),
      wf AS (SELECT word, count(*) AS freq FROM dtk GROUP BY 1),
      m0 AS MATERIALIZED (SELECT word, freq,
               regexp_replace(word, '(.)', ' \\1 ', 'g') AS s FROM wf),
      ${(1 to 14).map(QueryShared.bpeRoundSql).mkString(",\n      ")},
      wl AS (SELECT m10.word,
               CAST(len(list_filter(string_split(m10.s, ' '),
                 x -> x <> '')) AS BIGINT) AS w1,
               CAST(len(list_filter(string_split(m14.s, ' '),
                 x -> x <> '')) AS BIGINT) AS w2
             FROM m10 JOIN m14 USING (word)),
      per AS MATERIALIZED (SELECT doc_id,
               CAST(sum(w1) AS BIGINT) AS n1,
               CAST(sum(w2) AS BIGINT) AS n2
             FROM dtk JOIN wl USING (word) GROUP BY 1),
      pp1 AS (SELECT doc_id, n1 AS n_tok,
               sum(n1) OVER (ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
             FROM per WHERE n1 > 0),
      s1 AS MATERIALIZED (SELECT doc_id, n_tok,
              CAST(cum - n_tok AS BIGINT) AS s,
              CAST(cum - 1 AS BIGINT) AS e FROM pp1),
      pp2 AS (SELECT doc_id, n2 AS n_tok,
               sum(n2) OVER (ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
             FROM per WHERE n2 > 0),
      s2 AS MATERIALIZED (SELECT doc_id, n_tok,
              CAST(cum - n_tok AS BIGINT) AS s,
              CAST(cum - 1 AS BIGINT) AS e FROM pp2),
      f1 AS MATERIALIZED (SELECT doc_id, s, e,
              unnest(generate_series(s // 512, e // 512)) AS chunk
            FROM s1),
      g1 AS (SELECT CAST(('0x' || substring(md5('frag:'
               || CAST(doc_id AS VARCHAR) || ':'
               || CAST(greatest(s, chunk * 512) AS VARCHAR) || ':'
               || CAST(least(e, (chunk + 1) * 512 - 1) AS VARCHAR)),
               1, 7)) AS BIGINT) AS h
             FROM f1),
      d1 AS (SELECT CAST(coalesce(sum(ps), 0) % 1000000007
               AS BIGINT) AS layout_digest_v1
             FROM (SELECT sum(h) % 1000000007 AS ps FROM g1
                   GROUP BY h % 1024) g),
      bb1 AS (SELECT CAST(coalesce(sum(nd - 1), 0) AS BIGINT)
                AS n_boundaries_v1
              FROM (SELECT chunk, count(*) AS nd FROM f1
                    GROUP BY 1) g),
      ch1 AS MATERIALIZED (SELECT
              CAST(coalesce(max(e) // 512 + 1, 0) AS BIGINT)
                AS chunks_v1,
              CAST(coalesce(max(e) + 1, 0) AS BIGINT) AS tok_v1
            FROM s1),
      f2 AS MATERIALIZED (SELECT doc_id, s, e,
              unnest(generate_series(s // 512, e // 512)) AS chunk
            FROM s2),
      g2 AS (SELECT CAST(('0x' || substring(md5('frag:'
               || CAST(doc_id AS VARCHAR) || ':'
               || CAST(greatest(s, chunk * 512) AS VARCHAR) || ':'
               || CAST(least(e, (chunk + 1) * 512 - 1) AS VARCHAR)),
               1, 7)) AS BIGINT) AS h
             FROM f2),
      d2 AS (SELECT CAST(coalesce(sum(ps), 0) % 1000000007
               AS BIGINT) AS layout_digest_v2
             FROM (SELECT sum(h) % 1000000007 AS ps FROM g2
                   GROUP BY h % 1024) g),
      bb2 AS (SELECT CAST(coalesce(sum(nd - 1), 0) AS BIGINT)
                AS n_boundaries_v2
              FROM (SELECT chunk, count(*) AS nd FROM f2
                    GROUP BY 1) g),
      ch2 AS (SELECT
              CAST(coalesce(max(e) // 512 + 1, 0) AS BIGINT)
                AS chunks_v2,
              CAST(coalesce(max(e) + 1, 0) AS BIGINT) AS tok_v2
            FROM s2),
      fc AS MATERIALIZED (SELECT
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(coalesce(sum(CASE WHEN n1 <> n2 THEN 1
                ELSE 0 END), 0) AS BIGINT) AS n_changed,
              CAST(coalesce(min(CASE WHEN n1 <> n2 THEN doc_id END),
                -1) AS BIGINT) AS first_changed_doc
            FROM per),
      cu AS (SELECT CAST(CASE WHEN fc.first_changed_doc = -1
               THEN ch1.chunks_v1
               ELSE (SELECT s // 512 FROM s1
                     WHERE s1.doc_id = fc.first_changed_doc)
               END AS BIGINT) AS chunks_unchanged
             FROM fc, ch1),
      mv AS (SELECT CAST(coalesce(sum(CASE WHEN a.s <> b.s
                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS moved_docs,
               CAST(coalesce(sum(CASE WHEN a.s <> b.s
                 THEN b.n_tok END), 0) AS BIGINT) AS moved_tokens
             FROM s1 a JOIN s2 b USING (doc_id))
      SELECT fc.n_docs, fc.n_changed, fc.first_changed_doc,
             ch1.tok_v1, ch2.tok_v2, ch1.chunks_v1, ch2.chunks_v2,
             cu.chunks_unchanged,
             ch2.chunks_v2 - cu.chunks_unchanged AS chunks_rewritten,
             bb1.n_boundaries_v1, bb2.n_boundaries_v2,
             mv.moved_docs, mv.moved_tokens,
             d1.layout_digest_v1, d2.layout_digest_v2
      FROM fc, ch1, ch2, cu, bb1, bb2, mv, d1, d2""",

    // full rebuild with the recrawl's payload resolution applied:
    // every 7th doc's token count resolves to least(original,
    // truncated) — the deterministic pick the manifest fold makes;
    // the md5 sampling order is payload-independent, so the kept id
    // set is the plain per-source top-15
    "q406_stream_recrawl" -> """
      WITH tk AS (SELECT doc_id, source,
              CAST(len(list_filter(string_split_regex(
                lower(trim(text)), '\s+'),
                x -> length(x) > 0)) AS BIGINT) AS n1,
              CAST(len(list_filter(string_split_regex(
                lower(trim(substring(text, 1,
                  greatest(length(text) - 30, 1)))), '\s+'),
                x -> length(x) > 0)) AS BIGINT) AS n2
            FROM documents),
      r AS (SELECT doc_id, source,
              CASE WHEN doc_id % 7 = 0 THEN least(n1, n2)
                   ELSE n1 END AS n_tok,
              row_number() OVER (PARTITION BY source ORDER BY
                md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id)
                AS rk
            FROM tk)
      SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
             CAST(sum(n_tok) AS BIGINT) AS tok_kept,
             CAST(sum(doc_id) AS BIGINT) AS kept_checksum
      FROM r WHERE rk <= 15 GROUP BY 1 ORDER BY source""",
  )
}
