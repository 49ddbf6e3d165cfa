package graft

import org.apache.spark.sql.functions._
import graft.llm.Bloom
import graft.LocalSpark.timed

/** Shuffle-volume measurement for the Bloom-prefiltered large-large
  * joins (q116/q117): at an N× synthesized corpus, how many big-side
  * rows reach the exchange with and without the sketch prefilter, and
  * what the wall-time difference is. Broadcast joins are DISABLED for
  * the measured joins — the whole point of the operator is the regime
  * where neither side broadcasts as rows (at 100 TB the optimizer has
  * no broadcast escape hatch; the sketch is the only thing small
  * enough to ship).
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.BloomBench <testdata>/sf0.1 10 100"
  *
  * args: sfDir, corpus multiplier, overlapMod (1 in `overlapMod` big
  * docs overlap the other corpus — decontamination-shaped overlap is
  * rare, so the prefilter's pre-shuffle elimination approaches
  * (1 - 1/overlapMod - fpp)). */
object BloomBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val mult = if (args.length > 1) args(1).toInt else 10
    val overlapMod = if (args.length > 2) args(2).toInt else 100
    val spark = LocalSpark.session()

    val base = new graft.tables.Catalog(spark, sfDir).table("documents")
      .select(col("doc_id"), col("text"))
    val copies = (0 until mult).map { c =>
      if (c == 0) base
      else base.select((col("doc_id") + lit(c * 10000000L)).as("doc_id"),
        concat(col("text"), lit(" c" + c)).as("text"))
    }
    val big = copies.reduce(_ unionByName _)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .repartition(LocalSpark.cpus).localCheckpoint()
    val bigRows = big.count()
    // the other corpus: the 1-in-overlapMod overlapping slice verbatim,
    // plus an equal volume of non-overlapping (modified) fingerprints
    val other = big.filter(pmod(col("doc_id"), lit(overlapMod)) === 0)
      .select(col("fp"))
      .unionByName(big.filter(pmod(col("doc_id"), lit(overlapMod)) === 1)
        .select(md5(concat(col("fp"), lit("x"))).as("fp")))
      .localCheckpoint()
    val otherRows = other.count()

    // sketch build (charged separately — it is the prefilter's ingest)
    val (bf, tSketch) = timed(Bloom.sketchBytes(other, col("fp"),
      expectedItems = math.max(otherRows, 1L), fpp = 0.01))
    val (survivors, tProbe) = timed(
      big.filter(Bloom.mightContain(bf, col("fp"))).count())

    // measured joins: no broadcast escape hatch
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (nPlain, tPlain) = timed(
      big.join(other.distinct(), Seq("fp"), "left_semi").count())
    val (nBloom, tBloom) = timed(Bloom.prefilteredSemiJoin(
      big, col("fp"), other, col("fp"),
      expectedItems = math.max(otherRows, 1L)).count())
    require(nPlain == nBloom,
      s"prefiltered semi join diverged: $nPlain vs $nBloom")

    println(s"""{"bench":"bloom","mult":$mult,"overlap_mod":$overlapMod,""" +
      s""""big_rows":$bigRows,"other_rows":$otherRows,""" +
      s""""sketch_bytes":${bf.length},""" +
      s""""prefilter_survivors":$survivors,""" +
      s""""survivor_frac":${survivors.toDouble / bigRows},""" +
      s""""matches":$nPlain,""" +
      s""""t_sketch":$tSketch,"t_probe_count":$tProbe,""" +
      s""""t_plain_join":$tPlain,"t_bloom_join":$tBloom}""")
    spark.stop()
  }
}
