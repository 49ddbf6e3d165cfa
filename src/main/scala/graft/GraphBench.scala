package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph
import graft.LocalSpark.timed

/** PageRank cost decomposition at sf scale — where q141/q146's wall
  * time actually goes: the one-off co-occurrence edge build (distinct
  * self-join) vs the per-iteration loop, and the price of the
  * deterministic (sorted-fold) mode over the plain sum.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.GraphBench <testdata>/sf0.1"
  */
object GraphBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = LocalSpark.session()
    val li = new graft.tables.Catalog(spark, sfDir).table("lineitem")
      .filter(pmod(col("l_partkey"), lit(4)) === 0)
    val (edges, tBuild) = timed {
      val e = Graph.coOccurrenceEdges(li, col("l_orderkey"),
          col("l_partkey"))
        .localCheckpoint()
      (e, e.count())
    }
    val nEdges = edges._2
    val nNodes = edges._1.select(col("src")).distinct().count()

    val (_, tPlain) = timed {
      Graph.pageRank(edges._1, iterations = 3).count()
    }
    val (_, tDet) = timed {
      Graph.pageRank(edges._1, iterations = 3,
        deterministic = true).count()
    }
    val (_, tDangling) = timed {
      Graph.pageRank(edges._1, iterations = 3,
        danglingMass = true).count()
    }

    // --- triangle counting on a SKEWED graph: one hub of degree H
    // (star) + disjoint 4-cliques. The naive lowest-id wedge join
    // pays H² wedges at the hub; degree orientation gives every star
    // edge out-degree ≤ 1 at the leaf end, so the hub term vanishes
    // and only the cliques' bounded wedges remain. Same exact counts.
    import spark.implicits._
    val hubDeg = 20000L
    val star = spark.range(1, hubDeg + 1)
      .select(lit(0L).as("src"), col("id").as("dst"))
    val nClique = 2000L
    val cliqueEdges = spark.range(nClique).flatMap { c =>
      val base = 1000000L + c * 4
      for (i <- 0 until 4; j <- (i + 1) until 4)
        yield (base + i, base + j)
    }.toDF("src", "dst")
    val skewed = star.unionByName(cliqueEdges).localCheckpoint()
    val expectTris = nClique * 4 * 3 // 4 triangles/clique × 3 corners
    val (nTriOriented, tOriented) = timed {
      Graph.triangleCounts(skewed)
        .agg(sum(col("triangles"))).as[Long].head()
    }
    val (nTriNaive, tNaive) = timed {
      Graph.triangleCountsNaive(skewed)
        .agg(sum(col("triangles"))).as[Long].head()
    }
    require(nTriOriented == nTriNaive,
      s"orientation changed the answer: $nTriOriented vs $nTriNaive")

    // --- PPR / BFS / link prediction on the same staged edge list ---
    val (_, tPpr) = timed {
      val seeds = edges._1.select(col("src").as("node"))
        .filter(col("node") % 100 === 0).distinct()
      Graph.pageRank(edges._1, iterations = 3,
        restart = Some(seeds)).count()
    }
    val (nReach, tBfs) = timed {
      val seeds = edges._1.select(col("src").as("node"))
        .filter(col("node") % 100 === 0).distinct()
      Graph.bfsHops(edges._1, seeds, maxHops = 3).count()
    }
    // link prediction runs on the SKEWED graph to show the hub cap:
    // uncapped, the hub alone contributes H² ≈ 4·10⁸ wedges; capped,
    // only the cliques' bounded wedges remain
    val (nCand, tLpCapped) = timed {
      Graph.linkPrediction(skewed, topK = 100,
        maxWedgeDegree = Some(64L)).count()
    }

    println(f"edges=$nEdges nodes=$nNodes build=$tBuild%6.2f s  " +
      f"3-iter plain=$tPlain%6.2f s  det=$tDet%6.2f s  " +
      f"dangling=$tDangling%6.2f s  ppr=$tPpr%6.2f s")
    println(f"bfs(3 hops, %%100 seeds): reach=$nReach $tBfs%6.2f s")
    println(f"skewed graph (hub deg $hubDeg + $nClique cliques): " +
      f"oriented=$tOriented%6.2f s  naive=$tNaive%6.2f s  " +
      f"corner-counts=$nTriOriented (expect ~$expectTris)  " +
      f"linkpred-capped=$tLpCapped%6.2f s ($nCand cands)")
    println(s"""{"bench":"graph","edges":$nEdges,"nodes":$nNodes,""" +
      s""""build_sec":$tBuild,"plain3_sec":$tPlain,"det3_sec":$tDet,""" +
      s""""dangling3_sec":$tDangling,"ppr3_sec":$tPpr,""" +
      s""""bfs3_sec":$tBfs,"bfs_reach":$nReach,""" +
      s""""tri_oriented_sec":$tOriented,"tri_naive_sec":$tNaive,""" +
      s""""tri_corner_counts":$nTriOriented,""" +
      s""""linkpred_capped_sec":$tLpCapped}""")
    spark.stop()
  }
}
