package graft
import org.apache.spark.sql.SparkSession

/** Dev harness: write `.explain("formatted")` for named queries to
  * files — the before/after plan evidence the optimization rounds
  * commit under plans/.
  *   sbt "runMain graft.PlanDump plans/r15 before q141_pagerank,q205_bfs_hops"
  * writes plans/r15/<name>_before.txt per query. Query names accept
  * prefixes (the Verify/Bench convention). Dataset actions the query
  * runs while it is built (driver collects, e.g. a JX cube's sparse
  * aggregate) are dumped first, each with its executed plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val prefixes = args(2).split(",").toSeq.filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val eager = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(action: String,
                      qe: org.apache.spark.sql.execution.QueryExecution,
                      durationNs: Long): Unit =
          eager.add(s"== Eager action: $action ==\n" +
            qe.explainString(org.apache.spark.sql.execution.FormattedMode))
        def onFailure(action: String,
                      qe: org.apache.spark.sql.execution.QueryExecution,
                      e: Exception): Unit = ()
      })
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        val txt =
          try {
            val df = fn(spark, sfDir)
            org.apache.spark.sql.graft.bridge
              .drainListenerBus(spark.sparkContext)
            val built = Iterator.continually(eager.poll())
              .takeWhile(_ != null).mkString
            built + df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          } catch { case e: Throwable =>
            s"PLAN-ERROR: ${Option(e.getMessage).getOrElse(e.getClass.getName)}"
          }
        val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
        java.nio.file.Files.writeString(p, txt)
        println(s"[plandump] wrote $p (${txt.length} chars)")
        spark.catalog.clearCache()
        spark.catalog.listTables().collect()
          .filter(_.name.startsWith("graft_stream_"))
          .foreach(t => spark.catalog.dropTempView(t.name))
      }
    spark.stop()
  }
}
