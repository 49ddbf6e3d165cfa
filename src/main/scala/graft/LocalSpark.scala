package graft
import org.apache.spark.sql.SparkSession

/** The one local SparkSession config every main (and the test suite)
  * runs under, so a harness times the same program the oracle checks.
  * A harness whose measurement depends on a different setting sets it
  * with `spark.conf.set` after [[session]] and says why. */
object LocalSpark {
  /** Local cores (and shuffle partitions); `SPARK_GRAFT_CPUS`. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def session(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false") // JX: errors -> null, never throw
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // the codegen class cache defaults to 100 entries; a 357-query
      // interleaved sweep evicts all of them between a query's two
      // iterations, so every iteration re-pays janino compilation
      // (~0.2 s/query — measured +25% on the total vs back-to-back).
      // Size it for the suite, as a 357-query production service would.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Evaluate `f` once; returns its result and the wall in seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-query cleanup between queries of a sweep, outside any timed
    * region: drop persisted intermediates so cached blocks don't pile
    * up, drop the streaming memory-sink views (clearCache keeps them),
    * and delete the scratch dirs the query registered — call only once
    * its result has been consumed. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.streaming.EventStream.dropSinkViews(spark)
    Scratch.sweep()
  }
}
