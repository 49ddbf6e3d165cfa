package graft.operators

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one driver-local gate: rows × cellsPerRow × 8 bytes against
  * `spark.graft.local.maxBytes`, decided by one count job. */
class DriverLocalSpec extends SparkSpec {

  // n rows × 2 cells × 8 bytes of payload: 160 bytes at n = 10
  private def pairs(n: Long): DataFrame =
    spark.range(n).select(col("id").as("a"), (col("id") + 1).as("b"))

  private def withMaxBytes[A](v: Long)(f: => A): A = {
    System.setProperty(DriverLocal.MaxBytesKey, v.toString)
    try f finally System.clearProperty(DriverLocal.MaxBytesKey)
  }

  /** The gate's result and the number of Spark jobs it started. */
  private def gated(df: DataFrame, cells: Int)
      : (Option[Array[org.apache.spark.sql.Row]], Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.bridge.drainListenerBus(sc)
    sc.addSparkListener(counter)
    try {
      val out = DriverLocal.collectWithin(df, cells)
      org.apache.spark.sql.graft.bridge.drainListenerBus(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(counter)
  }

  test("at exactly maxBytes the gate collects, in 2 Spark jobs") {
    val df = pairs(10)
    val (out, jobs) = withMaxBytes(160)(gated(df, 2))
    assert(out.map(_.map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
      === Some((0L until 10L).map(i => (i, i + 1))))
    assert(jobs === 2, "one count job + one collect job")
  }

  test("one row over maxBytes the gate declines after 1 count job") {
    val df = pairs(11)
    val (out, jobs) = withMaxBytes(160)(gated(df, 2))
    assert(out.isEmpty)
    assert(jobs === 1, "the count decides; nothing is collected")
    assert(df.storageLevel ===
      org.apache.spark.storage.StorageLevel.NONE, "the gate caches nothing")
  }

  test("maxBytes 0 declines and keeps a caller's cache; a collect " +
      "drops it") {
    val none = org.apache.spark.storage.StorageLevel.NONE
    val df = pairs(10).persist()
    try {
      assert(withMaxBytes(0)(DriverLocal.collectWithin(df, 2)).isEmpty)
      assert(df.storageLevel !== none)
      // the default budget is 64 MiB: 4,194,304 edges
      assert(DriverLocal.maxBytes === 64L * 1024 * 1024)
      assert(DriverLocal.maxRows(2) === 4194304L)
      assert(DriverLocal.collectWithin(df, 2).map(_.length) === Some(10))
      assert(df.storageLevel === none)
    } finally df.unpersist()
  }
}
