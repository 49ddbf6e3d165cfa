package graft

import java.nio.file.Files
import graft.streaming.EventStream

/** The shared session is the one Verify runs (the oracle's
  * semantics), and [[LocalSpark.release]] leaves nothing of a drained
  * query behind. */
class LocalSparkSpec extends SparkSpec {

  test("the shared session has ANSI off, UTC and AQE on") {
    assert(spark.conf.get("spark.sql.ansi.enabled") === "false")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    // the JX contract ANSI-off exists for: a bad cast is null
    assert(spark.sql("SELECT CAST('x' AS INT)").head().isNullAt(0))
  }

  test("release drops a drain's sink views and its scratch dirs") {
    def sinkViews = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_stream_"))
    val scratch = Scratch.dir("graft_release")
    val src = scratch.resolve("events").toString
    catalog.table("events").select("event_id", "event_type").limit(200)
      .write.parquet(src)
    val stream = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
    val drained = EventStream.runToCompletion(spark,
      stream.groupBy("event_type").count())
    assert(drained.count() > 0)
    assert(sinkViews.nonEmpty)
    LocalSpark.release(spark)
    assert(sinkViews.isEmpty)
    assert(!Files.exists(scratch))
  }
}
