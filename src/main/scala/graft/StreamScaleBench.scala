package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Scale-shape evidence for the STREAMING cohort — the axis the batch
  * ScaleBench doesn't reach: what happens to the drain wall and,
  * critically, to STATE-STORE ROWS when the backlog grows. At 100 TB
  * the stream state is what dies first, so the claim that matters is
  * "peak state is bounded by the key space / watermark horizon, not
  * by event count" — and this bench MEASURES it per micro-batch from
  * `StreamingQueryProgress.stateOperators` (the same observability
  * surface the q282 observer rides).
  *
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.StreamScaleBench <testdata>/sf0.1 10"
  *
  * Backlog synthesis (mult×): `mult` copies of the events table —
  * copy c shifts event time by c·(span+1s) so stream time keeps
  * advancing (the watermark moves and eviction actually runs), shifts
  * event_id by c·10M so ids stay globally unique, and keeps user_id
  * UNCHANGED so the keyed-state key space is fixed while event volume
  * grows. Both scale axes grow: 1× drains as 4 time-ordered files
  * (batches of B/4 rows); mult× drains as 2·mult files (more batches
  * AND ~2× the rows per batch).
  *
  * Pipelines and their expected state shapes:
  *  - tumbling_agg:    open windows × types in the watermark horizon
  *                     — flat as volume grows
  *  - dedup_within_wm: ids inside the 1 h suppression horizon — flat
  *  - token_bucket:    one row per entity (mapGroupsWithState) —
  *                     exactly |users|, flat by construction
  *  - interval_join:   buffered rows inside the join interval +
  *                     watermark horizon — flat
  *  - dedup_unbounded: LABELED ANTI-PATTERN CONTROL: a span-sized
  *                     watermark means nothing ever evicts, so state
  *                     = every id seen. Included to prove the
  *                     measurement catches unbounded state growth —
  *                     this row is SUPPOSED to scale with events.
  */
object StreamScaleBench {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val mult = if (args.length > 1) args(1).toInt else 10
    // arg 3 = "rocksdb": run the whole matrix on the RocksDB state
    // store — the provider a 100 TB deployment uses anyway (state
    // larger than executor heap lives on local disk, with changelog
    // checkpointing); compare walls/state against the default
    // HDFS-backed in-memory provider to price that insurance
    val rocksdb = args.length > 2 && args(2) == "rocksdb"
    val spark = LocalSpark.session()
    // state rows and walls are reported per state partition count:
    // pin 8 so the matrix reads the same at any core count
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    if (rocksdb)
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")

    val es = graft.streaming.EventStream
    val base = es.normalizeEventTime(
        new graft.tables.Catalog(spark, sfDir).table("events"))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .localCheckpoint()
    val bnd = base.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).collect()(0)
    val (lo, hi) = (bnd.getLong(0), bnd.getLong(1))
    val span = hi - lo + 1000000L
    val nUsers =
      base.select(col("user_id")).distinct().count()
    val baseRows = base.count()

    /** Time-ordered mult× backlog; returns (dir, totalRows, nFiles). */
    def writeBacklog(m: Int): (String, Long, Int) = {
      val dir = Scratch.dir(s"graft_ssb_${m}x").toString + "/ev"
      val us = unix_micros(col("ts"))
      val perCopy = if (m == 1) 4 else 2
      val cuts = (1 to perCopy).map(i =>
        if (i == perCopy) hi + 1 else lo + i * ((hi - lo) / perCopy))
      val parts = (0 until m).flatMap { c =>
        val shifted = if (c == 0) base
          else base
            .withColumn("ts", timestamp_micros(us + lit(c * span)))
            .withColumn("event_id",
              col("event_id") + lit(c * 10000000L))
        (0 until perCopy).map { s =>
          val slLo = if (s == 0) lo else cuts(s - 1)
          val slHi = cuts(s)
          // slice on the ORIGINAL time coordinate, shift-invariantly
          val sliceUs = unix_micros(col("ts")) - lit(c * span)
          shifted.filter(sliceUs >= slLo && sliceUs < slHi)
        }
      }
      es.writeOrderedBatches(parts, dir)
      (dir, baseRows * m, perCopy * m)
    }

    case class Run(pipeline: String, m: Int, rows: Long,
                   batches: Int, wall: Double, peakState: Long)

    def drain(pipeline: String, dir: String, m: Int, rows: Long,
              mode: String)(build: DataFrame => DataFrame): Run = {
      val schema = spark.read.parquet(dir).schema
      def stream() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val agg = build(stream())
      val t0 = System.nanoTime()
      val q = agg.writeStream.format("noop")
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val prog = q.recentProgress
      val peak =
        if (prog.isEmpty) 0L
        else prog.map(p =>
          p.stateOperators.map(_.numRowsTotal).sum).max
      Run(pipeline, m, rows, prog.length, wall, peak)
    }

    /** The interval-join build needs TWO reads of the same backlog —
      * the callback receives one; it re-reads for the other side. */
    def pipelines(dir: String, schema: org.apache.spark.sql.types.StructType)
        : Seq[(String, String, DataFrame => DataFrame)] = Seq(
      ("tumbling_agg", "append", (s: DataFrame) =>
        es.tumblingAgg(s, "ts", "6 hours", "1 hour", "event_type")),
      ("dedup_within_wm", "append", (s: DataFrame) =>
        es.dedupByKeyWithinWatermark(s, "ts", "1 hour", "event_id")),
      ("token_bucket", "update", (s: DataFrame) =>
        es.streamingTokenBucket(s, "user_id", "ts", "event_id",
          capacity = 3L)),
      ("interval_join", "append", (s: DataFrame) => {
        val a = s.filter(pmod(col("event_id"), lit(2)) === 0)
          .select(col("user_id").as("uid_a"), col("ts").as("ts_a"),
            col("event_id").as("id_a"))
        val b = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(dir)
          .filter(pmod(col("event_id"), lit(2)) === 1)
          .select(col("user_id").as("uid_b"), col("ts").as("ts_b"),
            col("event_id").as("id_b"))
        es.intervalJoin(a, "ts_a", b, "ts_b",
          col("uid_a") === col("uid_b") &&
            col("ts_b") >= col("ts_a") &&
            col("ts_b") <= col("ts_a") + expr("INTERVAL 5 MINUTES"),
          watermark = "10 minutes")
      }),
      // ANTI-PATTERN CONTROL — state is SUPPOSED to grow with events
      ("dedup_unbounded", "append", (s: DataFrame) =>
        es.dedupByKey(s, "ts", s"${mult * (span / 1000000L)} seconds",
          "event_id")))

    // warmup: one throwaway drain so state-store/codegen bring-up is
    // not charged to the 1x measurements
    val (wDir, _, _) = writeBacklog(1)
    drain("warmup", wDir, 1, baseRows, "append")(s =>
      es.tumblingAgg(s, "ts", "6 hours", "1 hour", "event_type"))

    val results = Seq(1, mult).flatMap { m =>
      val (dir, rows, _) = writeBacklog(m)
      val schema = spark.read.parquet(dir).schema
      pipelines(dir, schema).map { case (name, mode, build) =>
        val r = drain(name, dir, m, rows, mode)(build)
        println(f"${r.pipeline}%-18s ${m}x rows=${r.rows}%-9d " +
          f"batches=${r.batches}%-3d wall=${r.wall}%7.2f s " +
          f"perBatch=${r.wall / math.max(r.batches, 1)}%5.2f s " +
          f"peakState=${r.peakState}%-9d")
        r
      }
    }

    println(s"users(keyspace)=$nUsers baseRows=$baseRows mult=$mult")
    val byName = results.groupBy(_.pipeline)
    val line = byName.toSeq.sortBy(_._1).map { case (n, rs) =>
      val r1 = rs.find(_.m == 1).get
      val rN = rs.find(_.m == mult).get
      String.format(java.util.Locale.ROOT,
        "\"%s\":{\"wall1\":%.2f,\"wallN\":%.2f,\"wallRatio\":%.2f," +
          "\"peak1\":%d,\"peakN\":%d,\"stateRatio\":%.2f," +
          "\"batches1\":%d,\"batchesN\":%d}",
        n, Double.box(r1.wall), Double.box(rN.wall),
        Double.box(rN.wall / r1.wall),
        Long.box(r1.peakState), Long.box(rN.peakState),
        Double.box(rN.peakState.toDouble /
          math.max(r1.peakState, 1L)),
        Int.box(r1.batches), Int.box(rN.batches))
    }.mkString(
      s"""{"bench":"stream_scale","provider":"${if (rocksdb) "rocksdb" else "hdfs"}","mult":$mult,"users":$nUsers,""",
      ",", "}")
    println(line)
    Scratch.sweep()
    spark.stop()
  }
}
