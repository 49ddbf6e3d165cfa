package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.{Scratch, Service, SparkEntry}
import graft.jx.QueryParser
import graft.tables.Catalog

/** The benchmark's JVM side: one process, one client thread, against
  * `local[N]`.
  *
  * Usage: `perfbench.Main <input.json> <out-dir>`. The input file holds
  * everything the run may use — the workload name, the data directory,
  * the generated requests or the seed-permuted query list — and the
  * process writes `result.json` (and, for `jx_service`,
  * `responses.jsonl`) to the output directory. `run.py` generates the
  * input, checks the outputs against DuckDB and prints the metrics.
  *
  * Phases: session, cold table resolution, the workload's untimed pass
  * (warm-up requests, or one pass over the query list that writes each
  * result for the oracle check and pays the `Staged` builds), a
  * calibration probe, the timed phase, the probe again, and a
  * full GC before the heap is read. A traced run adds, after the timed
  * phase, one fixed unit of work executed without and then with the
  * listeners on. */
object Main {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(new java.io.File(args(0)))
    val outDir = new java.io.File(args(1))
    outDir.mkdirs()
    val workload = spec.get("workload").asText
    val data = spec.get("data").asText
    val traced = spec.get("trace").asBoolean
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime.toDouble

    val cpus = spec.get("cpus").asInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", spec.get("local_dir").asText)
      .config("spark.sql.warehouse.dir",
        spec.get("local_dir").asText + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = mapper.createObjectNode()
    res.put("workload", workload)
    res.put("session_s", (Clock.nowMs - jvmStartMs) / 1e3)
    val progress = new ProgressRecorder
    spark.streams.addListener(progress)
    val tracer = new Tracer
    if (traced) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    val c0 = Counters.now()

    // cold table resolution: the first Catalog in the session reads
    // every base table's footer
    val tr = Clock.nowMs
    val catalog = new Catalog(spark, data)
    catalog.baseTables.foreach(t => catalog.table(t).schema)
    res.put("tables_resolve_cold_ms", Clock.nowMs - tr)

    val probe = new CalibrationProbe(spark)
    val wl: Workload = workload match {
      case "jx_service" => new JxService(spark, data, spec, outDir)
      case "pipeline" => new QuerySweep(spark, data, spec, outDir)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    wl.prepare(res)
    val probeBefore = probe.reading()
    val c1 = Counters.now()
    res.put("staged_setup_s", c1.minus(c0).stagedNs / 1e9)
    res.put("setup_s",
      (Clock.nowMs - jvmStartMs - probe.wallMs) / 1e3)

    progress.clear()
    val ops = ArrayBuffer.empty[OpRecord]
    // the heap is read once the first timed pass is done, so the work
    // behind the reading does not depend on how fast the machine is;
    // the pause is left out of the timed phase's wall time
    var pauseMs = 0.0
    def heapCheckpoint(): Unit = {
      val g0 = Clock.nowMs
      Bus.drain(spark)
      res.put("heap_retained_mb", heapAfterFullGcMb())
      pauseMs += Clock.nowMs - g0
    }
    val t0 = Clock.nowMs
    wl.timed(spec.get("seconds").asDouble, ops, heapCheckpoint _)
    res.put("timed_s", (Clock.nowMs - t0 - pauseMs) / 1e3)
    if (traced) {
      // the same unit untraced first: the tracing overhead is the
      // difference, at the same point of the JVM's warm-up
      wl.unit("untraced", ops)
      Bus.drain(spark)
      val u0 = Counters.now()
      tracer.on = true
      wl.unit("traced", ops)
      Bus.drain(spark)
      tracer.on = false
      val d = Counters.now().minus(u0)
      val cn = res.putObject("traced_counters")
      cn.put("codegen_compiles", d.compiles)
      cn.put("codegen_compile_ms", d.compileNs / 1e6)
      cn.put("gc_ms", d.gcMs)
      cn.put("gc_count", d.gcCount)
    }
    Bus.drain(spark)
    val probeAfter = probe.reading()
    val pr = res.putObject("probe")
    pr.put("before_s", probeBefore)
    pr.put("after_s", probeAfter)


    val opsJson = res.putArray("ops")
    ops.foreach(o => opsJson.add(o.json(mapper)))
    val mbs = res.putArray("microbatches")
    progress.batches.asScala.foreach { p =>
      val m = mbs.addObject()
      m.put("run_id", p.runId.toString)
      m.put("start", java.time.Instant.parse(p.timestamp).toEpochMilli)
      m.put("input_rows", p.numInputRows)
      val d = m.putObject("duration_ms")
      p.durationMs.asScala.foreach { case (k, v) => d.put(k, v.longValue) }
      m.put("state_rows", p.stateOperators.map(_.numRowsTotal).sum)
      m.put("state_memory_bytes", p.stateOperators.map(_.memoryUsedBytes).sum)
      m.put("state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum)
    }
    val jobs = res.putArray("jobs")
    tracer.jobs.foreach { j =>
      val o = jobs.addObject()
      o.put("id", j.id); o.put("start", j.start); o.put("end", j.end)
      o.put("stages", j.stages); o.put("tasks", j.tasks)
      o.put("failed_tasks", j.failedTasks); o.put("run_ms", j.runMs)
      o.put("cpu_ms", j.cpuNs / 1e6); o.put("shuffle_read", j.shuffleRead)
      o.put("shuffle_write", j.shuffleWrite); o.put("spill", j.spill)
      o.put("input", j.input); o.put("output", j.output)
    }
    val phases = res.putArray("phases")
    tracer.phases.foreach { p =>
      val o = phases.addObject()
      o.put("name", p.name); o.put("start", p.start); o.put("end", p.end)
    }
    mapper.writeValue(new java.io.File(outDir, "result.json"), res)
    spark.stop()
  }

  /** Used heap right after a full GC: the heap pools' usage at their
    * last collection, so allocations by Spark's background threads
    * after the collection do not count. The lowest of three collections
    * a fifth of a second apart, so objects that background threads
    * release shortly after the pass do not count either. */
  private def heapAfterFullGcMb(): Double = {
    val pools = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def once(): Double = {
      Thread.sleep(200)
      System.gc()
      pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum /
        1048576.0
    }
    Seq(once(), once(), once()).min
  }
}

/** One timed operation: a request, or one query's build and action. */
final case class OpRecord(name: String, phase: String, start: Double,
                          buildEnd: Double, end: Double, ok: Boolean,
                          rows: Long, error: String, parseMs: Double) {
  def json(m: ObjectMapper): ObjectNode = {
    val o = m.createObjectNode()
    o.put("name", name); o.put("phase", phase); o.put("start", start)
    o.put("build_end", buildEnd); o.put("end", end); o.put("ok", ok)
    o.put("rows", rows); o.put("parse_ms", parseMs)
    if (error != null) o.put("error", error)
    o
  }
}

trait Workload {
  /** Untimed work before the timed phase (counted in set-up time). */
  def prepare(res: ObjectNode): Unit
  /** Operations until `seconds` have passed, in whole passes over the
    * operation list, at least one; `firstPassDone` runs (untimed) after
    * the first pass. */
  def timed(seconds: Double, ops: ArrayBuffer[OpRecord],
            firstPassDone: () => Unit): Unit
  /** One fixed unit of work, the same on every run with one seed; a
    * traced run executes it untraced and then traced. */
  def unit(phase: String, ops: ArrayBuffer[OpRecord]): Unit
}

/** graft.Bench's 8M-row `pmod` group-by: a fixed calibration workload
  * whose time measures the machine, not the program. A reading is the
  * median of three runs; the first reading warms the plan untimed. */
final class CalibrationProbe(spark: SparkSession) {
  var wallMs = 0.0
  private var warmed = false
  private def once(): Double = {
    val t0 = Clock.nowMs
    spark.range(8000000L)
      .selectExpr("pmod(id, 97) AS g", "id")
      .groupBy("g").agg(org.apache.spark.sql.functions.sum("id"))
      .collect()
    (Clock.nowMs - t0) / 1e3
  }
  def reading(): Double = {
    val w0 = Clock.nowMs
    if (!warmed) { once(); once(); warmed = true }
    val r = Seq(once(), once(), once()).sorted.apply(1)
    wallMs += Clock.nowMs - w0
    r
  }
}

/** `jx_service`: a closed loop with one client posting JX requests to
  * `graft.Service.query`. Every response is kept for the oracle check. */
final class JxService(spark: SparkSession, data: String, spec: JsonNode,
                      outDir: java.io.File) extends Workload {
  private def reqs(field: String): IndexedSeq[(String, String)] =
    spec.get(field).elements.asScala
      .map(r => (r.get("id").asText, r.get("json").asText)).toIndexedSeq
  private val requests = reqs("requests")
  private val passSize = spec.get("pass_size").asInt
  private val unitRequests = Map(
    "traced" -> reqs("trace_requests"),
    "untraced" -> reqs("untraced_requests"))
  private val out = new java.io.PrintWriter(
    new java.io.File(outDir, "responses.jsonl"), "UTF-8")
  private val mapper = new ObjectMapper()

  def prepare(res: ObjectNode): Unit = reqs("warmup").foreach { case (_, j) =>
    try Service.query(spark, data, j) catch { case _: Throwable => () }
  }

  private def send(id: String, json: String, phase: String): OpRecord = {
    val parseMs = if (phase != "traced") 0.0 else {
      val p0 = Clock.nowMs
      QueryParser.parse(json)
      Clock.nowMs - p0
    }
    val s = Clock.nowMs
    val (resp, err) =
      try (Service.query(spark, data, json), null)
      catch { case e: Throwable => (null, String.valueOf(e.getMessage)) }
    val e = Clock.nowMs
    val line = mapper.createObjectNode()
    line.put("id", id)
    if (resp != null) line.put("response", resp) else line.put("error", err)
    out.println(mapper.writeValueAsString(line))
    out.flush()
    OpRecord(id, phase, s, e, e, resp != null, -1L, err, parseMs)
  }

  def timed(seconds: Double, ops: ArrayBuffer[OpRecord],
            firstPassDone: () => Unit): Unit = {
    var next = 0
    var pauseMs = 0.0
    val t0 = Clock.nowMs
    // whole passes: one request of every template per pass
    while (next == 0 || next % passSize != 0 ||
           Clock.nowMs - t0 - pauseMs < seconds * 1000) {
      require(next < requests.size, "request list exhausted")
      val (id, json) = requests(next)
      ops += send(id, json, "timed")
      next += 1
      if (next == passSize) {
        val p0 = Clock.nowMs
        firstPassDone()
        pauseMs += Clock.nowMs - p0
      }
    }
  }

  def unit(phase: String, ops: ArrayBuffer[OpRecord]): Unit =
    unitRequests(phase).foreach { case (id, json) =>
      ops += send(id, json, phase) }
}

/** `pipeline`: sweeps over a seed-permuted list
  * of `SparkEntry.queries`, each built and counted as graft.Bench does,
  * with Bench's cleanup after every query (outside the timer). */
final class QuerySweep(spark: SparkSession, data: String, spec: JsonNode,
                       outDir: java.io.File) extends Workload {
  private val names = spec.get("queries").elements.asScala.map(_.asText).toSeq
  private val fns = SparkEntry.queries
  /** Row count of each query's checked result; -1 when it failed. */
  private val expected = scala.collection.mutable.Map.empty[String, Long]

  private def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    Scratch.sweep()
  }

  /** The untimed pass: write each result for the DuckDB check (and pay
    * the `Staged` builds). */
  def prepare(res: ObjectNode): Unit = {
    val check = res.putObject("check")
    val sql = res.putObject("oracle_sql")
    names.foreach { n =>
      val c = check.putObject(n)
      SparkEntry.oracleSql.get(n).foreach(sql.put(n, _))
      val path = new java.io.File(outDir, s"check/$n").getPath
      val t0 = Clock.nowMs
      try {
        fns(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(path)
        c.put("wall_s", (Clock.nowMs - t0) / 1e3)
        cleanup()
        val rows = spark.read.parquet(path).count()
        expected(n) = rows
        c.put("rows", rows)
      } catch { case e: Throwable =>
        expected(n) = -1L
        c.put("error", String.valueOf(e.getMessage))
        cleanup()
      }
    }
  }

  private def run(n: String, phase: String): OpRecord = {
    val s = Clock.nowMs
    var b = s
    val r =
      try {
        val df = fns(n)(spark, data)
        b = Clock.nowMs
        val rows = df.count()
        val e = Clock.nowMs
        val ok = rows == expected(n)
        OpRecord(n, phase, s, b, e, ok, rows,
          if (ok) null else s"row count $rows, checked result ${expected(n)}",
          0.0)
      } catch { case e: Throwable =>
        val t = Clock.nowMs
        OpRecord(n, phase, s, if (b == s) t else b, t, false, -1L,
          String.valueOf(e.getMessage), 0.0)
      }
    cleanup()
    r
  }

  def timed(seconds: Double, ops: ArrayBuffer[OpRecord],
            firstPassDone: () => Unit): Unit = {
    val t0 = Clock.nowMs
    names.foreach(n => ops += run(n, "timed"))
    val p0 = Clock.nowMs
    firstPassDone()
    val pauseMs = Clock.nowMs - p0
    while (Clock.nowMs - t0 - pauseMs < seconds * 1000)
      names.foreach(n => ops += run(n, "timed"))
  }

  def unit(phase: String, ops: ArrayBuffer[OpRecord]): Unit =
    names.foreach(n => ops += run(n, phase))
}
