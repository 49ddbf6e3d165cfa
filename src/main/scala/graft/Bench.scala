package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.session()
    // JVM/codegen warmup so the first measured query doesn't absorb
    // session bring-up (measured costs are query costs only): exercise
    // the scan + hash-agg + sort codegen paths once, generically
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.sum("l_quantity").as("s"))
      .orderBy("l_returnflag").collect()
    // Per-query BEST-OF-N (cache cleared between iterations): a single
    // timed pass lets one scheduler/GC hiccup dominate a round's
    // headline — r3 recorded one query at 16.8s and r4 another at
    // 22.1s, both of which measure 0.5-4s when re-run. The min is the
    // query's repeatable cost; the per-query max/min spread is reported
    // alongside so outliers are visible instead of silently averaged.
    //
    // Iterations are INTERLEAVED full sweeps (iter-1 of every query in
    // name order, then iter-2 of every query), not back-to-back runs
    // of the same query: the r11 driver artifact showed a sustained
    // multi-minute contention window poisoning BOTH back-to-back
    // readings of the same queries (q253 1.9 s warm read 29.9 s twice)
    // — interleaving puts the two readings of one query half a sweep
    // apart, so no single bad window can hit both. A final targeted
    // pass re-runs any query whose max/min spread still exceeds 2x,
    // so a poisoned pair gets an extra independent sample before the
    // artifact is published.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    val reruns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RERUNS", "1").toInt
    // optional smoke-subset: comma-separated query-name prefixes
    // (mirrors Verify's third arg); unset = the full suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
    val qseq = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        only.forall(_.exists(n.startsWith)) }
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val stagedWall = scala.collection.mutable.Map.empty[String, Double]
    val failedQs = scala.collection.mutable.Set.empty[String]
    val rerunQs = scala.collection.mutable.ArrayBuffer.empty[String]
    // MACHINE-HEALTH PROBE: a fixed, data-independent calibration
    // workload (CPU + one small shuffle) timed every ~50 queries.
    // The probe's cost never changes, so variance across its readings
    // measures the MACHINE, not the suite — a contended window shows
    // up as probe spread >~2x and the artifact self-identifies as
    // hostile instead of costing a manual BenchOne adjudication
    // (r11 and r12 each paid one). Published as "probe" (all
    // readings, sweep order) + "probe_spread" (max/min).
    // 8M rows puts the probe floor near 0.2 s: a 2M-row probe
    // bottomed at ~0.06 s, where ordinary scheduler jitter (±50 ms)
    // alone produced max/min ratios of 5-10 on calm runs. Spread is
    // max/MEDIAN, not max/min — one unusually fast reading must not
    // flag a run, only genuinely slow windows should.
    val probeTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    def probeRun(): Double = {
      val t0 = System.nanoTime()
      spark.range(8000000L)
        .selectExpr("pmod(id, 97) AS g", "id")
        .groupBy("g").agg(org.apache.spark.sql.functions.sum("id"))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    // each CHECKPOINT is the median of 3 back-to-back runs: a single
    // GC pause under one run (~+150 ms on an 80 ms floor) must read
    // as the noise it is, not flag the whole close as hostile — only
    // a SUSTAINED window moves a median (r14: two lone 0.22 s
    // readings in an otherwise 0.08-0.10 s series cost a calm close)
    def probeOnce(): Unit = {
      val reps = Seq(probeRun(), probeRun(), probeRun()).sorted
      probeTimes += reps(1)
    }
    // SELF-CALIBRATING warm-up: any FIXED warm count leaves the
    // opening checkpoint hot — across three otherwise-calm r14
    // closes the first timed reading sat 3-6x its steady state (an
    // unwarmed probe read 7.5x; one warm run read ~0.27 s; even
    // three warm runs medianed 0.47 s once — the JVM's first seconds
    // stay slow under heap ramp + background C2 no matter the count).
    // Warm until TWO consecutive runs land within ±25% of the fastest
    // PRIOR run (cap 20), so the first timed checkpoint starts from
    // settled steady state and spread measures the MACHINE. The
    // comparison must exclude the current run from the minimum (r14
    // advice: updating mn first made any new-minimum run trivially
    // pass) AND must reject runs still IMPROVING past the floor
    // (t < 0.8·mn): a monotonic ramp (0.60, 0.24, 0.10 …) satisfies
    // "t ≤ prior-min · 1.25" at every step, so only the two-sided
    // band detects the curve flattening out.
    locally {
      var mn = Double.MaxValue
      var streak = 0
      var w = 0
      while (streak < 2 && w < 20) {
        val t = probeRun(); w += 1
        streak = if (mn < Double.MaxValue &&
          t <= mn * 1.25 && t >= mn * 0.8) streak + 1 else 0
        mn = math.min(mn, t)
      }
    }
    var sinceProbe = 0
    def runOnce(name: String,
                fn: (SparkSession, String) =>
                  org.apache.spark.sql.DataFrame): Unit = {
      if (sinceProbe == 0) probeOnce()
      sinceProbe = (sinceProbe + 1) % 50
      // snapshot the Staged build-wall counter: a FIRST consumer pays
      // its cohort's one-time artifact build inside its wall — report
      // that build separately so it's never misread as query cost
      val s0 = graft.operators.Staged.buildNanos
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() }
      catch { case _: Throwable => failedQs += name }
      val dt = (System.nanoTime() - t0) / 1e9
      val sb = (graft.operators.Staged.buildNanos - s0) / 1e9
      times(name) = times.getOrElse(name, Vector.empty) :+ dt
      if (sb > stagedWall.getOrElse(name, 0.0)) stagedWall(name) = sb
      // outside the timer: the timed count() has consumed the result
      LocalSpark.release(spark)
    }
    for (_ <- 1 to iters; (name, fn) <- qseq) runOnce(name, fn)
    for (_ <- 1 to reruns; (name, fn) <- qseq) {
      val ts = times(name)
      if (!failedQs(name) && ts.min > 0 && ts.max / ts.min > 2.0) {
        rerunQs += name; runOnce(name, fn)
      }
    }
    val results = qseq.map { case (name, _) =>
      (name, times(name).min, times(name).max, failedQs(name))
    }
    val qs = results.map { case (k, mn, _, _) => s"\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    // dispersion: max/min per query — ~1.0 means the reading is stable
    // Locale.ROOT: the f-interpolator is locale-sensitive — a
    // comma-decimal default locale would print 1,23 and corrupt the
    // JSON line the driver parses
    val spread = results.map { case (k, mn, mx, _) =>
      s"\"" + k + "\":" + (if (mn > 0)
        String.format(java.util.Locale.ROOT, "%.2f",
          Double.box(mx / mn)) else "null")
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // crashed queries are named OUT LOUD: their "times" are
    // time-to-throw, not runtimes — without this list a plan-time
    // crash reads as a fast query (the round-6 lesson)
    val errs = results.filter(_._4).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    // one-time staged artifact builds, attributed to the first
    // consumer that paid them (max over iterations; near-zero hits
    // omitted): subtract from a query's wall to get its serve cost
    val stagedJson = stagedWall.toSeq.filter(_._2 > 0.01).sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" +
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(v)) }
      .mkString("{", ",", "}")
    val rerunJson = rerunQs.distinct.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    probeOnce() // closing reading: bracket the sweep
    def f2p(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val probeJson = probeTimes.map(f2p).mkString("[", ",", "]")
    // spread over STEADY-STATE readings only (drop the opening
    // checkpoint): five consecutive r14 closes read 0.26-0.47 s on
    // the pre-sweep probe against an 0.07-0.13 s steady state, on
    // calm AND busy machines alike, through fixed AND self-
    // calibrating warm-ups — the opening reading measures the JVM's
    // multi-second ramp (heap growth, background C2), not the
    // machine, and kept false-flagging genuinely calm closes. The
    // FULL series including the ramp reading stays published in
    // "probe" for audit; mid-sweep contention — the thing the spread
    // exists to catch — lives in the steady-state readings.
    val steady = probeTimes.drop(1)
    val probeSpread =
      if (steady.size >= 4 && steady.min > 0) {
        // LOWER median: with few readings the upper median can equal
        // the max and collapse the ratio to 1.0. Below 4 steady
        // readings (a small BENCH_ONLY subset) the lower median IS
        // the min and the ratio degenerates to max/min — the jitter-
        // amplifying form this spread was designed to avoid — so
        // emit null instead of false-flagging (r13 advice).
        val med = steady.sorted.apply((steady.size - 1) / 2)
        f2p(steady.max / med)
      } else "null"
    val line = s"""{"metric":"total","value":$total,"unit":"sec","iters":$iters,"queries":$qs,"spread":$spread,"staged_build":$stagedJson,"rerun":$rerunJson,"probe":$probeJson,"probe_spread":$probeSpread,"errors":$errs,"sf":"$sfDir"}"""
    println(line)
    // the same dict as a standalone artifact: stdout gets interleaved
    // with sbt/log4j noise and truncation-prone tails (BENCH_r06's
    // parsed:null) — a file survives intact
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_out.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line)
    spark.stop()
    // The driver keeps only the LAST ~2000 chars of stdout and parses
    // a JSON line out of that window; with 240+ queries the full line
    // above is ~6k chars, so its head (and the {"metric" anchor) falls
    // outside the window — BENCH_r01..r07 all recorded parsed:null.
    // Emit a SECOND, compact line as the very last stdout: totals +
    // errors always, then the slowest queries greedily while the line
    // stays under budget (window 2000 minus sbt's trailing "[success]
    // …" line). The full per-query dict lives in bench_out.json.
    def f2(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    val budget = 1700
    val stagedTotal = stagedWall.values.sum
    val head = s"""{"metric":"total","value":${f2(total)},"unit":"sec","iters":$iters,"staged_sec":${f2(stagedTotal)},"probe_spread":$probeSpread,"errors":$errs,"sf":"$sfDir","full":"$out","queries":{"""
    val slowest = results.sortBy(-_._2)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var len = head.length + 40 // room for the closing/omitted suffix
    var omitted = 0
    slowest.foreach { case (k, mn, _, _) =>
      val e = "\"" + k + "\":" + f2(mn)
      if (len + e.length + 1 <= budget) { entries += e; len += e.length + 1 }
      else omitted += 1
    }
    val compact = head + entries.mkString(",") +
      s"""},"queries_omitted":$omitted}"""
    println(compact)
  }
}
