package graft.jx

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based laws of the dense-cube edges model (SURVEY.md §2e) —
  * the flagship JX semantic — evaluated through the REAL runner on
  * generated frames and checked cell-by-cell against an independent
  * driver-side reference computation (deterministic fixed-seed
  * sampling, same approach as NullSemanticsPropSpec).
  *
  * Laws:
  *  1. completeness and order — the output has exactly one row per
  *     domain-product cell (+ the overflow partition per allowNulls
  *     edge), regardless of the data, in domain order (first edge
  *     outermost, the overflow null last);
  *  2. cell correctness — every cell's count and sum equal the
  *     reference computed row-by-row on the driver (out-of-domain,
  *     missing, and out-of-range values land in the overflow partition
  *     iff allowNulls, else vanish);
  *  3. totals — with allowNulls on every edge, cell counts sum to the
  *     row count (nothing lost, nothing duplicated).
  *
  * Every domain kind is covered: set, range, time (fixed interval and
  * calendar month), predicate, and the data-driven default domain over
  * string and timestamp values — the cells are matched to the engine's
  * sparse aggregate by key, so each kind's key (value or bucket ordinal)
  * is pinned here.
  */
class CubeLawsPropSpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](gen: Gen[T], n: Int, seed: Long): Seq[T] =
    (1 to n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(seed + i)))

  private val alphabet = Seq("a", "b", "c", "d", "e", "f")
  private val gGen: Gen[String] = Gen.oneOf(
    Gen.oneOf(alphabet), Gen.const(null: String), Gen.const(""),
    Gen.const("zz"))
  private val vGen: Gen[java.lang.Double] = Gen.oneOf(
    Gen.chooseNum(-10.0, 30.0).map(java.lang.Double.valueOf),
    Gen.const(null: java.lang.Double))
  /** Whole hours from 2023-12-30 to 2024-04-10 (UTC), so every time
    * domain below has rows before, inside and after it, some exactly on
    * a bucket boundary. */
  private val t0Ms = java.time.Instant.parse("2023-12-30T00:00:00Z")
    .toEpochMilli
  private val tsGen: Gen[java.sql.Timestamp] = Gen.oneOf(
    Gen.chooseNum(0, 102 * 24).map(h => new java.sql.Timestamp(
      t0Ms + h * 3600000L)),
    Gen.const(null: java.sql.Timestamp))

  private final case class Rec(g: String, v: java.lang.Double,
                               ts: java.sql.Timestamp)

  /** One edge of a trial: its JX clause, the driver-side reference
    * bucket of a row, and the expected domain in output order. */
  private final case class EdgeCase(json: String, allowNulls: Boolean,
                                    bucket: Rec => Option[Any],
                                    domain: Seq[Any])

  private def setEdge(parts: Seq[String], nulls: Boolean)(
      rows: Seq[Rec]): EdgeCase =
    EdgeCase(s"""{"name": "g", "value": "g", "allowNulls": $nulls,
        "domain": {"type": "set",
          "partitions": [${parts.map("\"" + _ + "\"").mkString(",")}]}}""",
      nulls, r => Option(r.g).filter(parts.contains), parts)

  private def rangeEdge(interval: Double, nulls: Boolean)(
      rows: Seq[Rec]): EdgeCase = {
    val (vMin, vMax) = (0.0, 20.0)
    // same arithmetic as the engine's (IEEE floor)
    EdgeCase(s"""{"name": "vb", "value": "v", "allowNulls": $nulls,
        "domain": {"type": "range", "min": $vMin, "max": $vMax,
                   "interval": $interval}}""",
      nulls,
      r => Option(r.v).map(_.doubleValue).filter(v => v >= vMin && v < vMax)
        .map(v => math.floor((v - vMin) / interval) * interval + vMin),
      (0 until math.ceil((vMax - vMin) / interval).toInt)
        .map(i => vMin + i * interval))
  }

  private def dayEdge(nulls: Boolean)(rows: Seq[Rec]): EdgeCase = {
    val min = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val day = 86400000L
    EdgeCase(s"""{"name": "day", "value": "ts", "allowNulls": $nulls,
        "domain": {"type": "time", "min": "2024-01-01",
                   "max": "2024-01-08", "interval": "day"}}""",
      nulls,
      r => Option(r.ts).map(_.getTime).filter(t => t >= min && t < min + 7 * day)
        .map(t => new java.sql.Timestamp(min + (t - min) / day * day)),
      (0 until 7).map(i => new java.sql.Timestamp(min + i * day)))
  }

  private def monthEdge(nulls: Boolean)(rows: Seq[Rec]): EdgeCase = {
    def month(d: java.time.LocalDate) = java.sql.Date.valueOf(d.withDayOfMonth(1))
    val (lo, hi) = (java.time.LocalDate.parse("2024-01-01"),
      java.time.LocalDate.parse("2024-04-01"))
    EdgeCase(s"""{"name": "mon", "value": "ts", "allowNulls": $nulls,
        "domain": {"type": "time", "min": "2024-01-01",
                   "max": "2024-04-01", "interval": "month"}}""",
      nulls,
      r => Option(r.ts)
        .map(_.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate)
        .filter(d => !d.isBefore(lo) && d.isBefore(hi)).map(month),
      Seq(0, 1, 2).map(i => month(lo.plusMonths(i))))
  }

  /** Overlapping predicates: the first one that holds names the part. */
  private def predicateEdge(nulls: Boolean)(rows: Seq[Rec]): EdgeCase = {
    val parts = Seq[(String, Double => Boolean)](
      "neg" -> (_ < 0), "pos" -> (_ > 0), "big" -> (_ > 10), "zero" -> (_ == 0))
    EdgeCase(s"""{"name": "tier", "allowNulls": $nulls,
        "domain": {"type": "set", "partitions": [
          {"name": "neg", "where": {"lt": ["v", 0]}},
          {"name": "pos", "where": {"gt": ["v", 0]}},
          {"name": "big", "where": {"gt": ["v", 10]}},
          {"name": "zero", "where": {"eq": ["v", 0]}}]}}""",
      nulls,
      r => Option(r.v).flatMap(v =>
        parts.collectFirst { case (n, p) if p(v.doubleValue) => n }),
      parts.map(_._1))
  }

  /** The `limit` most frequent non-null values, frequency desc then
    * value, as the engine's DefaultDomain derives them. */
  private def defaultEdge[K](name: String, field: String, limit: Int,
                             nulls: Boolean, key: Rec => K,
                             ord: Ordering[K])(rows: Seq[Rec]): EdgeCase = {
    val top = rows.map(key).filter(_ != null).groupBy(identity)
      .map { case (k, ks) => (k, ks.size) }.toSeq
      .sortBy { case (k, n) => (-n, k) }(Ordering.Tuple2(Ordering.Int, ord))
      .take(limit).map(_._1)
    EdgeCase(s"""{"name": "$name", "value": "$field", "allowNulls": $nulls,
        "domain": {"type": "default", "limit": $limit}}""",
      nulls, r => Option(key(r)).filter(top.contains), top)
  }

  private def defaultG(limit: Int, nulls: Boolean) =
    defaultEdge[String]("gd", "g", limit, nulls, _.g, Ordering.String) _

  /** Timestamp-valued default domain: the trials that use it draw `ts`
    * from a few distinct hours, so frequencies both tie and differ. */
  private def defaultTs(limit: Int, nulls: Boolean) =
    defaultEdge[java.sql.Timestamp]("td", "ts", limit, nulls, _.ts,
      Ordering.by[java.sql.Timestamp, Long](_.getTime)) _

  /** One randomized trial: build a frame + a 2-edge cube query, run it,
    * compare every cell against the driver-side reference. */
  private def cubeTrial(seed: Long, mk1: Seq[Rec] => EdgeCase,
                        mk2: Seq[Rec] => EdgeCase,
                        tsPool: Option[Int] = None): Unit = {
    val rows = randomRows(seed, tsPool)
    val (e1, e2) = (mk1(rows), mk2(rows))
    val df = rows.zipWithIndex
      .map { case (r, i) => (i.toLong, r.g, r.v, r.ts) }
      .toDF("id", "g", "v", "ts")
    val q = QueryParser.parse(s"""
      {"edges": [${e1.json}, ${e2.json}],
       "select": [{"name": "n", "aggregate": "count"},
                  {"name": "sum_v", "value": "v", "aggregate": "sum"}],
       "from": "ignored"}""")
    val out = Runner.runOn(df, q).collect()

    // reference cells: bucket each row; a null bucket survives only on
    // an allowNulls edge
    def axis(e: EdgeCase): Seq[Any] =
      e.domain ++ (if (e.allowNulls) Seq(null) else Nil)
    val kept = rows.flatMap { r =>
      val (b1, b2) = (e1.bucket(r), e2.bucket(r))
      if ((b1.isDefined || e1.allowNulls) && (b2.isDefined || e2.allowNulls))
        Some(((b1.orNull, b2.orNull), r.v))
      else None
    }
    val expCells: Seq[(Any, Any)] =
      for (a <- axis(e1); b <- axis(e2)) yield (a, b)

    // law 1: completeness, in domain order
    assert(out.length === expCells.size,
      s"seed=$seed cells ${out.length} != ${expCells.size}")
    assert(out.map(r => (r.get(0), r.get(1))).toSeq === expCells,
      s"seed=$seed cells out of domain order")
    val got = out.map { r =>
      (r.get(0), r.get(1)) ->
        ((r.getLong(2),
          if (r.isNullAt(3)) null else r.getDouble(3).asInstanceOf[Any]))
    }.toMap

    // law 2: per-cell count + sum
    val byCell = kept.groupBy(_._1)
    expCells.foreach { cell =>
      val rowsIn = byCell.getOrElse(cell, Nil).map(_._2)
      val (n, sum) = got(cell)
      assert(n === rowsIn.size.toLong, s"seed=$seed count at $cell")
      val vs = rowsIn.filter(_ != null).map(_.doubleValue)
      if (vs.isEmpty) assert(sum == null, s"seed=$seed empty sum at $cell")
      else {
        val expSum = vs.sum
        val gotSum = sum.asInstanceOf[Double]
        assert(math.abs(gotSum - expSum) <=
          1e-9 * math.max(1.0, math.abs(expSum)),
          s"seed=$seed sum at $cell: $gotSum vs $expSum")
      }
    }

    // law 3: totals with allowNulls everywhere
    if (e1.allowNulls && e2.allowNulls)
      assert(got.values.map(_._1).sum === rows.size.toLong,
        s"seed=$seed total rows")
  }

  /** 150 rows; `ts` comes from its own seed stream, so (g, v) are the
    * same draws for a seed whether or not a trial reads `ts`. */
  private def randomRows(seed: Long, tsPool: Option[Int]): Seq[Rec] = {
    val ts = tsPool.fold(tsGen)(k => Gen.oneOf(
      Gen.chooseNum(0, k - 1).map(h =>
        new java.sql.Timestamp(t0Ms + h * 3600000L)),
      Gen.const(null: java.sql.Timestamp)))
    samples(Gen.zip(gGen, vGen), 150, seed)
      .zip(samples(ts, 150, seed + 100000))
      .map { case ((g, v), t) => Rec(g, v, t) }
  }

  private def trial(seed: Long, parts: Seq[String], interval: Double,
                    gNulls: Boolean, vNulls: Boolean): Unit =
    cubeTrial(seed, setEdge(parts, gNulls), rangeEdge(interval, vNulls))

  test("law: dense cube cells complete and correct on random frames " +
       "(allowNulls on)") {
    trial(seed = 100, parts = Seq("a", "b", "c"), interval = 5.0,
      gNulls = true, vNulls = true)
    trial(seed = 200, parts = Seq("b", "e"), interval = 2.0,
      gNulls = true, vNulls = true)
    trial(seed = 300, parts = alphabet, interval = 10.0,
      gNulls = true, vNulls = true)
  }

  test("law: without allowNulls, out-of-domain rows vanish and no " +
       "overflow cell exists") {
    trial(seed = 400, parts = Seq("a", "c", "f"), interval = 4.0,
      gNulls = false, vNulls = false)
    trial(seed = 500, parts = Seq("d"), interval = 20.0,
      gNulls = false, vNulls = false)
  }

  test("law: mixed allowNulls — overflow only on the flagged edge") {
    trial(seed = 600, parts = Seq("a", "b"), interval = 5.0,
      gNulls = true, vNulls = false)
    trial(seed = 700, parts = Seq("c", "d", "e"), interval = 2.0,
      gNulls = false, vNulls = true)
  }

  test("law: time edges (day and calendar month) bucket by ordinal " +
       "and match every cell") {
    for ((nulls, s) <- Seq((true, 800L), (false, 810L))) {
      cubeTrial(s, dayEdge(nulls), setEdge(Seq("a", "b"), nulls))
      cubeTrial(s + 1, monthEdge(nulls), rangeEdge(5.0, !nulls))
      cubeTrial(s + 2, monthEdge(nulls), dayEdge(!nulls))
    }
  }

  test("law: predicate edges take the first part that holds") {
    for ((nulls, s) <- Seq((true, 900L), (false, 910L))) {
      cubeTrial(s, predicateEdge(nulls), setEdge(Seq("a", "c"), nulls))
      cubeTrial(s + 1, setEdge(alphabet, !nulls), predicateEdge(nulls))
    }
  }

  test("law: default domains (string and timestamp valued) keep the " +
       "top-k by frequency, the rest in the overflow") {
    for ((nulls, s) <- Seq((true, 1000L), (false, 1010L))) {
      cubeTrial(s, defaultG(3, nulls), rangeEdge(5.0, nulls))
      cubeTrial(s + 1, defaultTs(4, nulls), predicateEdge(!nulls),
        tsPool = Some(6))
      cubeTrial(s + 2, defaultG(20, !nulls), defaultTs(3, nulls),
        tsPool = Some(5))
    }
  }
}
