package graft.jx

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** JX `edges` + domains -> dense cube (SURVEY.md §2e; public repo
  * `vendor/jx_base/domains.py`, `jx_python/cubes/aggs.py`).
  *
  * Plan shape:
  * {{{
  *   domain_i = ordered value list on the driver   // static, or a top-k collect
  *   guard    = Π(|domain_i| + allowNulls_i) <= spark.graft.cube.maxCells
  *   sparse   = fact.groupBy(key_i ...).agg(...).collect()  // partial+final
  *   dense    = local relation: every domain combination, domain order
  * }}}
  * The fact table is scanned by ONE distributed aggregate (plus the
  * top-k aggregate per DefaultDomain edge). Only post-aggregation rows
  * reach the driver — at most Π(|domain_i| + 1) of them — and the cap on
  * the exact domain product is checked before the fact aggregate runs,
  * so every collect here is bounded by the cap at any scale.
  */
object Domains {
  import DomainSpec._

  /** One edge, resolved on the driver: the per-row grouping `key`, the
    * ordered domain `keys` it is matched against, and the output
    * `values` (same order) of type `dataType`. Set, predicate and
    * default domains key by the value itself; time, range and duration
    * domains key by the bucket ordinal, so no dense cell depends on
    * float or timestamp equality between the driver and Spark. A null
    * key is the overflow partition; a non-null key outside `keys`
    * reaches no cell. */
  private final case class Edge(key: Column, keys: IndexedSeq[Any],
                                values: IndexedSeq[Any], dataType: DataType)

  private def plan(df: DataFrame, edge: EdgeClause,
                   compiler: ExprCompiler): Edge = {
    val name = edge.name
    def value = compiler.compile(edge.value.getOrElse(
      throw new IllegalArgumentException(s"edge $name needs a value")))
    edge.domain match {
      case SetDomain(parts) =>
        val v = value
        val dt = sparkTypeOfValue(parts)
        val norm = parts.map(normalizeTo(dt, _)).toIndexedSeq
        // values outside the partition list -> null key (overflow)
        val inSet = v.isin(parts.filter(_ != null): _*)
        Edge(when(inSet, v).cast(dt), norm, norm, dt)

      case PredicateDomain(parts) =>
        val key = parts.foldRight(lit(null).cast(StringType)) {
          case ((pname, where), acc) =>
            when(compiler.toBool(where), lit(pname)).otherwise(acc)
        }
        val names = parts.map(_._1).toIndexedSeq
        Edge(key, names, names, StringType)

      case TimeDomain(minSpec, maxSpec, _, months) if months > 0 =>
        // calendar-aware buckets: month arithmetic, DATE-typed edges
        val v = value
        def utcDate(spec: String) = java.time.Instant
          .ofEpochMilli(RelDate.parseMillis(spec))
          .atZone(java.time.ZoneOffset.UTC).toLocalDate
        val (minDate, maxDate) = (utcDate(minSpec), utcDate(maxSpec))
        val totalMonths = java.time.temporal.ChronoUnit.MONTHS
          .between(minDate, maxDate)
        val n = math.ceil(totalMonths.toDouble / months).toInt
        val idx = floor(months_between(v,
          lit(java.sql.Date.valueOf(minDate))) / months)
        val inRange =
          v >= lit(java.sql.Timestamp.valueOf(minDate.atStartOfDay)) &&
            v < lit(java.sql.Timestamp.valueOf(maxDate.atStartOfDay))
        ordinals(when(inRange, idx), n, DateType)(i =>
          java.sql.Date.valueOf(minDate.plusMonths(i.toLong * months)))

      case TimeDomain(minSpec, maxSpec, intervalSec, _) =>
        val minMs = RelDate.parseMillis(minSpec)
        val maxMs = RelDate.parseMillis(maxSpec)
        val n = math.ceil((maxMs - minMs).toDouble / (intervalSec * 1000L))
          .toInt
        val sec = unix_timestamp(value) // seconds
        val minSec = minMs / 1000L
        val inRange = sec >= lit(minSec) && sec < lit(maxMs / 1000L)
        ordinals(when(inRange,
            floor((sec - lit(minSec)) / lit(intervalSec))), n,
          TimestampType)(i =>
          new java.sql.Timestamp((i * intervalSec + minSec) * 1000L))

      case RangeDomain(minV, maxV, interval) =>
        numericRange(value, minV, maxV, interval)

      case DurationDomain(minSec, maxSec, intervalSec) =>
        // durations are plain seconds — the named domain shares the
        // RangeDomain bucket arithmetic (reference DurationDomain keys
        // are durations; ours are their second counts)
        numericRange(value, minSec, maxSec, intervalSec)

      case DefaultDomain(limit) =>
        // the top-k most frequent values become the domain (≤ limit
        // rows collected); everything else -> null key (the overflow
        // partition when allowNulls, dropped otherwise). Order:
        // frequency desc, then value, for determinism.
        val v = value
        val topK = df.select(v.as(name)).where(col(name).isNotNull)
          .groupBy(name).count()
          .orderBy(col("count").desc, col(name))
          .limit(limit)
        val top = topK.collect().map(_.get(0)).toIndexedSeq
        Edge(when(v.isin(top: _*), v), top, top, topK.schema.head.dataType)
    }
  }

  /** An arithmetic domain of `n` buckets keyed by ordinal; `value`
    * gives bucket i's output value. */
  private def ordinals(idx: Column, n: Int, dt: DataType)(
      value: Int => Any): Edge =
    Edge(idx.cast(IntegerType), 0 until n, (0 until n).map(value), dt)

  /** Dense numeric buckets [min, max) step interval — RangeDomain and
    * DurationDomain share this shape. Bucket i's value is
    * i * interval + min. */
  private def numericRange(value: Column, minV: Double, maxV: Double,
                           interval: Double): Edge = {
    val v = value.cast(DoubleType)
    val n = math.ceil((maxV - minV) / interval).toInt
    val inRange = v >= lit(minV) && v < lit(maxV)
    ordinals(when(inRange, floor((v - lit(minV)) / lit(interval))), n,
      DoubleType)(i => i * interval + minV)
  }

  private def sparkTypeOfValue(parts: Seq[Any]): DataType = {
    // any double => whole domain is double (JX numbers are unified)
    if (parts.exists(_.isInstanceOf[java.lang.Double])) DoubleType
    else parts.collectFirst {
      case _: String            => StringType
      case _: java.lang.Long    => LongType
      case _: java.lang.Boolean => BooleanType
    }.getOrElse(StringType)
  }

  private def normalizeTo(dt: DataType, v: Any): Any = (dt, v) match {
    case (_, null)                      => null
    case (DoubleType, l: java.lang.Long) => java.lang.Double.valueOf(l.doubleValue)
    case (StringType, other)            => other.toString
    case _                              => v
  }

  /** One aggregate output of a query: name, aggregate column, JX
    * aggregate keyword, and the optional fill-in default. */
  final case class AggSpec(name: String, col: Column, aggregate: String,
                           default: Option[Any])

  /** Execute the full edges pipeline: domains -> guard -> sparse agg ->
    * densify on the driver. Output columns: edge names (in order) then
    * aggregate columns; rows in domain order (first edge outermost),
    * the overflow null last on each allowNulls edge. */
  def denseCube(spark: SparkSession, df: DataFrame, edges: Seq[EdgeClause],
                aggs: Seq[AggSpec],
                compiler: ExprCompiler): DataFrame = {
    val planned = edges.map(e => (e, plan(df, e, compiler)))
    val names = edges.map(_.name)
    // each edge's output axis: its domain, then the overflow null
    val axes = planned.map { case (e, p) =>
      if (e.allowNulls) p.values :+ null else p.values }

    // Dense-cube driver guard (r11 verdict ask #1): the sparse cells are
    // collected here and the dense result by Service.render /
    // Formats.toCube, and edges queries are exempt from the service
    // default limit, so the domain-cardinality PRODUCT is the only bound
    // on driver memory. The domains are exact by now, so the product is
    // too; above `spark.graft.cube.maxCells` the query fails loudly (the
    // Formats.toCube:53 precedent) before the fact aggregate runs.
    val capCells = spark.conf.getOption("spark.graft.cube.maxCells")
      .map(_.toLong).getOrElse(100000L)
    val cells = axes.map(a => BigInt(a.size)).product
    if (cells > capCells || !cells.isValidInt)
      throw new IllegalArgumentException(
        s"dense cube would materialize $cells cells " +
          s"(domain cardinality product over ${names.mkString(", ")}), " +
          s"above spark.graft.cube.maxCells=$capCells — narrow the edge " +
          "domains (smaller default-domain limits, coarser ranges) or " +
          "raise the cap")

    val sparse = planned
      .foldLeft(df) { case (d, (e, p)) =>
        d.withColumn(s"__bucket_${e.name}", p.key) }
      .groupBy(names.map(n => col(s"__bucket_$n")).toIndexedSeq: _*)
      .agg(aggs.head.col.as(aggs.head.name),
           aggs.tail.map(a => a.col.as(a.name)).toIndexedSeq: _*)
    // empty cells carry null aggregates (the defaults below fill them)
    val aggFields = sparse.schema.fields.drop(edges.size)
      .map(_.copy(nullable = true))

    // place each sparse row at its dense cell: row-major over the axes
    // (last edge fastest); the null key takes the overflow slot, which
    // exists only on an allowNulls edge
    val slotOf = planned.map { case (e, p) =>
      val index = p.keys.zipWithIndex.toMap
      (k: Any) =>
        if (k != null) index.get(k)
        else if (e.allowNulls) Some(p.keys.size)
        else None
    }
    val filled = new Array[Row](cells.toInt)
    sparse.collect().foreach { r =>
      edges.indices.foldLeft(Option(0)) { (cell, i) =>
        for (c <- cell; s <- slotOf(i)(r.get(i))) yield c * axes(i).size + s
      }.foreach(filled(_) = r)
    }
    val noAggs = Seq.fill[Any](aggFields.length)(null)
    val combos = axes.foldLeft(Seq(Seq.empty[Any])) { (acc, axis) =>
      for (c <- acc; v <- axis) yield c :+ v }
    val rows = combos.zipWithIndex.map { case (vs, c) =>
      Row.fromSeq(vs ++ Option(filled(c)).fold(noAggs)(
        _.toSeq.drop(edges.size)))
    }
    val schema = StructType(planned.map { case (e, p) =>
      StructField(e.name, p.dataType, nullable = true) } ++ aggFields)
    val dense = spark.createDataFrame(rows.asJava, schema)

    val aggCols = aggs.map { a =>
      a.default match {
        // JX select.default fills EMPTY (densified) cells too
        case Some(d) => coalesce(col(a.name), lit(d)).as(a.name)
        case None if Aggs.zeroWhenEmpty(a.aggregate) =>
          coalesce(col(a.name), lit(0L)).as(a.name)
        case None => col(a.name)
      }
    }
    dense.select((names.map(col) ++ aggCols).toIndexedSeq: _*)
  }
}
