package graft.jx

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Catalog

/** Executes a [[JxQuery]] as one declarative DataFrame chain:
  * `filter -> groupBy/edges agg (+ dense domain join) -> window -> select
  * -> orderBy -> limit` — the Spark analog of the reference's
  * `ListContainer.query` pipeline (public repo
  * `vendor/jx_python/containers/list_usingPythonList.py`; SURVEY.md §3.2).
  * Catalyst then does predicate pushdown / column pruning / partial-final
  * aggregation on the resulting plan (SURVEY.md §4). The one driver-side
  * step is an `edges` query's densification ([[Domains.denseCube]]), which
  * collects only post-aggregation cells, bounded by a cap checked before
  * the fact aggregate runs.
  */
final class Runner(spark: SparkSession, catalog: Catalog) {

  def run(json: String): DataFrame = run(QueryParser.parse(json))

  def run(q: JxQuery): DataFrame = {
    // `from` may itself be a query (JX subquery): run it and treat its
    // output as the source frame — Catalyst fuses the combined plan.
    val base = q.from match {
      case Left(table) => catalog.table(table)
      case Right(sub)  => run(sub)
    }
    Runner.runOn(base, q)
  }
}

object Runner {

  /** Run a query against an explicit source frame (any DataFrame — the
    * `from` clause is not resolved). The container-agnostic core. */
  def runOn(base: DataFrame, q: JxQuery): DataFrame = {
    val compiler = ExprCompiler(base)

    val filtered = q.where match {
      case Some(w) => base.filter(compiler.filterBool(w))
      case None    => base
    }

    if (q.isAggregate) {
      // aggregate path: sort/limit apply to the aggregated output
      val shaped =
        if (q.edges.nonEmpty) runEdges(filtered, q, compiler)
        else if (q.groupby.nonEmpty) runGroupBy(filtered, q, compiler)
        else runGlobalAgg(filtered, q)
      limited(sortBy(shaped, q.sort), q.limit)
    } else {
      // setop path mirrors the reference's pipeline order (SURVEY.md §3.2):
      // filter -> window -> sort -> limit -> select, so sort keys may
      // reference columns the projection later drops.
      val windowed = q.windows.foldLeft(filtered)(Windows.apply)
      runSelect(limited(sortBy(windowed, q.sort), q.limit), q)
    }
  }

  private def sortBy(df: DataFrame, sort: Seq[SortSpec]): DataFrame =
    if (sort.isEmpty) df
    else {
      val c2 = ExprCompiler(df)
      df.orderBy(sort.map { s =>
        val c = c2.compile(s.value)
        if (s.descending) c.desc_nulls_last else c.asc_nulls_first
      }.toIndexedSeq: _*)
    }

  private def limited(df: DataFrame, limit: Option[Long]): DataFrame =
    limit.map(n => df.limit(n.toInt)).getOrElse(df)

  private def aggColumns(items: Seq[SelectItem], compiler: ExprCompiler,
                         exact: Boolean): Seq[Domains.AggSpec] =
    items.collect {
      case SelectItem(name, value, Some(agg), pct, dflt) =>
        val v = value.map(e => Aggs.castForAgg(agg, compiler.compile(e)))
        val c0 = Aggs.aggColumn(agg, v, pct, exact)
        // JX select.default: all-missing group -> default, not null
        val c = dflt.map(d => coalesce(c0, lit(d))).getOrElse(c0)
        Domains.AggSpec(name, c, agg, dflt)
    }

  private def runGroupBy(df: DataFrame, q: JxQuery,
                         compiler: ExprCompiler): DataFrame = {
    val keys = q.groupby.map(k => compiler.compile(k.value).as(k.name))
    val aggs = aggColumns(defaultAggs(q), compiler, !q.approx)
    df.groupBy(keys.toIndexedSeq: _*)
      .agg(aggs.head.col.as(aggs.head.name),
           aggs.tail.map(a => a.col.as(a.name)).toIndexedSeq: _*)
  }

  private def runGlobalAgg(df: DataFrame, q: JxQuery): DataFrame = {
    val compiler = ExprCompiler(df)
    val aggs = aggColumns(q.select, compiler, !q.approx)
    df.agg(aggs.head.col.as(aggs.head.name),
           aggs.tail.map(a => a.col.as(a.name)).toIndexedSeq: _*)
  }

  private def runEdges(df: DataFrame, q: JxQuery,
                       compiler: ExprCompiler): DataFrame = {
    val aggs = aggColumns(defaultAggs(q), compiler, !q.approx)
    Domains.denseCube(df.sparkSession, df, q.edges, aggs, compiler)
  }

  /** JX: an edges/groupby query with no aggregate select still counts. */
  private def defaultAggs(q: JxQuery): Seq[SelectItem] =
    if (q.select.exists(_.aggregate.nonEmpty)) q.select
    else Seq(SelectItem("count", None, Some("count"), None))

  private def runSelect(df: DataFrame, q: JxQuery): DataFrame =
    if (q.selectAll || q.select.isEmpty) df
    else {
      val c2 = ExprCompiler(df)
      val cols = q.select.flatMap {
        case SelectItem(_, Some(Expr.Leaves(prefix)), _, _, _) =>
          leavesOf(df, prefix)
        case SelectItem(name, Some(v), None, _, _) =>
          Seq(c2.compile(v).as(name))
        case SelectItem(name, None, _, _, _) =>
          Seq(col(name)) // window output or existing column
        case other =>
          Seq(c2.compile(other.value.get).as(other.name))
      }
      df.select(cols.toIndexedSeq: _*)
    }

  /** `{"select": {"leaves": "."}}` — flatten every leaf column, dotted
    * path -> underscore name (SURVEY.md §2b P2). */
  private def leavesOf(df: DataFrame, prefix: String): Seq[Column] = {
    import org.apache.spark.sql.types._
    def walk(dt: DataType, path: Seq[String]): Seq[Seq[String]] = dt match {
      case s: StructType =>
        s.fields.toSeq.flatMap(f => walk(f.dataType, path :+ f.name))
      case _ => Seq(path)
    }
    val all = walk(df.schema, Nil)
    val want =
      if (prefix == "." || prefix.isEmpty) all
      else all.filter(_.mkString(".").startsWith(prefix + "."))
    want.map(p => col(p.mkString(".")).as(p.mkString("_")))
  }
}
