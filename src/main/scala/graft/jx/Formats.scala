package graft.jx

import org.apache.spark.sql.{DataFrame, Row}

/** JX result formats (SURVEY.md §2 data model "Cube / Matrix"; public
  * repo `vendor/mo_collections/matrix.py`, `jx_base/queries.py`).
  *
  * The engine's plan output is always a DataFrame; these formatters are
  * the DRIVER-SIDE result shapes the reference's query service returns:
  *
  *  - `list`: one record per row (the DataFrame itself / its rows);
  *  - `table`: {header, data} — positional rows;
  *  - `cube`: {edges: domains, data: dense N-dim nested arrays, one per
  *    value column}. Requires the dense edges output of
  *    [[Domains.denseCube]] (every domain combination present, domain
  *    order) — which is exactly what the Runner produces for `edges`
  *    queries.
  *
  * Only the (small, already-aggregated) RESULT is collected: an edges
  * result is bounded by the product of its domain cardinalities, which
  * [[Domains.denseCube]] checks against `spark.graft.cube.maxCells`
  * before its fact aggregate runs — never by the fact table.
  */
object Formats {

  final case class JxTable(header: Seq[String], data: Seq[Seq[Any]])

  final case class JxCube(
      edgeNames: Seq[String],
      domains: Seq[Seq[Any]],
      /** valueName -> dense nested array (nesting depth = #edges). */
      data: Map[String, IndexedSeq[Any]])

  def toTable(df: DataFrame): JxTable = {
    val header = df.columns.toSeq
    JxTable(header, df.collect().toSeq.map(r => header.indices.map(r.get)))
  }

  /** Assemble the dense cube from a denseCube output: the first
    * `edgeNames.size` columns are edge values (domain-ordered), the rest
    * are value columns. */
  def toCube(df: DataFrame, edgeNames: Seq[String]): JxCube = {
    val cols = df.columns.toSeq
    require(cols.take(edgeNames.size) == edgeNames,
      s"expected leading edge columns $edgeNames, got $cols")
    val valueCols = cols.drop(edgeNames.size)
    val rows = df.collect().toSeq
    // per-edge domains, in first-appearance (= domain) order
    val domains = edgeNames.indices.map { i =>
      val seen = scala.collection.mutable.LinkedHashSet[Any]()
      rows.foreach(r => seen += r.get(i))
      seen.toSeq
    }
    // density backstop: a dense cube has exactly one row per domain
    // combination. A truncated/filtered input would derive domains
    // from an arbitrary row subset and silently mis-shape the cube —
    // fail loudly instead (Service exempts edges queries from its
    // injected default limit for the same reason).
    require(rows.size.toLong == domains.map(_.size.toLong).product,
      s"toCube requires a dense input: got ${rows.size} rows for " +
        s"domain product ${domains.map(_.size.toLong).product}")
    val index = domains.map(_.zipWithIndex.toMap)
    def build(valueIdx: Int): IndexedSeq[Any] = {
      def shape(level: Int): IndexedSeq[Any] =
        if (level == edgeNames.size - 1)
          IndexedSeq.fill[Any](domains(level).size)(null)
        else IndexedSeq.fill[Any](domains(level).size)(shape(level + 1))
      var cube = shape(0)
      def set(c: IndexedSeq[Any], coords: Seq[Int], v: Any): IndexedSeq[Any] =
        coords match {
          case Seq(last) => c.updated(last, v)
          case head +: tail =>
            c.updated(head,
              set(c(head).asInstanceOf[IndexedSeq[Any]], tail, v))
        }
      rows.foreach { r =>
        val coords = edgeNames.indices.map(i => index(i)(r.get(i)))
        cube = set(cube, coords, r.get(edgeNames.size + valueIdx))
      }
      cube
    }
    JxCube(edgeNames, domains,
      valueCols.zipWithIndex.map { case (n, i) => n -> build(i) }.toMap)
  }

  /** Run a query and shape per its `format` clause: the DataFrame for
    * "list", [[JxTable]] for "table", [[JxCube]] for "cube". */
  def shaped(runner: Runner, q: JxQuery): Any = q.format match {
    case "list" => runner.run(q)
    case "table" => toTable(runner.run(q))
    case "cube" =>
      require(q.edges.nonEmpty, "cube format needs an edges clause")
      toCube(runner.run(q), q.edges.map(_.name))
    case f => throw new IllegalArgumentException(s"unknown format: $f")
  }
}
