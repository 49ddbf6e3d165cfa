package graft

import graft.jx.Runner
import graft.tables.Catalog

/** CLI entry for ad-hoc JX queries — the Spark analog of POSTing a JX JSON
  * query to the reference's query service.
  *
  * Usage: runMain graft.JxMain <sfDir> '<jx-query-json>'|@<file>
  * Prints the result table (up to 50 rows) and, with --plan, the
  * formatted physical plan.
  */
object JxMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JxMain <sfDir> <jx-query-json> [--plan]")
    val spark = LocalSpark.session()
    try {
      val json =
        if (args(1).startsWith("@"))
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(args(1).drop(1))), "UTF-8")
        else args(1)
      val runner = new Runner(spark, new Catalog(spark, args(0)))
      val q = graft.jx.QueryParser.parse(json)
      graft.jx.Formats.shaped(runner, q) match {
        case df: org.apache.spark.sql.DataFrame =>
          df.show(50, truncate = false)
          if (args.contains("--plan")) df.explain("formatted")
        case t: graft.jx.Formats.JxTable =>
          println(t.header.mkString(" | "))
          t.data.take(50).foreach(r => println(r.mkString(" | ")))
        case c: graft.jx.Formats.JxCube =>
          println(s"edges: ${c.edgeNames.mkString(", ")}")
          c.domains.zip(c.edgeNames).foreach { case (d, n) =>
            println(s"  $n: ${d.mkString(", ")}") }
          c.data.foreach { case (name, cube) =>
            println(s"  $name: $cube") }
      }
    } finally spark.stop()
  }
}
