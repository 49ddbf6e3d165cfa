package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name prefixes (dev runs
    // of a subset; the driver always passes exactly two args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val spark = LocalSpark.session()
    new java.io.File(outDir).mkdirs()
    val attempted = SparkEntry.queries
      .filter { case (name, _) =>
        only.forall(_.exists(name.startsWith)) }
    // manifest of ATTEMPTED queries, written before any runs: a query
    // that crashes inside Verify (exception caught below, no parquet
    // dumped) must count as FAIL in the differential check — without
    // the manifest a missing output dir is indistinguishable from a
    // deliberately-skipped subset run and would silently pass
    Files.writeString(Paths.get(s"$outDir/attempted.json"),
      attempted.keys.toSeq.sorted
        .map(n => "\"" + n + "\"").mkString("[", ",", "]"))
    attempted.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the result parquet is fully written at this point, so the
      // query's cached blocks, sink views and scratch dirs can go
      LocalSpark.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
