package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Parses every request of a list with `QueryParser` and sends it to
  * `graft.Service`, one response (or error) per output line. Used by the
  * benchmark's tests: `perfbench.Validate <data-dir> <requests.json>
  * <out.jsonl>`, where the request file is a JSON array of
  * `{"id": ..., "json": ...}`. */
object Validate {
  def main(args: Array[String]): Unit = {
    val Array(data, in, outPath) = args
    val mapper = new ObjectMapper()
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = new java.io.PrintWriter(outPath, "UTF-8")
    mapper.readTree(new java.io.File(in)).elements.asScala.foreach { r =>
      val line = mapper.createObjectNode()
      line.put("id", r.get("id").asText)
      try {
        graft.jx.QueryParser.parse(r.get("json").asText)
        line.put("response",
          graft.Service.query(spark, data, r.get("json").asText))
      } catch { case e: Throwable => line.put("error", String.valueOf(e)) }
      out.println(mapper.writeValueAsString(line))
    }
    out.close()
    spark.stop()
  }
}
