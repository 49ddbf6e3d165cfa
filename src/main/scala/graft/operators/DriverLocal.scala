package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The one decision every driver-local fast path makes: is this input
  * small enough to collect? A bounded-round loop (the [[Graph]] loops,
  * [[graft.llm.Dedup.connectedComponents]], [[graft.llm.KMeans.fit]])
  * pays 2+ Spark jobs per round regardless of data size, so a small
  * input is pulled to the driver once and the loop replays in memory
  * with bit-identical output (each site's spec pins local ≡
  * distributed). A big input never leaves the cluster: at 100 TB the
  * distributed loop runs unchanged.
  *
  * One payload budget in one unit: `spark.graft.local.maxBytes` (JVM
  * system property, default 64 MiB). A frame qualifies when
  * rows × cellsPerRow × 8 bytes fit it — 2 cells per row for an edge
  * list, 3 for a weighted edge list, 1 + dims for an (id, vector)
  * table. At the default that is 4.19M edges, 2.8M weighted edges or
  * ~254k 32-dim vectors. `-Dspark.graft.local.maxBytes=0` forces every
  * distributed path (an empty input still qualifies). */
object DriverLocal {

  val MaxBytesKey = "spark.graft.local.maxBytes"

  /** The payload budget in bytes, read per call. */
  def maxBytes: Long = java.lang.Long.getLong(MaxBytesKey, 64L << 20)

  /** Largest row count whose rows × cellsPerRow × 8 bytes fit
    * [[maxBytes]]. */
  def maxRows(cellsPerRow: Int): Long = maxBytes / (8L * cellsPerRow)

  /** Count `df` in one job and collect it only when its payload fits
    * the budget; after a collect `df` is unpersisted (a caller's cache
    * has served its purpose). Over the budget return None and leave
    * `df` as it is: a caller that persisted it for its distributed
    * path keeps the cache this count materialized.
    *
    * The count reads no column (an empty projection), so a wide
    * payload such as an embedding column is not scanned to be counted,
    * and nothing is cached that a decline would throw away — at
    * 100 TB the decline costs one count. The price is that an uncached
    * `df` is computed twice on the collect branch, which the budget
    * bounds. */
  def collectWithin(df: DataFrame, cellsPerRow: Int): Option[Array[Row]] = {
    require(cellsPerRow > 0, "cellsPerRow must be > 0")
    if (org.apache.spark.sql.graft.bridge.countRows(df.select()) >
        maxRows(cellsPerRow)) None
    else {
      val rows = df.collect()
      df.unpersist(blocking = false)
      Some(rows)
    }
  }
}
