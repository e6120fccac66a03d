package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-query sessions: a query that needs its own confs builds on a
  * CLONE of the caller's session carrying them and returns a frame
  * bound to that clone, so the caller's later action plans under the
  * query's confs too. The caller's session is never written: no
  * restore, and a query compiled concurrently on it never sees
  * another query's confs. A clone shares the caller's SharedState
  * (CacheManager, `applicationId`: [[DfCache]] frames still hit and
  * its scopes are the same) and gets its own conf, temp views, temp
  * functions and catalogs, which die with it.
  *
  * The traps, each the reason for a rule:
  *  - Name the block's parameter `spark` (`QuerySession(spark, c) {
  *    spark => … }`) so the outer session is shadowed and cannot leak
  *    in. An `import spark.implicits._` ABOVE the block still binds
  *    `toDF`/`as[T]` to the caller: import inside it.
  *  - A join result is bound to its LEFT operand's session, so
  *    [[apply]] binds the block's result to the clone, and [[DfCache]]
  *    and [[Tables]] return frames bound to the asking session.
  *  - Spark copies QueryExecutionListeners to a clone but not
  *    StreamingQueryListeners, so [[session]] re-registers the
  *    caller's: otherwise they see no progress from a stream run on
  *    the clone.
  *  - A helper that only needs its BUILD tuned (eager jobs, cached
  *    layout) binds its result back to the caller:
  *    `bind(QuerySession(spark, c) { spark => … }, spark)`.
  *  - Spark's AQE pool threads inherit the session active on the
  *    thread that creates them, so a clone whose action starts one
  *    stays reachable until that thread idles out (60 s).
  *
  * Spark 4.1.2, 4 vCPUs: a `cloneSession` call costs ~1 ms ([[session]]
  * makes two), and a fresh clone's first query showed no overhead
  * over the parent's once artifact isolation is off. */
object QuerySession {

  /** The tuning for ITERATIVE fixture-scale operators (power
    * iterations, beam searches, label propagation): their cost is the
    * NUMBER of sequential stages, not data volume, so (1) 32 shuffle
    * partitions per round is pure per-task setup overhead on frames
    * of a few thousand rows, and (2) AQE's per-stage re-planning is
    * pure driver latency when every exchange is already tiny.
    *
    * At 100 TB: the per-round frames of these operators are sized by
    * nodes/beam/cluster counts, not by the raw table — the small
    * partition count usually survives scale-up; AQE is worth
    * re-enabling where a round contains a skew-prone build join (see
    * the HNSW build note). */
  val SmallIterative: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.adaptive.enabled" -> "false")

  /** A clone of `spark` carrying `confs` and the caller's streaming
    * listeners — apart from [[Tables]]' ns-fixture flag, the one place
    * the engine writes session conf. */
  def session(spark: SparkSession,
      confs: Seq[(String, String)]): SparkSession = {
    // cloned twice to create it with artifact isolation off: an
    // isolated session's tasks compile every generated class again in
    // their own executor class loader (q_graph_hits 5.4 s, not 2.3 s)
    val base = Bridge.cloneSession(spark.asInstanceOf[classic.SparkSession])
    base.conf.set("spark.sql.artifact.isolation.enabled", "false")
    val c = Bridge.cloneSession(base)
    confs.foreach { case (k, v) => c.conf.set(k, v) }
    // a session's first `streams` call registers a listener bus for
    // good: a clone's listeners come from this map, not its `streams`
    val listeners = Option(listenersOf.get(spark))
      .getOrElse(spark.streams.listListeners())
    if (listeners.nonEmpty) listeners.foreach(c.streams.addListener)
    listenersOf.put(c, listeners)
    c
  }

  private val listenersOf = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Array[StreamingQueryListener]])

  /** Build `body` on [[session]]`(spark, confs)`; the result is bound
    * to the clone. */
  def apply(spark: SparkSession, confs: Seq[(String, String)])(
      body: SparkSession => DataFrame): DataFrame = {
    val c = session(spark, confs)
    bind(body(c), c)
  }

  /** `df` bound to `spark`: the identity when it already is, else the
    * same analyzed plan on `spark`, so an action plans under
    * `spark`'s confs. */
  def bind(df: DataFrame, spark: SparkSession): DataFrame =
    if (df.sparkSession eq spark) df
    else Bridge.rebind(df, spark.asInstanceOf[classic.SparkSession])
}
