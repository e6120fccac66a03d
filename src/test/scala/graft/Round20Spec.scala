package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning

/** Round-20 pins (round 13, optimization round 1): structural pins for
  * the optimizations in OPTIMIZATION_r13.md. These pin the SHAPE the
  * measured win came from, not wall numbers (which are co-tenancy
  * noise on this host).
  */
class Round20Spec extends SparkSpec {

  /** Hash-partitioning columns a cached DfCache entry presents to its
    * consumers (what EnsureRequirements sees when a join probes it). */
  private def partCols(name: String): Seq[String] = {
    val df: DataFrame = graft.engine.DfCache.frames.collectFirst {
      case ((_, n), d) if n == name => d
    }.getOrElse(fail(s"cache entry $name missing"))
    df.queryExecution.executedPlan.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references).map(_.name)
      case p => fail(s"$name is not hash-partitioned (got $p) — every " +
        "per-round join would re-exchange the static edge table")
    }
  }

  test("graph family: static edge caches carry the join-key layout, so " +
      "per-round joins move only the node-sized state table") {
    // the round-13 profile of q_graph_pagerank showed the UNPARTITIONED
    // edge cache re-exchanged once per iteration (six 33.8k-row map
    // stages + four broadcast builds per run); the fix pins the cached
    // layout to the join key. This asserts the layout is actually
    // there — if a refactor drops the repartition, the joins silently
    // regress to one full edge exchange per round.
    graft.operators.GraphOps.graphPagerank(spark, sf).count()
    graft.operators.GraphOps.graphHits(spark, sf).count()
    assert(partCols("graphEdgesBySrc") == Seq("src"))
    assert(partCols("graphEdgesOutdeg") == Seq("src"))
    assert(partCols("hitsEdgesByUser") == Seq("user_id"))
    assert(partCols("hitsEdgesByItem") == Seq("item_id"))
  }

  test("pagerank is rerun-identical through the hoisted outdeg join") {
    // belt-and-braces on top of the DuckDB oracle: the hoist must not
    // change a single byte of the fixed-point iteration
    val a = graft.operators.GraphOps.graphPagerank(spark, sf).collect()
    val b = graft.operators.GraphOps.graphPagerank(spark, sf).collect()
    assert(a.sameElements(b))
    assert(a.length > 0)
  }
}
