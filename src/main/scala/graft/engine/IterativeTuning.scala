package graft.engine

import org.apache.spark.sql.SparkSession

/** The engine's one scoped set/restore of session conf, and the
  * tuning for ITERATIVE fixture-scale operators (power iterations,
  * beam searches, label propagation): their cost is the NUMBER of
  * sequential stages, not data volume, so (1) 32 shuffle partitions
  * per round is pure per-task setup overhead on frames of a few
  * thousand rows, and (2) AQE's per-stage re-planning is pure driver
  * latency when every exchange is already tiny. Both restored on
  * exit, so only the wrapped operator's plans are affected.
  *
  * At 100 TB: the per-round frames of these operators are sized by
  * nodes/beam/cluster counts, not by the raw table — the small
  * partition count usually survives scale-up; AQE is worth re-enabling
  * where a round contains a skew-prone build join (see the HNSW build
  * note). This is the same per-query sizing decision the streaming
  * harness documents. */
object IterativeTuning {
  /** Run `body` with `confs` set, then restore each key's prior value
    * (or unset it when it had none).
    *
    * CONCURRENCY CONSTRAINT (r13 ADVICE): this mutates session-global
    * confs for the duration of `body`, so any query COMPILED
    * concurrently in the same session during the window silently plans
    * under them. Fine while the harness is strictly sequential
    * (Bench/Verify/tests all are); a concurrent caller would need a
    * cloned session or SQLConf.withExistingConf scoping instead. */
  def withConf[T](spark: SparkSession, confs: Seq[(String, String)])(
      body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def withSmallIterative[T](spark: SparkSession,
      partitions: Int = 8)(body: => T): T =
    withConf(spark, Seq(
      "spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.adaptive.enabled" -> "false"))(body)
}
