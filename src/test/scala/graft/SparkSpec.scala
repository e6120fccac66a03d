package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for operator specs: one local[4] SparkSession per
  * suite, UTC, shuffle partitions pinned (determinism rules from
  * SURVEY.md §7.4 are test requirements). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = LocalSession(4, getClass.getSimpleName)

  val sf: String = "/root/testdata/sf0.001"

  /** Names the `graft` catalog on this suite's session; a key gets it
    * on its own query session instead. */
  def registerGraftCatalog(): Unit = {
    val (k, v) = graft.sources.GraftCatalog.Conf
    spark.conf.set(k, v)
  }

  override def afterAll(): Unit = {
    // keep the session for the next suite (shared JVM) — just clear cache
    spark.catalog.clearCache()
    super.afterAll()
  }
}
