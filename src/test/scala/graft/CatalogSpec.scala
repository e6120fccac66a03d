package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.operators.ScanOps
import graft.sources.GraftCatalog

/** The TableCatalog rung: identifier resolution, differential
  * equality with the path-based twin, pushdown preserved through the
  * catalog route, and fingerprint-keyed resolution caching. */
class CatalogSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("catalog route returns byte-identical results to the path twin") {
    val viaCatalog = ScanOps.catalogScan(spark, sf).collect().toSeq
    val viaPath = ScanOps.catalogScanPathTwin(spark, sf).collect().toSeq
    assert(viaCatalog == viaPath)
  }

  test("catalog scan keeps filter pushdown and column pruning") {
    val df = ScanOps.catalogScan(spark, sf)
    df.collect()
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b
    }
    assert(scans.nonEmpty, "expected a V2 BatchScanExec via the catalog")
    val s = scans.head.scan.description()
    assert(s.contains("l_returnflag"),
      s"filter must be pushed to the scan:\n$s")
    val read = scans.head.scan.readSchema().fieldNames.toSet
    assert(read == Set("l_returnflag", "l_linestatus", "l_quantity"),
      s"read schema must be pruned to the 3 used columns, got $read")
  }

  test("identifiers resolve per-directory; missing tables fail cleanly") {
    registerGraftCatalog()
    val n = spark.table(GraftCatalog.ident(s"$sf/region")).count()
    assert(n > 0)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.table(GraftCatalog.ident(s"$sf/nonexistent_table")).count()
    }
    val tables = spark.sql(
      s"SHOW TABLES IN ${GraftCatalog.ident(s"$sf/x").stripSuffix(".`x`")}")
      .select("tableName").collect().map(_.getString(0)).toSet
    assert(graft.engine.Tables.names.toSet.subsetOf(tables),
      s"SHOW TABLES must list every fixture table, got $tables")
  }

  test("resolution cache is keyed by layout fingerprint") {
    registerGraftCatalog()
    // build a throwaway table dir with a _GRAFT_SPEC fingerprint
    val dir = java.nio.file.Files.createTempDirectory("graft_cat").toFile
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    java.nio.file.Files.writeString(
      new java.io.File(dir, "_GRAFT_SPEC").toPath, "spec-v1")
    val ident = GraftCatalog.ident(s"${dir.getAbsolutePath}/t")
    assert(spark.table(ident).count() == 2)
    // rewrite the table under a NEW fingerprint: the stale resolution
    // must be dropped and the fresh data visible
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    java.nio.file.Files.writeString(
      new java.io.File(dir, "_GRAFT_SPEC").toPath, "spec-v2")
    assert(spark.table(ident).count() == 3,
      "a changed _GRAFT_SPEC must invalidate the cached resolution")
    val _ = dir.listFiles() // keep the temp dir until the test ends
  }

  test("the catalog is read-only: writes are rejected") {
    registerGraftCatalog()
    intercept[Exception] {
      spark.sql(s"DROP TABLE ${GraftCatalog.ident(s"$sf/region")}")
    }
  }

  test("txn-log tables are visible to tableExists and listTables") {
    import graft.engine.TxnLog
    registerGraftCatalog()
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_txn").toFile
    val root = new java.io.File(dir, "acct").getAbsolutePath
    TxnLog.init(root)
    TxnLog.commit(spark, root, { _ =>
      import spark.implicits._
      (Seq((1L, 10L)).toDF("key", "value")
        .withColumn("op", lit("upsert")), Seq((1L, 1L)))
    })
    // the catalog metadata surface must agree with loadTable: a
    // resolvable txn table reports as existing and shows in listings
    val cat = spark.sessionState.catalogManager.catalog(GraftCatalog.NAME)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val ns = dir.getAbsolutePath.split("/").filter(_.nonEmpty)
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(ns, "acct")
    assert(cat.tableExists(ident),
      "a loadTable-resolvable txn table must report as existing")
    assert(cat.listTables(ns).contains(ident),
      "listTables must include _txn_log directory tables")
    // and the SQL surface agrees end-to-end
    val nsIdent = (GraftCatalog.NAME +: ns.toSeq)
      .map(p => s"`$p`").mkString(".")
    val listed = spark.sql(s"SHOW TABLES IN $nsIdent")
      .select("tableName").collect().map(_.getString(0)).toSet
    assert(listed.contains("acct"))
    assert(spark.table(GraftCatalog.ident(s"${dir.getAbsolutePath}/acct"))
      .count() == 1)
  }
}
