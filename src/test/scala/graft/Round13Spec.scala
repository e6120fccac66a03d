package graft

import org.apache.spark.sql.functions._

import graft.engine.TxnLog

/** Round-8 wave 4: column mapping (rename / drop / re-add without
  * resurrection), metadata-only commits, vacuum reachability through
  * linked snapshots, and clustered OPTIMIZE layout guarantees. */
class Round13Spec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val root = java.nio.file.Files
      .createTempDirectory(s"graft_r13_$tag").toString
    TxnLog.destroy(root)
    TxnLog.init(root)
    root
  }

  private def put(root: String, lo: Long, hi: Long,
      valueOf: Long => Long = identity): Unit = {
    TxnLog.commit(spark, root, { _ =>
      val d = spark.range(lo, hi + 1)
        .select(col("id").as("key"), expr("id").as("value"),
          lit("upsert").as("op"))
        .withColumn("value", udf(valueOf).apply(col("key")))
      (d, Seq((lo, hi)))
    })
    ()
  }

  test("rename is metadata-only and physical files are untouched") {
    val root = freshRoot("rename")
    put(root, 0, 9)
    val before = Option(new java.io.File(root, "snapshot_v0").listFiles())
      .get.map(f => f.getName -> f.length()).toMap
    TxnLog.renameColumn(spark, root, "value", "amount")
    val after = Option(new java.io.File(root, "snapshot_v0").listFiles())
      .get.map(f => f.getName -> f.length()).toMap
    assert(before == after, "rename must not rewrite any data file")
    assert(java.nio.file.Files.isSymbolicLink(
      java.nio.file.Paths.get(root, "snapshot_v1")),
      "a metadata commit's snapshot must be a link, not a copy")
    assert(TxnLog.read(spark, root, 1L).columns.toSeq ==
      Seq("key", "amount"))
    assert(TxnLog.read(spark, root, 0L).columns.toSeq ==
      Seq("key", "value"), "time travel must show the old schema")
  }

  test("drop + re-add binds a fresh physical column — no resurrection") {
    val root = freshRoot("dropcol")
    put(root, 0, 4, _ * 100)
    TxnLog.dropColumn(spark, root, "value")
    assert(TxnLog.read(spark, root, 1L).columns.toSeq == Seq("key"))
    TxnLog.addColumnMapped(spark, root, "value", default = -1L)
    val vals = TxnLog.read(spark, root, 2L)
      .select("value").distinct().collect().map(_.getLong(0)).toSeq
    assert(vals == Seq(-1L),
      s"re-added column must read its default everywhere, got $vals — " +
        "old physical data resurrected through the new logical name")
    // the old data is still there physically (time travel owns it)
    assert(TxnLog.read(spark, root, 0L)
      .filter($"key" === 3L).head().getLong(1) == 300L)
  }

  test("a delta-ADD on a mapped table extends the mapping") {
    val root = freshRoot("mapext")
    put(root, 0, 4)
    TxnLog.renameColumn(spark, root, "value", "amount")
    TxnLog.commit(spark, root, { _ =>
      val d = spark.range(0, 5)
        .select(col("id").as("key"), col("id").as("bonus"),
          lit("upsert").as("op"))
      (d, Seq((0L, 4L)))
    }, defaults = Map("bonus" -> 0L))
    val cols = TxnLog.read(spark, root,
      TxnLog.latestCommitted(root)).columns.toSeq
    assert(cols == Seq("key", "amount", "bonus"),
      s"mapped read must include the delta's new column, got $cols")
  }

  test("CHECK constraints evaluate against logical names post-rename") {
    val root = freshRoot("mapcheck")
    put(root, 0, 4)
    TxnLog.renameColumn(spark, root, "value", "amount")
    val e = intercept[TxnLog.CheckViolation] {
      TxnLog.commit(spark, root, { _ =>
        val d = Seq((2L, -5L, "upsert")).toDF("key", "amount", "op")
        (d, Seq((2L, 2L)))
      }, check = Some(col("amount") >= 0))
    }
    assert(e.getMessage.contains("CHECK"))
    // the rejected commit left no trace
    assert(TxnLog.latestCommitted(root) == 1L)
  }

  test("vacuum never evicts a snapshot a retained link resolves into") {
    val root = freshRoot("vacreach")
    put(root, 0, 9)                                  // v0: real data
    TxnLog.renameColumn(spark, root, "value", "amount") // v1: link → v0
    // keepLast=1 retains only v1, but v1's data IS v0's directory
    assert(TxnLog.vacuum(root, keepLast = 1).isEmpty,
      "evicting v0 would break the retained v1 link")
    assert(TxnLog.read(spark, root, 1L).count() == 10L)
    put(root, 10, 19)                                // v2: real data again
    assert(TxnLog.vacuum(root, keepLast = 1) == Seq(0L, 1L))
    assert(TxnLog.read(spark, root, 2L).count() == 20L)
    TxnLog.destroy(root)
  }

  test("a clustered V2 write receives clustered + sorted rows per task") {
    val table = "r13_dist"
    graft.sources.MemSinkRegistry.clear(table)
    spark.range(0, 1000)
      .select((col("id") % 37).as("user_id"), col("id").as("v"))
      .write.format(classOf[graft.sources.MemSink].getName)
      .option("table", table).option("clusterBy", "user_id")
      .option("writePartitions", "4")
      .mode("overwrite").save()
    val (clustered, sorted, nTasks) =
      graft.sources.MemSinkRegistry.layout(table).get
    assert(clustered, "a cluster key was split across writer tasks")
    assert(sorted, "a writer task received an unsorted run")
    assert(nTasks == 4,
      s"requiredNumPartitions=4 must pin the writer count, got $nTasks")
    val rows = graft.sources.MemSinkRegistry.read(table).get._2
    assert(rows.size == 1000)
    graft.sources.MemSinkRegistry.clear(table)
  }

  test("$history surfaces commit kinds and spans through SQL") {
    val root = freshRoot("history")
    put(root, 0, 9)
    TxnLog.renameColumn(spark, root, "value", "amount")
    registerGraftCatalog()
    val parts = root.split("/").filter(_.nonEmpty).toSeq
    val ident = ("graft" +: parts.init :+ (parts.last + "$history"))
      .map(p => s"`$p`").mkString(".")
    val h = spark.sql(s"SELECT * FROM $ident ORDER BY version").collect()
    assert(h.length == 2)
    assert(h(0).getString(2) == "write" && h(0).getInt(3) > 0)
    assert(h(1).getString(2) == "metadata" && h(1).getInt(3) == 0 &&
      h(1).isNullAt(4))
    TxnLog.destroy(root)
  }

  test("SQL INSERT INTO a txn table is one OCC commit via staged files") {
    val root = freshRoot("sqlins")
    put(root, 0, 9)
    registerGraftCatalog()
    val parts = root.split("/").filter(_.nonEmpty).toSeq
    val ident = ("graft" +: parts).map(p => s"`$p`").mkString(".")
    spark.range(5, 15)
      .select(col("id").as("key"), lit(777L).as("value"))
      .createOrReplaceTempView("r13_ins_src")
    spark.sql(s"INSERT INTO $ident SELECT key, value FROM r13_ins_src")
    assert(TxnLog.latestCommitted(root) == 1L,
      "the DML must land as exactly one new version")
    val after = TxnLog.read(spark, root, 1L)
    assert(after.count() == 15L)
    assert(after.filter($"key" === 7L).head().getLong(1) == 777L,
      "insert must upsert over the existing key")
    assert(after.filter($"key" === 2L).head().getLong(1) == 2L,
      "untouched keys must carry over")
    // the staging directory is gone after job commit
    val leftovers = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.startsWith(".insert_stage_"))
    assert(leftovers.isEmpty,
      s"staged files leaked: ${leftovers.map(_.getName).toSeq}")
    TxnLog.destroy(root)
  }

  test("SQL DELETE commits one version; untranslatable predicates fail loudly") {
    val root = freshRoot("sqldel")
    put(root, 0, 9)
    registerGraftCatalog()
    val parts = root.split("/").filter(_.nonEmpty).toSeq
    val ident = ("graft" +: parts).map(p => s"`$p`").mkString(".")
    spark.sql(s"DELETE FROM $ident WHERE key >= 5 AND key <= 7")
    assert(TxnLog.latestCommitted(root) == 1L)
    assert(TxnLog.read(spark, root, 1L).count() == 7L)
    // a predicate the source cannot translate must not silently
    // delete the wrong rows — Spark refuses the plan instead
    intercept[Exception] {
      spark.sql(s"DELETE FROM $ident WHERE key % 2 = 0")
    }
    assert(TxnLog.latestCommitted(root) == 1L,
      "the refused DELETE must not have committed anything")
    TxnLog.destroy(root)
  }

  test("TIMESTAMP AS OF resolves the floor version by publish time") {
    val root = freshRoot("ttts")
    put(root, 0, 4)
    put(root, 5, 9)
    val base = (System.currentTimeMillis() / 1000L) * 1000L - 600000L
    new java.io.File(root, "_txn_log/v0.commit").setLastModified(base)
    new java.io.File(root, "_txn_log/v1.commit")
      .setLastModified(base + 60000L)
    registerGraftCatalog()
    val parts = root.split("/").filter(_.nonEmpty).toSeq
    val ident = ("graft" +: parts).map(p => s"`$p`").mkString(".")
    def countAt(ms: Long): Long = spark.sql(
      s"SELECT * FROM $ident TIMESTAMP AS OF '" +
        java.time.Instant.ofEpochMilli(ms).toString + "'").count()
    assert(countAt(base + 1000L) == 5L, "between commits → v0")
    assert(countAt(base + 61000L) == 10L, "after both → v1")
    intercept[Exception](countAt(base - 1000L)) // before history began
    TxnLog.destroy(root)
  }

  test("CTAS creates a live txn table; DROP removes it; fixtures are refused") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_r13_ctas").toString
    TxnLog.destroy(dir) // CREATE must see a free slot
    registerGraftCatalog()
    val parts = dir.split("/").filter(_.nonEmpty).toSeq
    val ident = ("graft" +: parts).map(p => s"`$p`").mkString(".")
    spark.range(0, 10)
      .select(col("id").as("key"), (col("id") * 2).as("value"))
      .createOrReplaceTempView("r13_ctas_src")
    spark.sql(s"CREATE TABLE $ident AS SELECT key, value FROM r13_ctas_src")
    assert(TxnLog.latestCommitted(dir) == 0L, "CTAS lands as commit v0")
    assert(spark.sql(s"SELECT * FROM $ident").count() == 10L)
    spark.sql(s"DROP TABLE $ident")
    assert(!new java.io.File(dir, "_txn_log").exists(),
      "DROP must remove the table root")
    // creating over fixture data is refused loudly
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.root.testdata.`sf0.001`.t2 " +
        "AS SELECT key, value FROM r13_ctas_src")
    }
    assert(e.getMessage.contains("read-only") ||
      e.getMessage.contains("only supported under"))
  }

  test("ALTER TABLE RENAME/DROP COLUMN drive the mapping; reads translate") {
    val root = freshRoot("sqlalter")
    put(root, 0, 9)
    registerGraftCatalog()
    val parts = root.split("/").filter(_.nonEmpty).toSeq
    val ident = ("graft" +: parts).map(p => s"`$p`").mkString(".")
    spark.sql(s"ALTER TABLE $ident RENAME COLUMN value TO amount")
    // the catalog read resolves the LOGICAL name, with column
    // pruning still reaching the (physically-named) parquet scan
    val got = spark.sql(
      s"SELECT amount FROM $ident WHERE key = 3").head().getLong(0)
    assert(got == 3L)
    assert(spark.table(ident).columns.toSeq == Seq("key", "amount"))
    spark.sql(s"ALTER TABLE $ident DROP COLUMN amount")
    assert(spark.table(ident).columns.toSeq == Seq("key"))
    // unsupported change shapes are refused loudly
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $ident ALTER COLUMN key TYPE INT")
    }
    TxnLog.destroy(root)
  }

  test("mapped catalog reads still prune columns at the parquet scan") {
    val root = freshRoot("mapprune")
    put(root, 0, 9)
    TxnLog.renameColumn(spark, root, "value", "amount")
    registerGraftCatalog()
    val parts = root.split("/").filter(_.nonEmpty).toSeq
    val ident = ("graft" +: parts).map(p => s"`$p`").mkString(".")
    val df = spark.sql(s"SELECT amount FROM $ident")
    val plan = df.queryExecution.executedPlan.toString()
    // the scan must read ONLY the physical column backing `amount`
    assert(plan.contains("value") && !plan.contains("key#"),
      s"column pruning did not reach the mapped scan:\n$plan")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L to 9L).toSeq)
    TxnLog.destroy(root)
  }

  test("SQL UPDATE and MERGE INTO run as delta-sized single commits") {
    val root = freshRoot("rlo")
    put(root, 0, 9)
    registerGraftCatalog()
    val parts = root.split("/").filter(_.nonEmpty).toSeq
    val ident = ("graft" +: parts).map(p => s"`$p`").mkString(".")
    spark.sql(s"UPDATE $ident SET value = value + 100 WHERE key < 3")
    assert(TxnLog.latestCommitted(root) == 1L)
    val v1 = TxnLog.read(spark, root, 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v1(0L) == 100L && v1(2L) == 102L && v1(5L) == 5L)
    // the DELTA written by the update holds only the 3 matched rows
    val delta1 = spark.read.parquet(s"$root/delta_v1")
    assert(delta1.count() == 3L,
      "a delta-based UPDATE must write only the matched rows")
    spark.range(8, 12)
      .select(col("id").as("key"), lit(1L).as("cnt"))
      .createOrReplaceTempView("r13_merge_src")
    spark.sql(
      s"""MERGE INTO $ident t USING r13_merge_src s ON t.key = s.key
         |WHEN MATCHED THEN UPDATE SET value = t.value + s.cnt
         |WHEN NOT MATCHED THEN INSERT (key, value) VALUES (s.key, s.cnt)
         |""".stripMargin)
    assert(TxnLog.latestCommitted(root) == 2L)
    val v2 = TxnLog.read(spark, root, 2L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v2.size == 12)
    assert(v2(8L) == 9L && v2(9L) == 10L, "matched rows updated")
    assert(v2(10L) == 1L && v2(11L) == 1L, "unmatched rows inserted")
    assert(spark.read.parquet(s"$root/delta_v2").count() == 4L,
      "the MERGE delta must hold only matched+inserted rows")
    TxnLog.destroy(root)
  }

  test("INSERT OVERWRITE replaces atomically; empty overwrite truncates") {
    val root = freshRoot("sqlow")
    put(root, 0, 9)
    registerGraftCatalog()
    val parts = root.split("/").filter(_.nonEmpty).toSeq
    val ident = ("graft" +: parts).map(p => s"`$p`").mkString(".")
    spark.range(5, 8)
      .select(col("id").as("key"), lit(99L).as("value"))
      .createOrReplaceTempView("r13_ow_src")
    spark.sql(
      s"INSERT OVERWRITE TABLE $ident SELECT key, value FROM r13_ow_src")
    val v1 = TxnLog.read(spark, root, 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v1 == Map(5L -> 99L, 6L -> 99L, 7L -> 99L),
      s"overwrite must fully replace the table, got $v1")
    spark.range(0, 0)
      .select(col("id").as("key"), col("id").as("value"))
      .createOrReplaceTempView("r13_ow_empty")
    spark.sql(
      s"INSERT OVERWRITE TABLE $ident SELECT key, value FROM r13_ow_empty")
    assert(TxnLog.read(spark, root, 2L).count() == 0L,
      "overwrite from an empty query must still truncate")
    TxnLog.destroy(root)
  }

  test("$files serves footer stats that agree with the data") {
    val root = freshRoot("files")
    put(root, 0, 499)
    TxnLog.optimizeClustered(spark, root, targetFiles = 4)
    registerGraftCatalog()
    val parts = root.split("/").filter(_.nonEmpty).toSeq
    val ident = ("graft" +: parts.init :+ (parts.last + "$files"))
      .map(p => s"`$p`").mkString(".")
    val f = spark.sql(s"SELECT * FROM $ident ORDER BY file_index")
      .collect()
    assert(f.map(_.getLong(1)).sum == 500L,
      "footer row counts must sum to the table size")
    assert(f.head.getLong(2) == 0L && f.last.getLong(3) == 499L,
      "global key span must come from footer min/max")
    // disjoint after clustering: each file's min above the last's max
    f.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(2) > a.getLong(3))
      case _ =>
    }
    TxnLog.destroy(root)
  }

  test("clustered optimize produces pairwise-disjoint file key ranges") {
    val root = freshRoot("optclust")
    put(root, 0, 499)
    TxnLog.optimizeClustered(spark, root, targetFiles = 4)
    val snap = TxnLog.read(spark, root, TxnLog.latestCommitted(root))
    val stats = snap.groupBy(input_file_name().as("f"))
      .agg(min($"key").as("mn"), max($"key").as("mx"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(stats.length >= 2, "expected a multi-file clustered layout")
    stats.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(lo > hi, s"file ranges overlap: ...$hi vs $lo...")
      case _ =>
    }
    TxnLog.destroy(root)
  }
}
