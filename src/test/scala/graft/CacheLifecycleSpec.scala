package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.storage.StorageLevel
import graft.engine.{DfCache, Tables, TxnLog}
import graft.operators.{CfOps, ContentOps, DedupOps, MlOps, TxnOps}

/** Session-state lifecycle: every piece of per-(application, sfDir)
  * state lives in the one scoped registry, [[DfCache]], which drops
  * other scopes when a new scope is touched — a long-lived session
  * sweeping many scale-factor directories holds ONE directory's
  * intermediates, relations, fixtures and staged layouts, never an
  * unbounded accumulation. Dropping never deletes a directory a
  * returned frame may still read; stale scratch of dead JVMs is swept.
  * Write-once derived layouts are rebuilt exactly when stale, once.
  * (The registry's unpersist-on-eviction is also pinned in
  * Round5Spec.) */
class CacheLifecycleSpec extends SparkSpec {

  private def tinyDir(tag: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"graft_cls_$tag").toString
    Seq((1L, 10L)).toDF("a", "b").write.mode("overwrite")
      .parquet(s"$dir/region.parquet")
    dir
  }

  private def scopesOf(name: String): Set[String] =
    DfCache.keys.collect { case (s, n) if n == name => s }

  /** Touch a scope no query uses, dropping every other scope. */
  private def touchOtherScope(): Unit =
    DfCache.memo(spark, "/scopeX", "probe")(())

  test("Tables.load evicts relations of other sfDir scopes") {
    val d1 = tinyDir("a")
    val d2 = tinyDir("b")
    Tables.load(spark, d1, "region")
    assert(scopesOf("table_region").exists(_.endsWith(d1)))
    Tables.load(spark, d2, "region")
    val scopes = scopesOf("table_region")
    assert(scopes.exists(_.endsWith(d2)))
    assert(!scopes.exists(_.endsWith(d1)),
      s"old scope must be evicted, got $scopes")
  }

  test("the scoped registry drops every other scope: frames unpersisted, memos rebuilt") {
    // an operator's persisted intermediate and a plain memo, scope sf
    val expected = CfOps.ratingsDerive(spark, sf).collect().toSeq
    val ratings = DfCache.frames.collectFirst {
      case ((s, "ratings"), d) if s.endsWith(sf) => d
    }.getOrElse(fail("CF ratings missing from the registry"))
    assert(ratings.storageLevel != StorageLevel.NONE)
    var builds = 0
    DfCache.memo(spark, sf, "probe") { builds += 1 }
    DfCache.memo(spark, sf, "probe") { builds += 1 }
    assert(builds == 1, "a memo builds once per scope")
    touchOtherScope()
    val scopes = DfCache.keys.map(_._1)
    assert(scopes.size == 1 && scopes.head.endsWith("/scopeX"),
      s"stale scope survived: $scopes")
    assert(ratings.storageLevel == StorageLevel.NONE,
      "an evicted frame must be unpersisted")
    DfCache.memo(spark, sf, "probe") { builds += 1 }
    assert(builds == 2, "an evicted memo is rebuilt on re-entry")
    // values still correct after eviction (recompute, not failure)
    assert(CfOps.ratingsDerive(spark, sf).collect().toSeq == expected)
  }

  test("operator DfCache instances (CF, dedup, content) evict old scopes") {
    // each operator family's persisted intermediate, scope sf
    CfOps.ratingsDerive(spark, sf).count()
    DedupOps.dedupMinhashLsh(spark, sf).count()
    ContentOps.contentSim(spark, sf).count()
    val names = Seq("ratings", "shingles", "content_candidates")
    val held = names.map { n =>
      n -> DfCache.frames.collectFirst {
        case ((s, `n`), d) if s.endsWith(sf) => d
      }.getOrElse(fail(s"$n missing from the registry"))
    }
    held.foreach { case (n, d) =>
      assert(d.storageLevel != StorageLevel.NONE, s"$n not persisted")
    }
    touchOtherScope()
    names.foreach { n =>
      assert(scopesOf(n).isEmpty, s"stale scope of $n survived")
    }
    held.foreach { case (n, d) =>
      assert(d.storageLevel == StorageLevel.NONE,
        s"evicted $n must be unpersisted")
    }
  }

  test("a txn fixture memo evicts on a new scope") {
    assert(TxnOps.txnHistory(spark, sf).collect().nonEmpty)
    assert(scopesOf("txn_fixture_history").exists(_.endsWith(sf)))
    // remove the built fixture: a memo that survived the scope switch
    // would hand back this now-empty root
    val root = DfCache.scratch(spark, sf, "history")
    TxnLog.destroy(root)
    touchOtherScope()
    assert(scopesOf("txn_fixture_history").isEmpty)
    assert(TxnOps.txnHistory(spark, sf).collect().length == 5,
      "the fixture must be rebuilt after its scope was dropped")
    assert(new File(root, "_txn_log").isDirectory)
  }

  test("eviction never deletes a scratch dir that a returned frame still reads") {
    val tt = TxnOps.txnTimeTravel(spark, sf)
    val feb = graft.streaming.StreamOps.streamForeachBatch(spark, sf)
    val (ttRows, febRows) = (tt.collect().toSeq, feb.collect().toSeq)
    assert(ttRows.nonEmpty && febRows.nonEmpty)
    touchOtherScope()
    assert(new File(DfCache.scratch(spark, sf, "tt")).isDirectory)
    assert(new File(DfCache.scratch(spark, sf, "feb")).isDirectory)
    assert(tt.collect().toSeq == ttRows)
    assert(feb.collect().toSeq == febRows)
  }

  test("the stale sweep removes dead scratch, never through a shallow clone's links") {
    val root = Files.createTempDirectory("graft_sweep").toFile
    def touch(f: File): File = {
      f.getParentFile.mkdirs(); Files.write(f.toPath, Array[Byte](1)); f
    }
    // a killed JVM's stream scratch
    val deadStream = new File(root, "graft_app_dead1")
    touch(new File(deadStream, "feb__sf/batch_id=0/part-0.parquet"))
    // a live table and a killed JVM's shallow clone of it
    val liveSnap = new File(root, "graft_app_live/clone_src__sf/snapshot_v0")
    val liveFile = touch(new File(liveSnap, "part-0.parquet"))
    val deadClone = new File(root, "graft_app_dead2")
    val cloneDst = new File(deadClone, "clone_dst__sf")
    cloneDst.mkdirs()
    Files.createSymbolicLink(new File(cloneDst, "snapshot_v0").toPath,
      liveSnap.toPath)
    // not this project's scratch: never swept, however old
    val foreign = touch(new File(root, "other_dir/x"))
    val now = System.currentTimeMillis()
    val old = now - DfCache.StaleScratchMillis - 60000L
    Seq(deadStream, deadClone, foreign.getParentFile)
      .foreach(_.setLastModified(old))
    DfCache.sweepStale(root, now - DfCache.StaleScratchMillis)
    assert(!deadStream.exists(), "a stale stream scratch dir must be swept")
    assert(!deadClone.exists(), "a stale clone dir must be swept")
    assert(liveFile.exists(),
      "sweeping a clone must drop the link, not the source's snapshot")
    assert(foreign.exists())
    TxnLog.destroy(root.getPath)
  }

  /** A fixture dir holding one source file, a counting layout write
    * (one data file per build) and the layout call under test. */
  private final class LayoutProbe {
    val sfDir: String = Files.createTempDirectory("graft_layout").toString
    val src: File = new File(sfDir, "t.parquet")
    Files.write(src.toPath, Array[Byte](1))
    val writes = new java.util.concurrent.atomic.AtomicInteger()
    def build(spec: String = "v1", pause: Long = 0L): String =
      DfCache.layout(sfDir, "probe", spec, Seq(src.getPath)) { dir =>
        writes.incrementAndGet()
        Thread.sleep(pause)
        new File(dir).mkdirs()
        Files.write(new File(dir, "part-0.parquet").toPath, Array[Byte](2))
      }
    def marker: File = new File(DfCache.layoutRoot(sfDir), s"probe/${DfCache.SpecFile}")
    def close(): Unit = {
      TxnLog.destroy(DfCache.layoutRoot(sfDir)); TxnLog.destroy(sfDir)
    }
  }

  private def withProbe(body: LayoutProbe => Unit): Unit = {
    val p = new LayoutProbe
    try body(p) finally p.close()
  }

  private def mtimes(dir: String): Map[String, Long] =
    new File(dir).listFiles().map(f => f.getName -> f.lastModified()).toMap

  test("a fresh derived layout is not rewritten and its files keep their mtimes") {
    withProbe { p =>
      val dir = p.build()
      assert(p.writes.get == 1)
      assert(Files.readString(p.marker.toPath) == "v1")
      val before = mtimes(dir)
      assert(before.keySet == Set("part-0.parquet", DfCache.SpecFile))
      Thread.sleep(20)
      assert(p.build() == dir)
      assert(p.writes.get == 1, "a fresh layout must not be rewritten")
      assert(mtimes(dir) == before)
    }
  }

  test("a changed layout spec rebuilds the layout") {
    withProbe { p =>
      p.build()
      p.build("v2")
      assert(p.writes.get == 2)
      assert(Files.readString(p.marker.toPath) == "v2")
    }
  }

  test("a source touched newer than the layout rebuilds it") {
    withProbe { p =>
      p.build()
      // the source touched 10 s after the build: age the build instead
      // of dating the source into the future
      assert(p.marker.setLastModified(p.src.lastModified() - 10000L))
      p.build()
      assert(p.writes.get == 2)
      assert(p.marker.lastModified() >= p.src.lastModified())
      p.build()
      assert(p.writes.get == 2, "the rebuilt layout is fresh again")
    }
  }

  test("a layout with data but no spec marker (an interrupted write) is rebuilt") {
    withProbe { p =>
      val dir = p.build()
      assert(p.marker.delete())
      Files.write(new File(dir, "part-9.parquet").toPath, Array[Byte](3))
      p.build()
      assert(p.writes.get == 2)
      assert(mtimes(dir).keySet == Set("part-0.parquet", DfCache.SpecFile),
        "a rebuild must clear the interrupted write's files")
    }
  }

  test("four threads on one stale layout run its write exactly once") {
    withProbe { p =>
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val dirs = (1 to 4).map { _ =>
          pool.submit(new java.util.concurrent.Callable[String] {
            def call(): String = { start.await(); p.build(pause = 200L) }
          })
        }
        start.countDown()
        assert(dirs.map(_.get()).distinct.size == 1)
      } finally pool.shutdown()
      assert(p.writes.get == 1, s"write ran ${p.writes.get} times")
      assert(Files.readString(p.marker.toPath) == "v1")
    }
  }

  test("ALS calls leave no factor RDDs persisted") {
    def named: Seq[String] = spark.sparkContext.getPersistentRDDs.values
      .flatMap(r => Option(r.name)).toSeq.sorted
    CfOps.als(spark, sf).count() // builds the shared ratings first
    val before = named
    CfOps.als(spark, sf).count()
    CfOps.alsImplicit(spark, sf).count()
    assert(named == before,
      s"left persisted by the calls: ${named.diff(before)}")
  }

  test("mlDbscan's returned plan reads the PERSISTED probe, not a recompute") {
    // The r11 verdict defect: a try/finally unpersist inside the
    // builder evicted the n×(n/m) probe before the caller's action,
    // so the border subtree recomputed the dominant stage at action
    // time. Pin: after building the frame, the probe is live in the
    // registry AND the returned physical plan scans the
    // InMemoryRelation (twice — degree/component chain and border).
    val df = MlOps.mlDbscan(spark, sf)
    assert(scopesOf("dbscan_nbr").exists(_.endsWith(sf)),
      "dbscan probe must be live in the registry after build")
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("InMemoryTableScan"),
      s"returned plan must read the persisted probe, got:\n$phys")
    // unpersist the sf-scoped probe before the next suite
    touchOtherScope()
  }
}
