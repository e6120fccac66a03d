package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: [[graft.engine.DfCache]] is the one owner of the files
  * keys derive. A write-once layout goes through `DfCache.layout` (one
  * location, one freshness rule, one locked rebuild); a file a key
  * rewrites on every build goes to the per-application
  * `DfCache.scratch`. A hand-rolled marker check (`_SUCCESS`, a spec
  * file), a second layout root or a layout under the session's
  * warehouse directory is how the rule drifts into copies again —
  * each copy with its own staleness bugs, and a directory every JVM
  * rewrites — so the guard makes a new one fail here. */
class DerivedFilesGuardSpec extends AnyFunSuite {

  private val owner = Paths.get("src/main/scala/graft/engine/DfCache.scala")
  private val tokens =
    Seq("\"_SUCCESS\"", "_GRAFT_SPEC", "\"_SPEC\"", "graft_scratch",
      "spark.sql.warehouse.dir")

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("derived files are owned by DfCache alone") {
    val files = scalaFiles("src/main")
    assert(files.contains(owner), s"$owner not found from ${Paths.get("").toAbsolutePath}")
    val hits = for {
      f <- files if f != owner
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      t <- tokens if line.contains(t)
    } yield s"$f:${i + 1}: $t"
    assert(hits.isEmpty,
      s"derived-file handling outside DfCache:\n${hits.mkString("\n")}")
  }
}
