package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Fleet-wide source guard: [[LocalSession]] is the only place under
  * `src/` that builds a SparkSession. A hand-rolled builder is how a
  * harness drifts from the contract (no UTC zone, a hard-coded
  * `local[32]`, its own shuffle-partition count) and makes its numbers
  * incomparable with Bench's; the guard makes a new one fail here
  * instead. `perfbench/` is the benchmark of record and keeps its own
  * builder. */
class SessionGuardSpec extends AnyFunSuite {

  private val builder = """SparkSession\s*\.\s*builder""".r
  private val owner = Paths.get("src/main/scala/graft/LocalSession.scala")

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("no SparkSession is built outside LocalSession") {
    val files = scalaFiles("src/main") ++ scalaFiles("src/test")
    assert(files.contains(owner), s"$owner not found from ${Paths.get("").toAbsolutePath}")
    val sites = files.flatMap { f =>
      builder.findAllMatchIn(Files.readString(f)).map(_ => f).toList
    }
    assert(sites == Seq(owner),
      s"SparkSession built outside LocalSession: ${sites.filterNot(_ == owner).mkString(", ")}")
  }
}
