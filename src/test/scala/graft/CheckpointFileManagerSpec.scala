package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException,
  Path}
import org.apache.spark.sql.execution.streaming.checkpointing
  .FileContextBasedCheckpointFileManager
import graft.streaming.{LocalCheckpointFileManager, StreamOps}

/** The fork-free local checkpoint manager keeps the contract of the
  * FileContext manager it replaces: atomic fail-if-exists and atomic
  * overwrite renames, checksummed files, no temp left behind — and it
  * never spawns a process. */
class CheckpointFileManagerSpec extends SparkSpec {

  private val conf = new Configuration()

  private def freshDir(tag: String): java.io.File =
    Files.createTempDirectory(s"graft_cfm_$tag").toFile

  private def write(fm: LocalCheckpointFileManager, p: Path, body: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: LocalCheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: java.io.File): Set[String] =
    dir.listFiles().map(_.getName).toSet

  /** Commands any thread exec'd while `body` ran, each with the
    * non-JDK frames that asked for it, innermost first. */
  @annotation.nowarn("cat=deprecation")
  private def execsDuring(body: => Unit): Seq[(String, Seq[String])] = {
    val seen =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]
    val prior = System.getSecurityManager
    System.setSecurityManager(new SecurityManager {
      override def checkPermission(p: java.security.Permission): Unit = ()
      override def checkPermission(p: java.security.Permission,
          ctx: Any): Unit = ()
      override def checkExec(cmd: String): Unit = {
        seen.add(cmd -> Thread.currentThread.getStackTrace.toSeq
          .map(f => s"${f.getClassName}.${f.getMethodName}")
          .filterNot(_.startsWith("java.")).drop(1))
        ()
      }
    })
    try body finally System.setSecurityManager(prior)
    seen.asScala.toSeq
  }

  test("no-overwrite onto an existing file throws and keeps its bytes") {
    val dir = freshDir("nooverwrite")
    val fm = new LocalCheckpointFileManager(new Path(dir.toURI), conf)
    val p = new Path(dir.toURI.toString, "0")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(fm, p, "second", overwrite = false)
    }
    assert(read(fm, p) == "first")
    assert(names(dir) == Set("0", ".0.crc"), "the loser's temp is gone")
  }

  test("overwrite replaces the file atomically, sidecar included") {
    val dir = freshDir("overwrite")
    val fm = new LocalCheckpointFileManager(new Path(dir.toURI), conf)
    val p = new Path(dir.toURI.toString, "1.delta")
    write(fm, p, "old bytes", overwrite = true)
    write(fm, p, "new, longer bytes", overwrite = true)
    assert(read(fm, p) == "new, longer bytes")
    assert(names(dir) == Set("1.delta", ".1.delta.crc"))
  }

  test("the .crc sidecar lands beside the file and catches corruption") {
    val dir = freshDir("crc")
    val fm = new LocalCheckpointFileManager(new Path(dir.toURI), conf)
    val p = new Path(dir.toURI.toString, "2")
    write(fm, p, "offsets payload", overwrite = false)
    assert(new java.io.File(dir, ".2.crc").length > 0)
    val raf = new java.io.RandomAccessFile(new java.io.File(dir, "2"), "rw")
    try { val b = raf.read(); raf.seek(0); raf.write(b ^ 0xff) }
    finally raf.close()
    intercept[ChecksumException](read(fm, p))
    assert(names(dir) == Set("2", ".2.crc"), "a corrupt file stays put")
  }

  test("cancel() leaves no temp file behind") {
    val dir = freshDir("cancel")
    val fm = new LocalCheckpointFileManager(new Path(dir.toURI), conf)
    val out = fm.createAtomic(new Path(dir.toURI.toString, "3"), false)
    out.write("half written".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("a non-local path is refused, naming the path") {
    val e = intercept[IllegalArgumentException] {
      new LocalCheckpointFileManager(new Path("hdfs://nn:8020/ckpt"), conf)
    }
    assert(e.getMessage.contains("hdfs://nn:8020/ckpt"))
  }

  test("create, mkdirs and rename spawn no process; the FileContext manager does") {
    val dir = freshDir("nofork")
    def exercise(sub: String, fm: org.apache.spark.sql.execution.streaming
        .checkpointing.CheckpointFileManager): Unit = {
      fm.mkdirs(new Path(dir.toURI.toString, s"$sub/state/0"))
      val p = new Path(dir.toURI.toString, s"$sub/state/0/1")
      Seq(false, true).foreach { overwrite =>
        val out = fm.createAtomic(p, overwrite)
        out.write(1)
        out.close()
      }
    }
    val ours = new LocalCheckpointFileManager(new Path(dir.toURI), conf)
    assert(execsDuring(exercise("ours", ours)).isEmpty)
    // the control shows the probe sees forks: without native libhadoop
    // Spark's default local manager shells out on create and rename
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable) {
      val stock = new FileContextBasedCheckpointFileManager(
        new Path(dir.toURI), conf)
      assert(execsDuring(exercise("stock", stock)).nonEmpty)
    }
  }

  test("a stateful streaming key's checkpoint I/O spawns no Hadoop shell; conf is restored") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.checkpointFileManagerClass",
      "spark.sql.streaming.stateStore.providerClass")
    val before = keys.map(spark.conf.getOption)
    // the first run stages the source batches (a batch CSV write, not
    // checkpoint I/O) and starts the executor metrics poller
    val rows = StreamOps.streamSession(spark, sf).collect().toSeq
    assert(rows.nonEmpty)
    var again = Seq.empty[org.apache.spark.sql.Row]
    val execs = execsDuring {
      again = StreamOps.streamSession(spark, sf).collect().toSeq
    }
    assert(again == rows)
    // Spark itself still shells out to `rm -rf` once per stopped query
    // (session artifact cleanup); what must be gone is Hadoop's Shell
    val hadoop = execs.filter(_._2.exists(_.startsWith("org.apache.hadoop")))
    assert(hadoop.isEmpty, "Hadoop shell processes:\n" + hadoop.distinct
      .map { case (cmd, fs) => s"$cmd <- ${fs.take(8).mkString(" <- ")}" }
      .mkString("\n"))
    StreamOps.streamTws(spark, sf).count()
    assert(keys.map(spark.conf.getOption) == before)
  }
}
