package graft.engine

import java.io.File

import scala.jdk.CollectionConverters._

/** Parquet-footer statistics reader — the manifest-stats primitive
  * under the `$files` / `$partitions` metadata tables and the
  * cost-based planner ([[graft.plans.Cbo]]). Reads ONLY footers:
  * row counts, on-disk bytes, and per-LONG-column min/max/null-count
  * come from block metadata, never from data pages. Driver-side and
  * O(files) — at 100 TB this is exactly the information a table
  * format's manifest caches; the local-FS footer walk is the
  * fixture-scale stand-in for reading that manifest. */
object FooterStats {

  /** Per-column footer stats: min/max (absent when the writer left
    * no stats or every value is null), the null count, and the column
    * chunks' UNCOMPRESSED byte total (decoded codec, still
    * parquet-encoded) — the per-column half of width-aware join
    * pricing: a projection that keeps 2 of 40 columns must be priced
    * by those 2 columns' bytes, not the table's. */
  final case class ColStat(min: Option[Long], max: Option[Long],
      nulls: Long, rawBytes: Long = 0L)

  /** One data file's footer summary. `rawBytes` is the footer's
    * total UNCOMPRESSED column-chunk byte count — bytes after codec
    * decompression but still parquet-encoded (dictionary/RLE), the
    * closest thing a footer carries to the row-data volume a
    * downstream operator must materialize. */
  final case class FileStat(path: String, bytes: Long, nRows: Long,
      cols: Map[String, ColStat], rawBytes: Long = 0L)

  /** Shared: a fresh Configuration parses the Hadoop defaults again. */
  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** One data file's footer, read with parquet-mr. */
  private def footer(file: File)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath), hadoopConf))
    try reader.getFooter finally reader.close()
  }

  /** The parquet schema in one data file's footer. */
  def schema(file: File): org.apache.parquet.schema.MessageType =
    footer(file).getFileMetaData.getSchema

  /** Footer stats of every non-empty parquet file in `dir`
    * (symlinks resolved — a linked snapshot reads its referent). */
  def read(dir: File): Seq[FileStat] = {
    val canonical = dir.getCanonicalFile
    // accept a single parquet FILE too (the fixture tables are one
    // file per table) — ANALYZE shouldn't care how the data is laid out
    (if (canonical.isFile) Array(canonical)
     else Option(canonical.listFiles()).getOrElse(Array.empty))
      .filter(f => f.getName.endsWith(".parquet") && f.length > 0)
      .flatMap { f =>
        val blocks = footer(f).getBlocks.asScala.toSeq
        val nRows = blocks.map(_.getRowCount).sum
        if (nRows == 0L) None
        else {
          val perCol = blocks.flatMap(_.getColumns.asScala)
            .groupBy(_.getPath.toDotString)
            .map { case (name, chunks) =>
              val sts = chunks.map(_.getStatistics).collect {
                case s: org.apache.parquet.column.statistics
                    .LongStatistics => s
              }
              // an all-null chunk's stats are not empty (they carry
              // its null count) but its min/max read as 0
              val valued = sts.filter(_.hasNonNullValue)
              name -> ColStat(
                if (valued.nonEmpty) Some(valued.map(_.getMin).min)
                else None,
                if (valued.nonEmpty) Some(valued.map(_.getMax).max)
                else None,
                sts.map(s => math.max(s.getNumNulls, 0L)).sum,
                chunks.map(_.getTotalUncompressedSize).sum)
            }
          val rawBytes = blocks.flatMap(_.getColumns.asScala)
            .map(_.getTotalUncompressedSize).sum
          Some(FileStat(f.getAbsolutePath, f.length(), nRows, perCol,
            rawBytes))
        }
      }
      .toSeq
      .sortBy(fs => fs.cols.get("key").flatMap(_.min)
        .getOrElse(Long.MaxValue))
  }

  /** Footer stats of a txn table's LATEST committed snapshot. */
  def latestSnapshot(root: String): Seq[FileStat] = {
    val v = TxnLog.latestCommitted(root)
    require(v >= 0, s"$root: no committed version")
    read(new File(root, s"snapshot_v$v"))
  }

  /** The `$partitions` semantic: files sorted by key-min, overlapping
    * [kmin, kmax] intervals MERGED into disjoint runs — each run is
    * one "partition" (per-partition file count, row count, key
    * bounds). A clustered table yields one run per file; a
    * hash-layout table collapses to a single run, which honestly
    * reports "no partition structure". This is the interval-merge a
    * manifest-based planner does to answer "which partitions does
    * this key range touch". Files without key stats get their own
    * runs at the end. */
  def partitionRuns(files: Seq[FileStat])
      : Seq[(Int, Long, Long, Option[Long], Option[Long])] = {
    val (keyed, unkeyed) = files.partition(
      _.cols.get("key").exists(c => c.min.isDefined && c.max.isDefined))
    val sorted = keyed.sortBy(_.cols("key").min.get)
    val runs = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)] // nFiles, nRows, kmin, kmax
    sorted.foreach { f =>
      val mn = f.cols("key").min.get
      val mx = f.cols("key").max.get
      runs.lastOption match {
        case Some((nf, nr, lo, hi)) if mn <= hi =>
          runs(runs.length - 1) =
            (nf + 1, nr + f.nRows, lo, math.max(hi, mx))
        case _ => runs += ((1L, f.nRows, mn, mx))
      }
    }
    val keyedRuns = runs.toSeq.zipWithIndex.map { case ((nf, nr, lo, hi), i) =>
      (i, nf, nr, Some(lo): Option[Long], Some(hi): Option[Long])
    }
    keyedRuns ++ unkeyed.zipWithIndex.map { case (f, j) =>
      (keyedRuns.size + j, 1L, f.nRows,
        Option.empty[Long], Option.empty[Long])
    }
  }
}
