package graft.store

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile
import org.apache.spark.sql.DataFrame

/** Per-FILE column min/max statistics for data skipping — the layer
  * Delta/Iceberg add over a plain Hive layout, rebuilt from parquet's
  * own footer statistics (no extra data pass: the stats already exist in
  * every file's footer; this hoists them into one tiny driver-readable
  * sidecar per load so planning never touches data files).
  *
  * Why not rely on parquet row-group filtering alone? That prunes AFTER
  * every file is opened (a footer fetch per file per query — at 100 TB,
  * millions of remote reads before the first row). A `_stats_*.tsv`
  * sidecar per load is O(loads) driver reads, and a range predicate
  * selects the surviving file list before the scan is planned, like a
  * Delta transaction log's `stats` field.
  *
  * Cost model: collection is one driver-side footer read per file OF
  * THE LOAD BEING WRITTEN — bounded by a single ingest's write
  * parallelism (tasks × partition dirs), not by table size; history is
  * never rescanned. A pathological million-file single load would pay
  * minutes of driver I/O — split such ingests, or compact first.
  *
  * Format: one line per (file, column):
  * `relPath <TAB> column <TAB> kind <TAB> min <TAB> max`, URL-encoded
  * fields, kind ∈ {l: integral, d: floating, s: string}. Files with no
  * line for a queried column are never skipped (absence = unknown).
  *
  * The same footers also give exact row counts without a Spark job
  * ([[planRowUpperBound]]); every driver-side footer read in the
  * codebase goes through [[footerReader]].
  */
object FileStats {

  final case class ColRange(kind: String, min: String, max: String) {

    /** May a file with this range contain values in [lo, hi]? Unknown or
      * mistyped bounds answer true (never skip on uncertainty).
      */
    def intersects(lo: Any, hi: Any): Boolean = kind match {
      case "l" =>
        (asLong(lo), asLong(hi)) match {
          case (Some(l), Some(h)) => min.toLong <= h && max.toLong >= l
          case _ => true
        }
      case "d" =>
        (asDouble(lo), asDouble(hi)) match {
          case (Some(l), Some(h)) => min.toDouble <= h && max.toDouble >= l
          case _ => true
        }
      case "s" =>
        (lo, hi) match {
          case (l: String, h: String) =>
            // Parquet footer min/max (and Spark string comparison) order
            // by unsigned UTF-8 bytes; Java String.compareTo orders by
            // UTF-16 code units, which DISAGREES for supplementary-plane
            // chars vs BMP chars >= U+E000 (a surrogate 0xD83D sorts
            // below 0xE000 in UTF-16 but its UTF-8 bytes 0xF0... sort
            // above 0xEE...). Compare in the stats' own order.
            utf8Leq(min, h) && utf8Leq(l, max)
          case _ => true // mistyped bounds: never skip
        }
      case _ => true
    }

    private def utf8Leq(a: String, b: String): Boolean =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) <= 0

    private def asLong(v: Any): Option[Long] = v match {
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    private def asDouble(v: Any): Option[Double] = v match {
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case i: Int => Some(i.toDouble)
      case l: Long => Some(l.toDouble)
      case _ => None
    }
  }

  /** Walk `root` for data files and merge each file's per-row-group
    * footer statistics into one ColRange per requested column. Driver
    * side, one footer read per file — run at WRITE time (on the staged
    * or compacted tree) so reads never pay it. Columns missing
    * statistics in any row group of a file are omitted for that file.
    */
  def collect(
      fs: FileSystem,
      conf: Configuration,
      root: Path,
      cols: Seq[String]): Seq[(String, Map[String, ColRange])] = {
    val out = Seq.newBuilder[(String, Map[String, ColRange])]
    // listStatus returns QUALIFIED paths (scheme + authority) — qualify
    // the root the same way or the prefix strip silently fails.
    val rootStr = fs.makeQualified(root).toString
    val readFooter = footerReader(conf)
    def walk(st: FileStatus): Unit =
      if (st.isDirectory) fs.listStatus(st.getPath).foreach(walk)
      else {
        val n = st.getPath.getName
        if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")) {
          val rel = fs.makeQualified(st.getPath).toString.stripPrefix(rootStr).stripPrefix("/")
          out += rel -> fileRanges(readFooter(HadoopInputFile.fromStatus(st, conf)), cols)
        }
      }
    walk(fs.getFileStatus(root))
    out.result()
  }

  private def fileRanges(footer: ParquetMetadata, cols: Seq[String]): Map[String, ColRange] = {
    // 0-ROW groups are dropped up front: they cannot contain matches,
    // so they are neutral for every column. For POPULATED groups an
    // 'empty' Statistics object is ambiguous — it also means
    // stats-not-recorded (parquet.column.statistics.enabled=false, a
    // foreign writer) — so it must make the file's range UNKNOWN
    // (always scanned), never a zero-width range that would silently
    // skip live rows.
    val blocks = footer.getBlocks.asScala.filter(_.getRowCount > 0)
    cols.flatMap { c =>
      val chunks = blocks.flatMap(_.getColumns.asScala.find(_.getPath.toDotString == c))
      val stats = chunks.map(_.getStatistics)
      // Every populated row group must carry usable stats, else the
      // file's range is unknown for this column.
      val nonEmpty = stats.filter(s => s != null && s.getNumNulls >= 0 && !s.isEmpty)
      if (chunks.size != blocks.size || nonEmpty.size != blocks.size ||
        nonEmpty.exists(!_.hasNonNullValue)) None
      else {
        val ranges = nonEmpty.filter(_.hasNonNullValue).flatMap(s =>
          (s.genericGetMin, s.genericGetMax) match {
            case (mn: java.lang.Integer, mx: java.lang.Integer) =>
              Some(ColRange("l", mn.toString, mx.toString))
            case (mn: java.lang.Long, mx: java.lang.Long) =>
              Some(ColRange("l", mn.toString, mx.toString))
            case (mn: java.lang.Float, mx: java.lang.Float) =>
              Some(ColRange("d", mn.toString, mx.toString))
            case (mn: java.lang.Double, mx: java.lang.Double) =>
              Some(ColRange("d", mn.toString, mx.toString))
            case (mn: org.apache.parquet.io.api.Binary, mx: org.apache.parquet.io.api.Binary) =>
              Some(ColRange("s", mn.toStringUsingUTF8, mx.toStringUsingUTF8))
            case _ => None
          })
        if (ranges.isEmpty) None
        else if (ranges.size < nonEmpty.count(_.hasNonNullValue)) None // mixed/unsupported types
        else Some(c -> ColRange(ranges.head.kind,
          ranges.map(_.min).min(rangeOrd(ranges.head.kind)),
          ranges.map(_.max).max(rangeOrd(ranges.head.kind))))
      }
    }.toMap
  }

  private def rangeOrd(kind: String): Ordering[String] = kind match {
    case "l" => Ordering.by(_.toLong)
    case "d" => Ordering.by(_.toDouble)
    case _ => Ordering.String
  }

  /** Footer reader for a batch of parquet files that builds its read
    * options ONCE. `ParquetFileReader.open(file)` derives fresh options
    * from the Hadoop conf for every file, which measured several
    * milliseconds a footer — most of a small table's metadata read;
    * with shared options a footer read is the file open plus the footer
    * bytes.
    */
  private[graft] def footerReader(conf: Configuration): InputFile => ParquetMetadata = {
    val opts = HadoopReadOptions.builder(conf).build()
    file => {
      val reader = ParquetFileReader.open(file, opts)
      try reader.getFooter finally reader.close()
    }
  }

  /** Rows in one parquet file, from its footer. */
  private[graft] def rowCount(footer: ParquetMetadata): Long =
    footer.getBlocks.asScala.iterator.map(_.getRowCount).sum

  /** EXACT row count of a DataFrame from metadata only — parquet footer
    * record counts of its file-relation leaves, or local-relation sizes;
    * None when any leaf is an unknown source OR the plan contains any
    * node that changes row counts: multiplying (Join/Generate/Expand) or
    * SHRINKING (Filter/Aggregate/Deduplicate/Sample/Limit/set-ops). The
    * shrinking check matters for fit-sample sizing: a footer sum over a
    * `corpus.where(...)` plan is only an upper bound, and a fraction
    * `maxFitRows/upperBound` applied to the far-fewer filtered rows
    * yields a sample of `selectivity·maxFitRows` — possibly EMPTY on a
    * selective filter, crashing (or silently degrading) the KMeans/PQ
    * fit where a count() would have been exact. Shrunk plans therefore
    * fall back to the count() job rather than mis-size the sample.
    * Projections/sorts/windows/unions preserve counts, so the returned
    * value is exact; [[graft.Route.rows]] tries it before a `count()`.
    *
    * Cost: one driver-side footer read per file, every call (planning
    * caches file LISTINGS, not footer contents) — about a millisecond
    * for a small table through [[footerReader]]. Bounded at
    * [[MaxFooterReads]] files — a many-thousand-file corpus falls back
    * to the distributed count() rather than a serial driver walk.
    */
  private[graft] def planRowUpperBound(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val plan = df.queryExecution.optimizedPlan
    // ALLOWLIST of count-preserving nodes, not a blocklist of
    // count-changing ones: typed-API operators survive optimization as
    // object nodes a blocklist never enumerated (TypedFilter,
    // MapPartitions, FlatMapGroups*, CoGroup — all row-changing), and
    // future node types default the same way. Unknown ⇒ refuse; the
    // fallback is a correct count() job, so the only cost of refusing
    // too much is the one extra stage this path exists to skip.
    val countPreserving: LogicalPlan => Boolean = {
      case _: Project | _: Sort | _: Union => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Window => true
      case _: RepartitionOperation => true // Repartition/RepartitionByExpression
      case _: SubqueryAlias => true
      case _: LocalRelation => true
      case _: LogicalRelation => true
      case _ => false
    }
    if (!plan.collect { case n => n }.forall(countPreserving)) return None
    val counts = plan.collectLeaves().map {
      case l: LocalRelation => Some(l.data.length.toLong)
      case lr: LogicalRelation => lr.relation match {
        case fsr: HadoopFsRelation if fsr.fileFormat.isInstanceOf[ParquetFileFormat] =>
          val conf = df.sparkSession.sparkContext.hadoopConfiguration
          val files = fsr.location.inputFiles
          if (files.length > MaxFooterReads) None
          else try {
            val readFooter = footerReader(conf)
            Some(files.iterator.map(p =>
              rowCount(readFooter(HadoopInputFile.fromPath(new Path(p), conf)))).sum)
          }
          catch { case scala.util.control.NonFatal(_) => None }
        case _ => None
      }
      case _ => None
    }
    if (counts.nonEmpty && counts.forall(_.isDefined)) Some(counts.flatten.sum)
    else None
  }

  /** Footer-walk budget for [[planRowUpperBound]]: past this many files a
    * serial driver walk costs more than the column-pruned count() stage
    * it would save.
    */
  private val MaxFooterReads = 2048

  def encode(stats: Seq[(String, Map[String, ColRange])]): String =
    stats.flatMap { case (rel, m) =>
      m.toSeq.sortBy(_._1).map { case (c, r) =>
        Seq(rel, c, r.kind, r.min, r.max)
          .map(URLEncoder.encode(_, UTF_8)).mkString("\t")
      }
    }.mkString("\n")

  /** relPath → column → range. Tolerates unknown/malformed lines. */
  def parse(content: String): Map[String, Map[String, ColRange]] =
    content.split("\n").toSeq.filter(_.contains("\t")).flatMap { line =>
      line.split("\t", -1).map(URLDecoder.decode(_, UTF_8)) match {
        case Array(rel, c, kind, mn, mx) => Some(rel -> (c -> ColRange(kind, mn, mx)))
        case _ => None
      }
    }.groupBy(_._1).map { case (rel, rows) => rel -> rows.map(_._2).toMap }
}
