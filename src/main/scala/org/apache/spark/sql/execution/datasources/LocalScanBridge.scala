package org.apache.spark.sql.execution.datasources

import java.io.{CharArrayWriter, Closeable}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, NamedExpression, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** `df.toJSON`'s records read and encoded on the driver, with no Spark
  * job, when `df`'s optimized plan is a projection (or a bare relation)
  * over a parquet file scan. The job route's own classes run in the
  * calling thread under the session's conf:
  *   - the splits are `FileSourceScanExec`'s: the relation's file listing
  *     cut by `FilePartition.maxSplitBytes` through
  *     `PartitionedFileUtil.splitFiles`, sorted by length, descending.
  *     Reading them in that order gives the rows in the order of the
  *     scan's partitions, which is the order of a one-partition stream;
  *   - each split is read by `buildReaderWithPartitionValues` with
  *     `OPTION_RETURNING_BATCH` off, the projection is an
  *     `UnsafeProjection` of the plan's project list, and each row is
  *     encoded by `JacksonGenerator` under the `JSONOptions` that
  *     `Dataset.toJSON` builds.
  *
  * There is no `TaskContext` on the driver to close a reader when its
  * task ends, so a scan closes each split's reader when the split is
  * done, and [[Records.close]] closes the open one. So it takes only
  * schemas that the vectorized (closeable) reader serves. It refuses
  * filters, metadata columns, buckets and streams, and the ignore-corrupt
  * and ignore-missing file options, which `FileScanRDD` implements and
  * this does not.
  */
object LocalScanBridge {

  private val live = new AtomicInteger()

  /** Split readers opened by scans of this bridge and not yet closed. */
  def openReaders: Int = live.get()

  /** The JSON record of each row of `df`, or None when its plan is not a
    * scan this bridge serves. Files are opened as the iterator reaches
    * them; closing it closes the reader it has open.
    */
  def jsonRecords(df: DataFrame): Option[Records] =
    df.queryExecution.optimizedPlan match {
      case Project(projectList, lr: LogicalRelation) => scan(df.schema, projectList, lr)
      case lr: LogicalRelation => scan(df.schema, lr.output, lr)
      case _ => None
    }

  private def scan(schema: StructType, projectList: Seq[NamedExpression],
      lr: LogicalRelation): Option[Records] = lr.relation match {
    case rel: HadoopFsRelation if !lr.isStreaming && rel.bucketSpec.isEmpty &&
        rel.fileFormat.isInstanceOf[ParquetFileFormat] && rel.overlappedPartCols.isEmpty =>
      val spark = rel.sparkSession.asInstanceOf[classic.SparkSession]
      val conf = spark.sessionState.conf
      SQLConf.withExistingConf(conf) {
        val resolver = spark.sessionState.analyzer.resolver
        val dataCols = lr.resolve(rel.dataSchema, resolver)
        val partCols = lr.resolve(rel.partitionSchema, resolver)
        val refs = AttributeSet(projectList.flatMap(_.references))
        val readCols = dataCols.filter(refs.contains)
        val requiredSchema = DataTypeUtils.fromAttributes(readCols)
        val fileOptions = new FileSourceOptions(CaseInsensitiveMap(rel.options))
        val served =
          refs.subsetOf(AttributeSet(dataCols ++ partCols)) &&
            projectList.forall(e => e.deterministic && !SubqueryExpression.hasSubquery(e)) &&
            projectList.map(_.dataType) == schema.map(_.dataType) &&
            !fileOptions.ignoreCorruptFiles && !fileOptions.ignoreMissingFiles &&
            ParquetUtils.isBatchReadSupportedForSchema(conf,
              StructType(requiredSchema.fields ++ rel.partitionSchema.fields))
        if (!served) None
        else {
          val partitions = rel.location.listFiles(Nil, Nil)
          val maxSplitBytes = FilePartition.maxSplitBytes(spark, partitions)
          val splits = partitions.flatMap { p =>
            p.files.flatMap { f =>
              val path = f.getPath
              PartitionedFileUtil.splitFiles(f, path,
                rel.fileFormat.isSplitable(spark, rel.options, path), maxSplitBytes, p.values)
            }
          }.sortBy(_.length)(Ordering[Long].reverse)
          val readFile = rel.fileFormat.buildReaderWithPartitionValues(spark, rel.dataSchema,
            rel.partitionSchema, requiredSchema, Nil,
            rel.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
            spark.sessionState.newHadoopConfWithOptions(rel.options))
          Some(new Records(splits, readFile,
            UnsafeProjection.create(projectList, readCols ++ partCols), schema, conf))
        }
      }
    case _ => None
  }

  /** The records of one scan, in split order. */
  final class Records private[LocalScanBridge] (
      splits: Seq[PartitionedFile],
      readFile: PartitionedFile => Iterator[InternalRow],
      project: UnsafeProjection,
      schema: StructType,
      conf: SQLConf) extends Iterator[String] with Closeable {

    private val pending = splits.iterator
    private val writer = new CharArrayWriter()
    private val gen = SQLConf.withExistingConf(conf) {
      new JacksonGenerator(schema, writer,
        new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone))
    }
    private var reader: Closeable = null
    private var rows: Iterator[InternalRow] = Iterator.empty
    private var closed = false

    override def hasNext: Boolean = !closed && SQLConf.withExistingConf(conf) {
      while (!rows.hasNext && pending.hasNext) {
        closeReader()
        val it = readFile(pending.next())
        it match {
          case c: Closeable =>
            reader = c
            live.incrementAndGet()
          case _ => throw new IllegalStateException("parquet split reader is not closeable")
        }
        rows = it
      }
      if (!rows.hasNext) closeReader()
      rows.hasNext
    }

    override def next(): String = {
      if (!hasNext) throw new NoSuchElementException("no more records")
      SQLConf.withExistingConf(conf) {
        gen.write(project(rows.next()))
        gen.flush()
      }
      val json = writer.toString
      writer.reset()
      json
    }

    /** Closes the open split reader, if any; the iterator then ends. */
    override def close(): Unit = if (!closed) {
      closed = true
      try closeReader() finally gen.close()
    }

    private def closeReader(): Unit = if (reader != null) {
      val r = reader
      reader = null
      rows = Iterator.empty
      try r.close() finally live.decrementAndGet()
    }
  }
}
