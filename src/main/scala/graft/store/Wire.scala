package graft.store

import java.io.Closeable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.json.JsonBridge
import org.apache.spark.sql.execution.datasources.LocalScanBridge

/** Row-oriented JSON wire-format shims, API-compat with the reference's
  * transport: upload serializes `df.to_json(orient='records')`
  * (client.py:114) and download rebuilds a frame from JSON
  * (client.py:176). Internal storage is Parquet (see [[Store]]) — these
  * exist only so callers exchanging row-JSON with reference-era clients can
  * round-trip through this engine.
  *
  * Note the reference's wire format is lossy (timestamps → epoch millis,
  * SURVEY.md §1.1); `fromJsonRecords` therefore re-infers schema exactly
  * like `pd.DataFrame(response.json())` does.
  *
  * Both directions are sized so a client-sized frame costs at most one
  * Spark job. Down, `jsonRecordIterator` reads a client-sized parquet
  * read on the driver with no job at all (any other frame streams in
  * [[StreamChunkBytes]] chunks, one job each). Up, `fromJsonRecords`
  * decodes a driver-resident payload on the driver, so the store write
  * that consumes it is the upload's only job.
  */
object Wire {

  /** Estimated input bytes per partition of a [[toJsonRecords]] stream.
    * A streaming consumer (`toLocalIterator`) runs one job per partition
    * and holds one partition on the driver at a time, so this bounds
    * both: a client-sized frame is one partition, and a large one is cut
    * into pieces of about this size. It is also the bound under which
    * [[jsonRecordIterator]] reads on the driver with no job. The
    * estimate is the optimizer's, which for a parquet scan is on-disk
    * bytes; the JSON text of a partition is several times larger.
    */
  val StreamChunkBytes: Long = 16L << 20

  /** One JSON object per row, Spark-distributed (`df.toJSON`), in
    * ceil(estimated bytes / [[StreamChunkBytes]]) partitions — fewer than
    * the scan's splits, never more. Coalescing is a narrow merge of
    * adjacent splits, so row order is unchanged.
    * Timestamp columns are pre-converted to EPOCH MILLIS to match the
    * reference wire (`to_json(orient='records')` emits numeric epochs;
    * Spark's own toJSON would emit ISO-8601 strings, which a
    * reference-era consumer parsing numbers mis-types).
    */
  def toJsonRecords(df: DataFrame): Dataset[String] = {
    val wire = wireFrame(df)
    chunked(wire, estimatedBytes(wire)).toJSON
  }

  /** The records of [[toJsonRecords]], in its order and byte for byte,
    * as an iterator the caller must close. A frame within one
    * [[StreamChunkBytes]] chunk whose plan is a projection over a parquet
    * scan is read and encoded on the driver by
    * [[org.apache.spark.sql.execution.datasources.LocalScanBridge]]: no
    * Spark job, one file reader open at a time, and closing the iterator
    * closes it. Any other frame streams through `toLocalIterator`, one
    * job per chunk.
    */
  def jsonRecordIterator(df: DataFrame): Iterator[String] with Closeable = {
    val wire = wireFrame(df)
    val bytes = estimatedBytes(wire)
    val local = if (bytes <= StreamChunkBytes) LocalScanBridge.jsonRecords(wire) else None
    local.getOrElse(new Iterator[String] with Closeable {
      private val it = chunked(wire, bytes).toJSON.toLocalIterator()
      override def hasNext: Boolean = it.hasNext
      override def next(): String = it.next()
      override def close(): Unit = ()
    })
  }

  private def wireFrame(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, timestamp_diff, unix_millis}
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val wireCols = df.schema.fields.map { f =>
      f.dataType match {
        case TimestampType => unix_millis(col(f.name)).as(f.name)
        case TimestampNTZType =>
          // Naive timestamps epoch-encode AS IF UTC (pandas to_json treats
          // naive datetimes as UTC); a cast(TimestampType) would interpret
          // them in spark.sql.session.timeZone and shift the wire value on
          // any non-UTC session. timestamp_diff against an NTZ epoch
          // literal stays entirely in the naive domain — no zone math.
          timestamp_diff("MILLISECOND",
            lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 0)),
            col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(wireCols.toSeq: _*)
  }

  /** Driver-side estimate, no job — the same sizing as Store.load's
    * output files.
    */
  private def estimatedBytes(wire: DataFrame): BigInt =
    wire.queryExecution.optimizedPlan.stats.sizeInBytes

  /** `wire` in ceil(bytes / [[StreamChunkBytes]]) partitions. Past ~16M
    * chunks the input keeps its partitioning (coalesce only ever reduces).
    */
  private def chunked(wire: DataFrame, bytes: BigInt): DataFrame = {
    val chunks = (bytes + StreamChunkBytes - 1) / StreamChunkBytes
    if (chunks <= (1 << 24)) wire.coalesce(chunks.toInt.max(1)) else wire
  }

  /** Rebuild a DataFrame from row-JSON with schema inference — the
    * schema and rows of `spark.read.json(json)`, malformed records
    * included (they surface in the corrupt-record column).
    *
    * Two routes, one result. When `json` already sits on the driver (its
    * analyzed plan is a `LocalRelation`, as `createDataset(Seq(body))`
    * builds for an upload), it is decoded right there by
    * [[org.apache.spark.sql.catalyst.json.JsonBridge]] into a
    * `LocalRelation` frame: no inference job, and the consuming job does
    * not parse the JSON again. Any other input goes through
    * `spark.read.json`, which runs a schema-inference job and parses in
    * the consuming job's tasks.
    */
  def fromJsonRecords(spark: SparkSession, json: Dataset[String]): DataFrame =
    JsonBridge.readLocal(spark, json).getOrElse(spark.read.json(json))
}
