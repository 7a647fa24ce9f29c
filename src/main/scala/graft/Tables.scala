package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated fixture tables (TESTDATA.md).
  *
  * Each table is a single Parquet file `<sfDir>/<name>.parquet`. Columns are
  * pruned and predicates pushed down by the Parquet scan automatically, so
  * callers should express the full query declaratively and let Catalyst pick
  * the physical plan.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Driver-side exact row count from parquet footers — no Spark job.
    * Sums per-file record counts out of the same metadata planning
    * already touches, so callers can pass corpus-size hints (e.g.
    * [[graft.ops.Similarity.ivfTopK]]'s fit-sample fraction) without
    * paying a dedicated count() stage over a 100 TB table.
    */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val readFooter = graft.store.FileStats.footerReader(conf)
    var total = 0L
    // listStatus recursion, not listFiles(recursive): the latter loads
    // permissions eagerly — a forked `ls` per entry on the local FS.
    def walk(st: org.apache.hadoop.fs.FileStatus): Unit =
      // Hidden/temporary DIRECTORIES are skipped too (Spark's scan
      // ignores any path with a _/. component): a `_temporary` leftover
      // from an interrupted write would otherwise inflate the count or
      // crash on a partial file.
      if (st.isDirectory) {
        val dn = st.getPath.getName
        if (!dn.startsWith("_") && !dn.startsWith(".") || dn == root.getName)
          fs.listStatus(st.getPath).foreach(walk)
      } else {
        val n = st.getPath.getName
        if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
          total += graft.store.FileStats.rowCount(
            readFooter(org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)))
      }
    walk(fs.getFileStatus(root))
    total
  }

  /** `events.parquet`'s `ts` encoding has varied across fixture
    * generations — parquet TIMESTAMP(NANOS) (which Spark only reads via
    * the legacy nanos-as-long conf) and naive TIMESTAMP(MICROS) (which
    * Spark reads as TIMESTAMP_NTZ) have both been observed — so the
    * reader branches on the LOADED type and normalizes every encoding to
    * one contract: `ts` is a TimestampType instant whose epoch
    * microseconds equal the file's naive value treated as UTC (exactly
    * what DuckDB's `epoch_us` sees, so oracles agree in any session
    * timezone).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit, timestamp_diff, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // SESSION-GLOBAL side effect, unavoidable: nanosAsLong is a session
    // conf (no per-reader option exists) and must stay set while this
    // frame executes — later parquet reads in the session also map
    // nanos-typed columns to LongType. Harmless for non-nanos files.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        // Nanos-as-long. `ts div 1000`, not `ts / 1000`: `/` promotes to
        // double and epoch nanos exceed double's 2^53 exact-integer range
        // (off-by-1-µs bugs).
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // Naive micros. timestamp_diff against an NTZ epoch literal stays
        // in the naive domain — a cast(TimestampType) would re-interpret
        // the wall time in spark.sql.session.timeZone and shift every
        // instant on a non-UTC session (same rationale as Wire.scala).
        raw.withColumn("ts", timestamp_micros(timestamp_diff("MICROSECOND",
          lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 0)), col("ts"))))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts loaded as unsupported type $other")
    }
  }
}
