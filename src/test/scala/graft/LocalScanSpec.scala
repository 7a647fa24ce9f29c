package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LocalScanBridge, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.store.{Store, Wire}

/** The driver route of an in-cap read ([[Wire.jsonRecordIterator]] through
  * [[LocalScanBridge]]) against the job route it replaces
  * (`Wire.toJsonRecords(df).collect()`): the same records, in the same
  * order, byte for byte, with no Spark job; and the plans the bridge
  * must refuse.
  */
class LocalScanSpec extends SparkSpec {

  private def freshStore(): (Store, String) = {
    val root = Files.createTempDirectory("graft_scan_").toString
    (new Store(spark, root), root)
  }

  /** Every column type the wire carries, with nulls in three of them. */
  private def frame(from: Long, n: Long): DataFrame =
    spark.range(from, from + n).select(
      col("id"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 5).cast("int")).as("d"),
      when(col("id") % 7 === 0, lit(null)).otherwise(concat(lit("s-é"), col("id"))).as("s"),
      (col("id") * 1.5).as("x"),
      when(col("id") % 3 === 0, lit(null)).otherwise(col("id").cast("int")).as("n"),
      timestamp_seconds(col("id") * 3601 + 1700000000L).as("ts"),
      when(col("id") % 4 === 0, lit(null))
        .otherwise(timestamp_seconds(col("id") * 59 + 1600000000L).cast("timestamp_ntz")).as("ntz"),
      (col("id") % 2 === 0).as("b"),
      (col("id") / 7).cast("decimal(12,4)").as("dec"))

  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.ListenerBusTestBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val v = f
      org.apache.spark.ListenerBusTestBridge.drain(sc)
      (v, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Both routes over `df`: the driver route must be taken, run no job,
    * leave no reader open and give the job route's records exactly.
    */
  private def assertSameRecords(df: DataFrame, what: String): Seq[String] = {
    val byJob = Wire.toJsonRecords(df).collect().toSeq
    val readers = LocalScanBridge.openReaders
    val (byDriver, jobs) = jobsDuring {
      val it = Wire.jsonRecordIterator(df)
      assert(it.isInstanceOf[LocalScanBridge.Records], s"$what: took the job route")
      try it.toVector finally it.close()
    }
    assert(jobs == 0, s"$what: the driver route ran $jobs Spark jobs")
    assert(LocalScanBridge.openReaders == readers, s"$what: a reader was left open")
    assert(byDriver == byJob, s"$what: the routes differ")
    byJob
  }

  private def assertAllReads(store: Store, name: String, versions: Seq[String]): Unit = {
    assertSameRecords(store.get(name, useLast = true), s"$name _last")
    versions.foreach(v => assertSameRecords(store.get(name, externalKey = Some(v)), s"$name $v"))
    val all = assertSameRecords(store.get(name), s"$name all versions")
    assert(all.nonEmpty)
  }

  test("driver route == job route for Date-, ID-, Date×ID-keyed and unkeyed tables") {
    val (store, _) = freshStore()
    val keys = Seq(
      "by_date" -> Map("d" -> Store.KeyDate),
      "by_id" -> Map("id" -> Store.KeyId),
      "by_date_id" -> Map("d" -> Store.KeyDate, "id" -> Store.KeyId),
      "unkeyed" -> Map.empty[String, String])
    keys.foreach { case (name, k) =>
      store.load(frame(0, 300), name, k, externalKey = "v1")
      store.load(frame(2500, 200), name, k, externalKey = "v2")
      assertAllReads(store, name, Seq("v1", "v2"))
    }
    // The wire's epoch-millis conversions ran on both routes.
    val rec = Wire.toJsonRecords(store.get("unkeyed", externalKey = Some("v1"))).first()
    assert(rec.contains("\"ts\":1700000000000") && rec.contains("\"dec\":0.0000"), rec)
  }

  test("driver route == job route for accumulate reads missing a column, sidecars or mergeSchema") {
    val (store, root) = freshStore()
    store.load(frame(0, 50).drop("x", "ntz"), "acc", externalKey = "v1")
    store.load(frame(50, 50), "acc", externalKey = "v2")
    assertAllReads(store, "acc", Seq("v1", "v2"))
    // Tables written before schema sidecars read through mergeSchema.
    val tableDir = new Path(root, "acc")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(tableDir).filter(_.getPath.getName.startsWith(s"${Store.VersionCol}="))
      .flatMap(v => fs.listStatus(v.getPath))
      .filter(_.getPath.getName.startsWith(Store.SchemaFilePrefix))
      .foreach(s => fs.delete(s.getPath, false))
    assert(store.get("acc").schema.fieldNames.contains("ntz"))
    assertAllReads(store, "acc", Seq("v1", "v2"))
  }

  test("driver route == job route when a file is split, and for an empty version") {
    val (store, root) = freshStore()
    // Small row groups and a small open cost: the large file spans many
    // row groups and is cut into several splits, which the scan orders by
    // length among the other files' splits.
    spark.conf.set("parquet.block.size", "65536")
    spark.conf.set("spark.sql.files.openCostInBytes", "65536")
    try {
      val wide = spark.range(0, 20000).select(col("id"),
        sha2(col("id").cast("string"), 256).as("h1"), sha2(col("id").cast("string"), 384).as("h2"))
      store.load(wide, "split", externalKey = "v1")
      store.load(wide.limit(40), "split", externalKey = "v2")
      store.load(wide.limit(70), "split", externalKey = "v3")
      val all = store.get("split")
      val rel = all.queryExecution.optimizedPlan.collectLeaves().collectFirst {
        case lr: LogicalRelation => lr.relation.asInstanceOf[HadoopFsRelation]
      }.get
      val listing = rel.location.listFiles(Nil, Nil)
      val maxSplit = FilePartition.maxSplitBytes(spark, listing)
      val sizes = listing.flatMap(_.files.map(_.getLen))
      assert(sizes.size == 3 && sizes.max > 2 * maxSplit, s"$sizes vs $maxSplit")
      assert(assertSameRecords(all, "split all versions").size == 20110)
    } finally {
      spark.conf.unset("parquet.block.size")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
    // A version holding only a 0-row file.
    store.load(frame(0, 10), "empty", externalKey = "v1")
    frame(0, 10).limit(0).write.parquet(
      new Path(new Path(root, "empty"), s"${Store.VersionCol}=${Store.encodeVersion("v0")}").toString)
    assert(assertSameRecords(store.get("empty", externalKey = Some("v0")), "empty version").isEmpty)
  }

  test("a scan opens one reader at a time and closing it mid-stream closes that reader") {
    val (store, _) = freshStore()
    store.load(frame(0, 400), "t", Map("id" -> Store.KeyId), externalKey = "v1")
    val before = LocalScanBridge.openReaders
    val it = LocalScanBridge.jsonRecords(store.get("t")).get
    assert(LocalScanBridge.openReaders == before, "planning opens no file")
    it.next()
    assert(LocalScanBridge.openReaders == before + 1)
    it.close()
    assert(LocalScanBridge.openReaders == before && !it.hasNext)
    it.close()
    assert(LocalScanBridge.openReaders == before, "close is idempotent")
    // A drained scan has closed its last reader without close().
    val drained = LocalScanBridge.jsonRecords(store.get("t")).get
    assert(drained.size == 400 && LocalScanBridge.openReaders == before)
  }

  test("the bridge refuses filters, non-parquet relations, metadata columns and ignored files") {
    val (store, root) = freshStore()
    store.load(frame(0, 20).drop("ts", "ntz"), "t", externalKey = "v1")
    val df = store.get("t")
    assert(LocalScanBridge.jsonRecords(df).isDefined)
    assert(LocalScanBridge.jsonRecords(df.where(col("id") > 3)).isEmpty, "filter")
    val jsonDir = s"$root/as_json"
    df.write.json(jsonDir)
    assert(LocalScanBridge.jsonRecords(spark.read.json(jsonDir)).isEmpty, "json relation")
    val parquet = spark.read.parquet(s"$root/t")
    assert(LocalScanBridge.jsonRecords(parquet.select(col("id"))).isDefined)
    assert(LocalScanBridge.jsonRecords(
      parquet.select(col("id"), col("_metadata.file_path"))).isEmpty, "metadata column")
    Seq("spark.sql.files.ignoreCorruptFiles", "spark.sql.files.ignoreMissingFiles").foreach { k =>
      spark.conf.set(k, "true")
      try assert(LocalScanBridge.jsonRecords(store.get("t")).isEmpty, k)
      finally spark.conf.unset(k)
    }
  }
}
