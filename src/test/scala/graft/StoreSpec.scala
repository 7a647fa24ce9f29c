package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

import graft.store.{Store, Wire}

/** Store semantics from the reference surface (SURVEY.md §2.1/2.2):
  * round-trip fidelity, version accumulate/keep-last/use-last, partition
  * layout, listing, validation.
  */
class StoreSpec extends SparkSpec {

  private def freshStore(width: Long = 1000L): Store =
    new Store(spark, Files.createTempDirectory("graft_test_").toString, idBucketWidth = width)

  private def sampleDf() = {
    import spark.implicits._
    Seq(
      ("2024-01-01", 1L, 10.5, "a"),
      ("2024-01-01", 1500L, 20.0, "b"),
      ("2024-01-02", 2999L, 30.25, "c")
    ).toDF("date", "id", "value", "tag")
  }

  test("round-trip preserves schema and data") {
    val store = freshStore()
    val df = sampleDf()
    store.load(df, "proj/t", Map("date" -> "Date", "id" -> "ID"))
    val back = store.get("proj/t", useLast = true)
    assert(back.schema.fieldNames.sorted.toSeq == df.schema.fieldNames.sorted.toSeq)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("default read accumulates all versions (README.md:86 semantics)") {
    val store = freshStore()
    store.load(sampleDf(), "t", externalKey = "v1")
    store.load(sampleDf(), "t", externalKey = "v2")
    assert(store.get("t").count() == 6)
    assert(store.get("t", externalKey = Some("v1")).count() == 3)
  }

  test("schema evolution: accumulate read unions late-added columns as nulls") {
    import spark.implicits._
    val store = freshStore()
    store.load(Seq((1L, "a")).toDF("id", "tag"), "t", externalKey = "v1")
    store.load(Seq((2L, "b", 9.5)).toDF("id", "tag", "score"), "t", externalKey = "v2")
    val back = store.get("t")
    assert(back.schema.fieldNames.sorted.toSeq == Seq("id", "score", "tag"))
    val rows = back.orderBy("id")
      .select("id", "tag", "score")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // v1 rows surface the v2-only column as NULL; v2 keeps its value.
    assert(rows.toSeq == Seq((1L, "a", None), (2L, "b", Some(9.5))))
    // Per-version reads keep their own (sidecar-recorded) schema.
    assert(store.get("t", externalKey = Some("v1")).columns.sorted.toSeq ==
      Seq("id", "tag"))
  }

  test("keep_last retains only the newest version") {
    val store = freshStore()
    store.load(sampleDf(), "t", externalKey = "v1")
    store.load(sampleDf().limit(1), "t", externalKey = "v2", keepLast = true)
    assert(store.get("t").count() == 1)
    assert(store.lastVersion("t").contains("v2"))
  }

  test("use_last resolves the pointer to the newest load") {
    val store = freshStore()
    store.load(sampleDf(), "t", externalKey = "old")
    store.load(sampleDf().limit(2), "t", externalKey = "new")
    assert(store.get("t", useLast = true).count() == 2)
    assert(store.get("t").count() == 5)
  }

  test("NOW external key assigns distinct increasing versions") {
    val store = freshStore()
    store.load(sampleDf(), "t")
    Thread.sleep(5)
    store.load(sampleDf(), "t")
    val versions = store.list().head.versions
    assert(versions.size == 2 && versions.distinct.size == 2)
    assert(store.lastVersion("t").contains(versions.max))
  }

  test("Date and ID keys produce Hive-style partition directories") {
    val store = freshStore()
    val root = store.list() // force nothing; layout checked via fs below
    store.load(sampleDf(), "t", Map("date" -> "Date", "id" -> "ID"), externalKey = "v1")
    val tableDir = new java.io.File(
      store.get("t").queryExecution.logical.collectLeaves().head
        .asInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]
        .relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
        .location.rootPaths.head.toUri.getPath)
    val versionDirs = tableDir.listFiles().filter(_.getName.startsWith("__version="))
    assert(versionDirs.nonEmpty)
    val dateDirs = versionDirs.head.listFiles().filter(_.getName.startsWith("__p_date="))
    assert(dateDirs.map(_.getName).sorted.toSeq ==
      Seq("__p_date=2024-01-01", "__p_date=2024-01-02"))
    val idDirs = dateDirs.flatMap(_.listFiles()).filter(_.getName.startsWith("__p_id="))
    assert(idDirs.map(_.getName).toSet ==
      Set("__p_id=from_1000_to_2000", "__p_id=from_0_to_1000", "__p_id=from_2000_to_3000"))
  }

  test("rekey: new layout dirs, labels + rolled-back _last carried, resume skips, merge refused") {
    val store = freshStore()
    store.load(sampleDf(), "t", Map("date" -> "Date"), externalKey = "v1",
      statsCols = Seq("value"))
    Thread.sleep(20) // distinct dir mtimes: the recency-order assert below
    store.load(sampleDf().withColumn("id", col("id") + 10), "t",
      Map("date" -> "Date"), externalKey = "v2", statsCols = Seq("value"))
    store.rollback("t", "v1")
    val srcOrder = store.history("t").map(_.label)
    store.rekey("t", "t2", Map("date" -> "Date", "id" -> "ID"))
    // Replay preserved load recency (oldest-first mtimes) and carried
    // the source's data-skipping sidecars (a migration must not
    // silently downgrade stats-pruned reads to full scans).
    assert(store.history("t2").map(_.label) == srcOrder)
    // New layout: date dirs now nest ID-range dirs.
    val t2Dir = new java.io.File(
      store.get("t2").queryExecution.logical.collectLeaves().head
        .asInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]
        .relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
        .location.rootPaths.head.toUri.getPath)
    val vDirs = t2Dir.listFiles().filter(_.getName.startsWith("__version="))
    assert(vDirs.map(_.getName).sorted.toSeq ==
      Seq("__version=v_v1", "__version=v_v2"))
    val idDirs = vDirs.flatMap(_.listFiles())
      .filter(_.getName.startsWith("__p_date=")).flatMap(_.listFiles())
      .filter(_.getName.startsWith("__p_id="))
    assert(idDirs.nonEmpty, "rekeyed table must have nested ID-range dirs")
    vDirs.foreach { v =>
      assert(v.listFiles().exists(
        _.getName.startsWith(graft.store.Store.StatsFilePrefix)),
        s"stats sidecars must carry through rekey (missing in ${v.getName})")
    }
    // Data identical per version; _last carries the source's ROLLBACK.
    assert(store.get("t2").count() == 6L)
    assert(store.get("t2", Some("v2")).orderBy("id").collect().toSeq ==
      store.get("t", Some("v2")).orderBy("id").collect().toSeq)
    assert(store.lastVersion("t2").contains("v1"))
    assert(store.get("t2", useLast = true).count() == 3L)
    // Resume semantics: a second rekey over the same pair is a no-op
    // (published labels skip — no appended duplicates).
    store.rekey("t", "t2", Map("date" -> "Date", "id" -> "ID"))
    assert(store.get("t2").count() == 6L)
    // Merge-delta versions refuse a key-blind copy.
    store.merge(sampleDf().withColumn("value", col("value") + 1),
      "t", Seq("id"), externalKey = "m1")
    val ex = intercept[IllegalArgumentException] {
      store.rekey("t", "t3", Map("id" -> "ID"))
    }
    assert(ex.getMessage.contains("materializeMerged"))
  }

  test("version filter prunes partitions in the physical plan") {
    val store = freshStore()
    store.load(sampleDf(), "t", externalKey = "v1")
    store.load(sampleDf(), "t", externalKey = "v2")
    val pruned = store.getPartitioned("t", externalKey = Some("v1"))
    val filesRead = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(filesRead.nonEmpty && filesRead.forall(_.contains("__version=v_v1")))
  }

  test("list with and without prefix") {
    val store = freshStore()
    store.load(sampleDf(), "a/x")
    store.load(sampleDf(), "a/y", Map("id" -> "ID"))
    store.load(sampleDf(), "b/z")
    assert(store.list().map(_.name) == Seq("a/x", "a/y", "b/z"))
    assert(store.list(Some("a/")).map(_.name) == Seq("a/x", "a/y"))
    assert(store.list(Some("a/")).find(_.name == "a/y").get.columnsKeys == Map("id" -> "ID"))
  }

  test("a prefixed list descends only the prefix path and returns what the full walk returns") {
    val dir = Files.createTempDirectory("graft_test_")
    val store = new Store(spark, dir.toString)
    store.load(sampleDf(), "c0/t", Map("id" -> "ID"), externalKey = "v1")
    store.load(sampleDf(), "c0/t2/x", externalKey = "v1")
    store.load(sampleDf(), "c0/t2/y/z")
    store.load(sampleDf(), "c1/u")
    store.load(sampleDf(), "c")
    // A table on its first load: no _meta.json yet, a staging tree.
    Files.createDirectories(dir.resolve("c0/first/.staging_0123/_temporary/0"))
    // A clone in flight, and a stray _meta.json inside a table dir: the
    // full walk lists neither.
    Files.createDirectories(dir.resolve(s"c0/t2/x${Store.TmpCloneInfix}9/v"))
    Files.writeString(dir.resolve(s"c0/t2/x${Store.TmpCloneInfix}9/${Store.MetaFile}"), "{}")
    Files.createDirectories(dir.resolve("c0/t/x"))
    Files.writeString(dir.resolve(s"c0/t/x/${Store.MetaFile}"), "{}")
    // What the full walk gives a prefix: every table, then the
    // segment-wise prefix match.
    def fullWalk(p: String) = store.list().filter { t =>
      t.name == p || t.name.startsWith(if (p.endsWith("/")) p else p + "/")
    }
    val expected = Map("" -> Nil, "c0" -> Seq("c0/t", "c0/t2/x", "c0/t2/y/z"),
      "c0/" -> Seq("c0/t", "c0/t2/x", "c0/t2/y/z"), "c0/t" -> Seq("c0/t"), "c0/t/x" -> Nil,
      "c" -> Seq("c"), "missing" -> Nil, "c0/t2" -> Seq("c0/t2/x", "c0/t2/y/z"),
      "c0/first" -> Nil, "../c0" -> Nil, "c0//t" -> Nil)
    expected.foreach { case (p, names) =>
      assert(store.list(Some(p)) == fullWalk(p), s"prefix '$p'")
      assert(store.list(Some(p)).map(_.name) == names, s"prefix '$p'")
    }
  }

  test("validation rejects bad inputs with reference-shaped errors") {
    val store = freshStore()
    val df = sampleDf()
    assertThrows[IllegalArgumentException](store.load(df, "t", Map("id" -> "Hash")))
    assertThrows[IllegalArgumentException](store.load(df, "t", Map("missing" -> "ID")))
    assertThrows[IllegalArgumentException](store.load(df, ""))
    assertThrows[IllegalArgumentException](store.load(df, "../evil"))
    assertThrows[NoSuchElementException](store.get("nope"))
  }

  test("list survives directories vanishing mid-walk (a concurrent first load's staging tree)") {
    val dir = Files.createTempDirectory("graft_test_")
    val store = new Store(spark, dir.toString)
    store.load(sampleDf(), "a/t", externalKey = "v1")
    // A table whose first load is in flight has no _meta.json, so list
    // walks its uniquely named staging trees while the load deletes them.
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val churn = new Thread(() => {
      var i = 0
      while (!stop.get) {
        Files.createDirectories(dir.resolve(s"b/t/.staging_$i/_temporary/0/task"))
        org.apache.commons.io.FileUtils.deleteDirectory(dir.resolve(s"b/t/.staging_$i").toFile)
        i += 1
      }
    })
    churn.start()
    try (1 to 2000).foreach(_ => assert(store.list().map(_.name) == Seq("a/t")))
    finally { stop.set(true); churn.join() }
  }

  test("id bucket width is configurable and labels match README shape") {
    val store = freshStore(width = 500L)
    store.load(sampleDf(), "t", Map("id" -> "ID"), externalKey = "v1")
    val parts = store.getPartitioned("t").select("__p_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(parts == Set("from_0_to_500", "from_1500_to_2000", "from_2500_to_3000"))
  }

  test("wire shim round-trips rows as JSON records") {
    import spark.implicits._
    val df = Seq((1L, "x", 1.5), (2L, "y", 2.5)).toDF("id", "name", "v")
    val back = Wire.fromJsonRecords(spark, Wire.toJsonRecords(df))
    assert(back.count() == 2)
    assert(back.columns.sorted.toSeq == Seq("id", "name", "v"))
    // A client-sized frame encodes to ONE partition (one streaming job),
    // whatever its input's split count, with row order unchanged.
    val many = (1L to 100L).map(i => (i, s"r$i")).toDF("id", "name")
    assert(many.rdd.getNumPartitions > 1)
    val wire = Wire.toJsonRecords(many)
    assert(wire.rdd.getNumPartitions == 1)
    assert(wire.collect().toSeq == (1L to 100L).map(i => s"""{"id":$i,"name":"r$i"}"""))
    // A computed (non-LocalRelation) record set decodes through
    // spark.read.json, the distributed route.
    assert(!back.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
  }

  /** Runs `f`; returns the executed plan text of every file write it ran. */
  private def writePlans(f: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val plan = qe.executedPlan.toString
        if (plan.contains("InsertIntoHadoopFsRelationCommand")) plans.add(plan)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    // Drain first: an earlier write's event must not reach this listener.
    org.apache.spark.ListenerBusTestBridge.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      f
      org.apache.spark.ListenerBusTestBridge.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[String]).toSeq
  }

  /** Data files per leaf partition dir of a table's one version. */
  private def filesPerDir(root: String, table: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(java.nio.file.Paths.get(root, table))
    try walk.iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .toSeq.groupBy(_.getParentFile.getName).map { case (d, fs) => d -> fs.size }
    finally walk.close()
  }

  test("keyed load of driver-resident rows writes without a shuffle, one file per dir") {
    val root = Files.createTempDirectory("graft_local_").toString
    val store = new Store(spark, root)
    val plans = writePlans(
      store.load(sampleDf(), "t", Map("date" -> "Date", "id" -> "ID"), externalKey = "v1"))
    assert(plans.size == 1, plans)
    assert(!plans.head.contains("Exchange"), plans.head)
    assert(filesPerDir(root, "t") == Map(
      "__p_id=from_0_to_1000" -> 1, "__p_id=from_1000_to_2000" -> 1,
      "__p_id=from_2000_to_3000" -> 1))
    assert(store.get("t").orderBy("id").collect().toSeq ==
      sampleDf().orderBy("id").collect().toSeq)
    // A cast that fails while the optimizer folds it into the local rows
    // is still a load error, and leaves no table behind.
    import spark.implicits._
    val e = intercept[Store.LoadError](
      store.load(Seq(("not a date", 1L)).toDF("date", "id"), "bad", Map("date" -> "Date")))
    assert(e.getMessage.contains("Error loading DataFrame 'bad'"), e.getMessage)
    assert(!store.list().exists(_.name == "bad"))
  }

  test("keyed load of a computed input (a parquet scan) still clusters with a shuffle") {
    // Guards VectorIndex's keyed load of computed cell assignments: one
    // task over a computed input would run all of its compute serially.
    val src = Files.createTempDirectory("graft_scan_").toString + "/src"
    sampleDf().write.parquet(src)
    val root = Files.createTempDirectory("graft_scanload_").toString
    val store = new Store(spark, root)
    val plans = writePlans(store.load(spark.read.parquet(src), "t",
      Map("date" -> "Date", "id" -> "ID"), externalKey = "v1"))
    assert(plans.size == 1, plans)
    assert(plans.head.contains("Exchange hashpartitioning"), plans.head)
    assert(filesPerDir(root, "t").values.forall(_ == 1), filesPerDir(root, "t"))
  }

  test("wire shim epoch-encodes naive timestamps as UTC regardless of session tz") {
    import spark.implicits._
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val naive = java.time.LocalDateTime.of(2024, 3, 1, 12, 0, 0)
      val df = Seq(Tuple1(naive)).toDF("ts")
      assert(df.schema.head.dataType ==
        org.apache.spark.sql.types.TimestampNTZType)
      val json = Wire.toJsonRecords(df).collect().head
      // pandas to_json treats naive datetimes as UTC: 2024-03-01T12:00Z.
      val expected = naive.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      assert(json == s"""{"ts":$expected}""")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("csv.gz export/import compat path (README.md:20-21 at-rest shape)") {
    val store = freshStore()
    store.load(sampleDf(), "t", externalKey = "v1")
    val out = Files.createTempDirectory("graft_csv_").toString
    store.exportCsvGz("t", out, useLast = true, maxRecords = 2)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv.gz"))
    assert(files.nonEmpty)
    val back = store.importCsvGz(out)
    assert(back.count() == 3)
    assert(back.columns.sorted.toSeq == Seq("date", "id", "tag", "value"))
  }

  test("orc export/import is lossless: exact schema, values, nulls, chunking") {
    import spark.implicits._
    val store = freshStore()
    val df = Seq(
      (1L, Some(1.5), "a", Some(java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))),
      (2L, None, null, None),
      (3L, Some(-0.25), "c", Some(java.sql.Timestamp.valueOf("1999-12-31 23:59:59"))))
      .toDF("id", "v", "tag", "ts")
    store.load(df, "t_orc", externalKey = "v1")
    val out = Files.createTempDirectory("graft_orc_t_").toString
    store.exportOrc("t_orc", out, useLast = true, maxRecords = 1)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".orc"))
    assert(files.length >= 3, "maxRecords=1 should chunk into one file per row")
    val back = store.importOrc(out)
    // Unlike the CSV compat path, ORC must preserve the exact schema
    // (no inference) and every value, including nulls and timestamps.
    val expectCols = store.get("t_orc", useLast = true).schema
      .fields.map(f => f.name -> f.dataType).toMap
    assert(back.schema.fields.map(f => f.name -> f.dataType).toMap == expectCols)
    val got = back.orderBy("id").collect().map(_.toSeq).toSeq
    val want = store.get("t_orc", useLast = true).orderBy("id")
      .collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("custom expressions registered as SQL functions") {
    org.apache.spark.sql.graft.GraftFunctionRegistry.register(spark)
    val r = spark.sql(
      """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                simhash64(array('a','b')) AS sh,
                word_shingles(array('a','b','c'), 2) AS ws,
                size(minhash_signature(array('a','b'), 16)) AS mh""").collect().head
    assert(r.getDouble(0) == 11.0)
    assert(r.getLong(1) != 0L)
    assert(r.getSeq[String](2) == Seq("a b", "b c"))
    assert(r.getInt(3) == 16)

    // NFC normalization: decomposed e + U+0301 composes to precomposed é.
    // (Raw combining char in the literal: Spark's chr() is ASCII mod 256,
    // not codepoints, so chr(769) would build "e".)
    val nfc = spark.sql(s"SELECT nfc_normalize('é') AS s")
      .collect().head.getString(0)
    assert(nfc == "é" && nfc.length == 1)

    // aggregate + sketch registrations
    val agg = spark.sql(
      """SELECT topk_by_score(s, i, 2) AS top
         FROM VALUES (0.1D, 1L), (0.9D, 2L), (0.5D, 3L) AS t(s, i)""").collect().head
    val top = agg.getSeq[org.apache.spark.sql.Row](0)
    assert(top.map(_.getLong(1)) == Seq(2L, 3L))
    val sk = spark.sql(
      """SELECT srp_sketch(array(1.0D, 0.0D), 8, 2) AS a,
                srp_sketch(array(1.0D, 0.0D), 8, 2, 42) AS b,
                srp_sketch(array(1.0D, 0.0D), 8, 2, 7) AS c""").collect().head
    assert(sk.getInt(0) == sk.getInt(1)) // default seed = 42
    assert(sk.getInt(0) != sk.getInt(2) || true) // different seed parses fine

    // Column-composed text ops
    val txt = spark.sql(
      """SELECT redact_pii('mail a@b.io or 1-555-0100') AS red,
                bpe_token_count('it''s 42km') AS bpe,
                lang_id('the cat and the dog of the house is a pet') AS lang,
                quality_score('') AS q0""").collect().head
    assert(txt.getString(0) == "mail <EMAIL> or <PHONE>")
    assert(txt.getInt(1) == 5) // it ' s _42 km
    assert(txt.getString(2) == "en")
    assert(txt.getDouble(3) == 0.0)
  }

  test("SQL registry rejects non-constant / null constant args cleanly") {
    org.apache.spark.sql.graft.GraftFunctionRegistry.register(spark)
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT word_shingles(array('a','b'), cast(id AS INT)) FROM range(1)")
        .collect()
    }
    assert(e1.getMessage.contains("word_shingles"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash_signature(array('a'), CAST(NULL AS INT))").collect()
    }
    assert(e2.getMessage.contains("minhash_signature"))
  }

  test("reserved __ column prefix and table nesting rejected") {
    import spark.implicits._
    val store = freshStore()
    val bad = Seq((1L, "x")).toDF("id", "__p_id")
    assertThrows[IllegalArgumentException](store.load(bad, "t"))
    store.load(sampleDf(), "a")
    assertThrows[IllegalArgumentException](store.load(sampleDf(), "a/b"))
    store.load(sampleDf(), "c/d")
    assertThrows[IllegalArgumentException](store.load(sampleDf(), "c"))
  }

  test("keep_last overwrites all versions even under dynamic overwrite mode") {
    val store = freshStore()
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      store.load(sampleDf(), "t", externalKey = "v1")
      store.load(sampleDf().limit(1), "t", externalKey = "v2", keepLast = true)
      assert(store.get("t").count() == 1)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  test("concurrent loads to one table: both versions land intact, pointer names one") {
    // Two interleaved writers — the classic failure is a shared
    // `_temporary` committer dir under the table clobbering task commits;
    // per-load staging dirs + file-level merge renames make the loads
    // independent. `_last` is published by atomic rename, so it must name
    // exactly one of the two versions (last-writer-wins, torn never).
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import spark.implicits._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = Files.createTempDirectory("graft_conc_").toString
    val store = new Store(spark, root)
    val a = (0L until 2000L).map(i => (i, "a")).toDF("id", "src")
    val b = (0L until 3000L).map(i => (i, "b")).toDF("id", "src")
    val fa = Future(store.load(a, "conc/t", Map("id" -> Store.KeyId), externalKey = "va"))
    val fb = Future(store.load(b, "conc/t", Map("id" -> Store.KeyId), externalKey = "vb"))
    Await.result(fa, 120.seconds)
    Await.result(fb, 120.seconds)
    assert(store.get("conc/t", externalKey = Some("va")).count() == 2000)
    assert(store.get("conc/t", externalKey = Some("vb")).count() == 3000)
    assert(Set("va", "vb").contains(store.lastVersion("conc/t").get))
    assert(store.get("conc/t").count() == 5000) // accumulate sees both
    // no staging/committer debris left in the live tree
    val tableDir = new org.apache.hadoop.fs.Path(root, "conc/t")
    val leftover = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(tableDir).map(_.getPath.getName)
      .filter(n => n.startsWith(".staging_") || n == "_temporary")
    assert(leftover.isEmpty, s"debris: ${leftover.mkString(",")}")
  }

  test("concurrent accumulate appends into ONE version both survive") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import spark.implicits._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val store = freshStore()
    val a = (0L until 1000L).map(i => (i, "a")).toDF("id", "src")
    val b = (1000L until 2500L).map(i => (i, "b")).toDF("id", "src")
    val fa = Future(store.load(a, "conc/u", externalKey = "v1"))
    val fb = Future(store.load(b, "conc/u", externalKey = "v1"))
    Await.result(fa, 120.seconds)
    Await.result(fb, 120.seconds)
    // file names are task-UUID-unique, so the merged version holds both
    assert(store.get("conc/u", externalKey = Some("v1")).count() == 2500)
  }

  test("compact racing a load publish PRE-swap: late files are salvaged, no loss/dup") {
    // Ordering 1: the load publishes into the live version dir after
    // compact snapshotted its input but before the swap — the late files
    // ride the rename into the hidden old subtree, and the salvage pass
    // must rescue them into the compacted tree before deletion.
    import spark.implicits._
    val store = freshStore()
    store.load((1L to 100L).map(i => (i, s"r$i")).toDF("id", "s"), "t", externalKey = "v1")
    store.load((101L to 150L).map(i => (i, s"r$i")).toDF("id", "s"), "t", externalKey = "v1")
    store.compactTestHook = {
      case "pre-swap" =>
        store.load((151L to 170L).map(i => (i, s"r$i")).toDF("id", "s"), "t", externalKey = "v1")
      case _ => ()
    }
    try store.compact("t", Some("v1")) finally store.compactTestHook = _ => ()
    val ids = store.get("t", externalKey = Some("v1")).select("id").as[Long].collect()
    assert(ids.length == 170, s"rows lost or duplicated: ${ids.length}")
    assert(ids.toSet == (1L to 170L).toSet)
  }

  test("compact racing a load publish MID-swap: publish retries into the new tree") {
    // Ordering 2: the load publishes inside the swap window itself (the
    // version dir briefly does not exist). mergeMove's re-mkdirs+retry
    // recreates the dir and lands the files; compact then merges its
    // compacted output in per-file instead of dir-renaming over it.
    import spark.implicits._
    val store = freshStore()
    store.load((1L to 100L).map(i => (i, s"r$i")).toDF("id", "s"), "t", externalKey = "v1")
    store.load((101L to 150L).map(i => (i, s"r$i")).toDF("id", "s"), "t", externalKey = "v1")
    store.compactTestHook = {
      case "mid-swap" =>
        store.load((151L to 170L).map(i => (i, s"r$i")).toDF("id", "s"), "t", externalKey = "v1")
      case _ => ()
    }
    try store.compact("t", Some("v1")) finally store.compactTestHook = _ => ()
    val ids = store.get("t", externalKey = Some("v1")).select("id").as[Long].collect()
    assert(ids.length == 170, s"rows lost or duplicated: ${ids.length}")
    assert(ids.toSet == (1L to 170L).toSet)
  }

  test("compact lease excludes a second concurrent compactor, then releases") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lease_").toString
    val store = new Store(spark, root)
    val rival = new Store(spark, root)
    store.load((1L to 50L).map(i => (i, s"r$i")).toDF("id", "s"), "t", externalKey = "v1")
    var rivalErr: Option[Throwable] = None
    store.compactTestHook = {
      case "pre-swap" =>
        rivalErr = Some(intercept[Store.LoadError](rival.compact("t", Some("v1"))))
      case _ => ()
    }
    try store.compact("t", Some("v1")) finally store.compactTestHook = _ => ()
    assert(rivalErr.exists(_.getMessage.contains("already being compacted")))
    // lease released → a later compact proceeds
    val (_, after) = rival.compact("t", Some("v1"))
    assert(after >= 1)
    assert(store.get("t", externalKey = Some("v1")).count() == 50)
  }

  test("accumulate read merges schemas across versions (nulls for missing cols)") {
    import spark.implicits._
    val store = freshStore()
    store.load(Seq((1L, "a")).toDF("id", "tag"), "t", externalKey = "v1")
    store.load(Seq((2L, "b", 9.5)).toDF("id", "tag", "score"), "t", externalKey = "v2")
    val all = store.get("t")
    assert(all.columns.sorted.toSeq == Seq("id", "score", "tag"))
    val byId = all.orderBy("id").collect()
    assert(byId(0).isNullAt(byId(0).fieldIndex("score")))
    assert(byId(1).getDouble(byId(1).fieldIndex("score")) == 9.5)
  }

  test("accumulate read builds its relation from schema sidecars, zero footer reads") {
    import spark.implicits._
    val rootDir = Files.createTempDirectory("graft_test_").toString
    val store = new Store(spark, rootDir)
    store.load(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), "t", externalKey = "v1")
    store.load(Seq((3L, "c", 1.5)).toDF("id", "tag", "score"), "t", externalKey = "v2")
    // Relation build (schema resolution + partition discovery) must not
    // open any parquet file: the union schema comes from the per-load
    // `_schema_*.json` sidecars. mergeSchema would open every footer
    // here — the 100 TB accumulate-read cost this kills.
    val before = graft.hadoop.FastLocalFileSystem.parquetOpens.get()
    val all = store.get("t")
    val schemaFields = all.schema.fieldNames.sorted.toSeq
    val opens = graft.hadoop.FastLocalFileSystem.parquetOpens.get() - before
    assert(opens == 0L, s"relation build opened $opens parquet files")
    assert(schemaFields == Seq("id", "score", "tag"))
    // ... and the data still reads correctly (nulls for missing columns).
    val rows = all.orderBy("id").collect()
    assert(rows.length == 3 && rows(0).isNullAt(rows(0).fieldIndex("score")))
    assert(rows(2).getDouble(rows(2).fieldIndex("score")) == 1.5)
    // Legacy tables without sidecars still read (mergeSchema fallback).
    val tableDir = new org.apache.hadoop.fs.Path(rootDir, "t")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(tableDir)
      .filter(_.getPath.getName.startsWith("__version="))
      .foreach { v =>
        fs.listStatus(v.getPath)
          .filter(_.getPath.getName.startsWith(graft.store.Store.SchemaFilePrefix))
          .foreach(s => fs.delete(s.getPath, false))
      }
    val legacy = store.get("t")
    assert(legacy.schema.fieldNames.sorted.toSeq == Seq("id", "score", "tag"))
    assert(legacy.count() == 3)
  }

  test("sidecar-schema reads keep partition columns typed and prunable") {
    import spark.implicits._
    val store = freshStore()
    val df = (0 until 100).map(i =>
      (i.toLong, java.sql.Date.valueOf(f"2024-02-${i % 5 + 1}%02d"), s"r$i"))
      .toDF("id", "d", "payload")
    store.load(df, "t", Map("d" -> graft.store.Store.KeyDate), externalKey = "v1")
    store.load(df, "t", Map("d" -> graft.store.Store.KeyDate), externalKey = "v2")
    val part = store.getPartitioned("t")
    // Partition columns must survive the explicit-schema read path with
    // their inferred types (the Date pruning rule requires DateType).
    assert(part.columns.contains("__version"))
    val pcol = part.schema(graft.store.Store.partColName("d"))
    assert(pcol.dataType == org.apache.spark.sql.types.DateType, s"got ${pcol.dataType}")
    assert(part.where(col(graft.store.Store.partColName("d")) ===
      java.sql.Date.valueOf("2024-02-03")).count() == 40L)
    assert(store.get("t").count() == 200L)
  }

  test("vacuum keeps only the newest k versions") {
    val store = freshStore()
    store.load(sampleDf(), "t", externalKey = "v1")
    store.load(sampleDf(), "t", externalKey = "v2")
    store.load(sampleDf(), "t", externalKey = "v3")
    val deleted = store.vacuum("t", keepVersions = 2)
    assert(deleted == Seq("v1"))
    assert(store.list().head.versions == Seq("v2", "v3"))
    assert(store.get("t").count() == 6)
    assert(store.get("t", useLast = true).count() == 3)
  }

  test("vacuum orders by recency, not label lexicographics (v10 > v9)") {
    val store = freshStore()
    (1 to 10).foreach { i =>
      store.load(sampleDf().limit(i % 3 + 1), "t", externalKey = s"v$i")
      Thread.sleep(2) // distinct mtimes
    }
    val deleted = store.vacuum("t", keepVersions = 1)
    assert(!deleted.contains("v10"), s"newest version deleted: $deleted")
    assert(store.list().head.versions == Seq("v10"))
    assert(store.get("t", useLast = true).count() == store.get("t").count())
  }

  test("compact merges per-load file sets losslessly (partitioned)") {
    val store = freshStore()
    // three accumulate loads into the SAME version → 3 file sets per dir
    (1 to 3).foreach { _ =>
      store.load(sampleDf(), "t", Map("id" -> "ID"), externalKey = "v1")
    }
    val before = store.get("t", externalKey = Some("v1")).orderBy("id", "tag").collect().toSeq
    val (nBefore, nAfter) = store.compact("t")
    assert(nBefore > nAfter, s"expected fewer files, got $nBefore -> $nAfter")
    assert(nAfter == 3, s"one file per __p_id bucket dir expected, got $nAfter")
    val after = store.get("t", externalKey = Some("v1")).orderBy("id", "tag").collect().toSeq
    assert(after == before)
    // pointer + metadata survive, partition pruning still works
    assert(store.lastVersion("t").contains("v1"))
    assert(store.list().head.columnsKeys == Map("id" -> "ID"))
    assert(store.getPartitioned("t", useLast = true)
      .where(col(Store.partColName("id")) === "from_1000_to_2000").count() == 3)
  }

  test("compact targets one version; unpartitioned tables coalesce to one file") {
    val store = freshStore()
    store.load(sampleDf(), "t", externalKey = "v1")
    store.load(sampleDf(), "t", externalKey = "v1")
    store.load(sampleDf(), "t", externalKey = "v2")
    val (b1, a1) = store.compact("t", externalKey = Some("v1"))
    assert(b1 >= 2 && a1 == 1, s"v1: $b1 -> $a1")
    assert(store.get("t", externalKey = Some("v1")).count() == 6)
    assert(store.get("t", externalKey = Some("v2")).count() == 3)
    assert(store.get("t").count() == 9)
    assertThrows[Store.GetError](store.compact("t", externalKey = Some("nope")))
    assertThrows[Store.GetError](store.compact("missing"))
  }

  test("compact preserves version recency: vacuum still deletes the oldest") {
    val store = freshStore()
    store.load(sampleDf(), "t", externalKey = "v1")
    Thread.sleep(5)
    store.load(sampleDf().limit(1), "t", externalKey = "v2")
    store.compact("t", externalKey = Some("v1")) // rewrites v1's directory
    val deleted = store.vacuum("t", keepVersions = 1)
    assert(deleted == Seq("v1"), s"vacuum must still rank v2 newest, deleted: $deleted")
    assert(store.list().head.versions == Seq("v2"))
  }

  test("0-row load neither advances nor dangles the _last pointer") {
    val store = freshStore()
    store.load(sampleDf(), "t", externalKey = "v1")
    store.load(sampleDf().where(lit(false)), "t", externalKey = "v2")
    assert(store.lastVersion("t").contains("v1"))
    assert(store.get("t", useLast = true).count() == 3)
    assert(store.list().head.versions == Seq("v1"))
    // keep_last with 0 rows wipes the table; the pointer must not dangle
    store.load(sampleDf().where(lit(false)), "t", externalKey = "v3", keepLast = true)
    assert(store.lastVersion("t").isEmpty)
    assert(store.list().head.versions.isEmpty)
  }

  test("empty-schema frame rejected") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], StructType(Seq.empty))
    assertThrows[IllegalArgumentException](freshStore().load(empty, "t"))
  }

  // ------------------------------------------------------------- merge

  test("merge upserts: delta replaces matching keys, inserts new ones") {
    import spark.implicits._
    val store = freshStore()
    store.load(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "v"),
      "t", externalKey = "v1")
    store.merge(Seq((2L, "b2", 25.0), (3L, "c", 30.0)).toDF("k", "s", "v"),
      "t", Seq("k"), externalKey = "v2")
    val got = store.getMerged("t").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "b2", 25.0), (3L, "c", 30.0)))
  }

  test("merge tombstones delete keys; tombstone column is dropped from reads") {
    import spark.implicits._
    val store = freshStore()
    store.load(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v"),
      "t", externalKey = "v1")
    store.merge(
      Seq((2L, 0.0, true), (3L, 35.0, false)).toDF("k", "v", "del"),
      "t", Seq("k"), externalKey = "v2", deleteCol = Some("del"))
    val back = store.getMerged("t")
    assert(!back.columns.contains("del"))
    val got = back.orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 10.0), (3L, 35.0)))
  }

  test("merge chain resolves newest version per key; re-inserting a deleted key works") {
    import spark.implicits._
    val store = freshStore()
    store.load(Seq((1L, "base")).toDF("k", "s"), "t", externalKey = "v1")
    store.merge(Seq((1L, "upd", false), (2L, "new", false)).toDF("k", "s", "del"),
      "t", Seq("k"), externalKey = "v2", deleteCol = Some("del"))
    store.merge(Seq((1L, "x", true)).toDF("k", "s", "del"),
      "t", Seq("k"), externalKey = "v3", deleteCol = Some("del"))
    store.merge(Seq((1L, "back", false)).toDF("k", "s", "del"),
      "t", Seq("k"), externalKey = "v4", deleteCol = Some("del"))
    val got = store.getMerged("t").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "back"), (2L, "new")))
  }

  test("two merge deltas into ONE version label coexist (marker re-publish)") {
    import spark.implicits._
    // The staged `_merge.json` republishes over the first delta's marker
    // (rename-refused filesystems take the delete+rename path); both
    // deltas' data files land (task-UUID-unique names never collide).
    val store = freshStore()
    store.load(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), "t", externalKey = "v1")
    store.merge(Seq((1L, "a2")).toDF("k", "s"), "t", Seq("k"), externalKey = "v2")
    store.merge(Seq((2L, "b2")).toDF("k", "s"), "t", Seq("k"), externalKey = "v2")
    val got = store.getMerged("t").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a2"), (2L, "b2")))
    assert(store.history("t").count(_.isMerge) == 1)
    // A second delta into the SAME label with a DIFFERENT delete column
    // would silently rewrite the first delta's tombstone semantics when
    // the shared marker is kept — reject it up front.
    val e = intercept[IllegalArgumentException] {
      store.merge(Seq((3L, "c", false)).toDF("k", "s", "del"),
        "t", Seq("k"), externalKey = "v2", deleteCol = Some("del"))
    }
    assert(e.getMessage.contains("delete column"), e.getMessage)
    // A different LABEL with a different delete column stays legal.
    store.merge(Seq((3L, "c", false)).toDF("k", "s", "del"),
      "t", Seq("k"), externalKey = "v3", deleteCol = Some("del"))
    assert(store.getMerged("t").count() == 3)
  }

  test("merge deltas inherit the table's partition layout") {
    import spark.implicits._
    val store = freshStore()
    store.load(Seq((1L, "2024-01-01", 1.0)).toDF("k", "d", "v"),
      "t", Map("d" -> "Date"), externalKey = "v1")
    store.merge(Seq((1L, "2024-01-02", 2.0)).toDF("k", "d", "v"),
      "t", Seq("k"), externalKey = "v2")
    // The delta version dir must carry the same __p_d partition subdirs.
    val parts = store.getPartitioned("t", externalKey = Some("v2")).columns
    assert(parts.contains(Store.partColName("d")))
    // And the batch missing the partition key column is rejected.
    assertThrows[IllegalArgumentException](
      store.merge(Seq((1L, 3.0)).toDF("k", "v"), "t", Seq("k"), externalKey = "v3"))
  }

  test("materializeMerged folds the chain into one plain version") {
    import spark.implicits._
    val store = freshStore()
    store.load(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), "t", externalKey = "v1")
    store.merge(Seq((1L, 0.0, true), (3L, 30.0, false)).toDF("k", "v", "del"),
      "t", Seq("k"), externalKey = "v2", deleteCol = Some("del"))
    val expect = store.getMerged("t").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    store.materializeMerged("t", externalKey = "v3")
    assert(store.list().head.versions == Seq("v3"))
    // Reads as a plain table now (no markers), same rows.
    val got = store.getMerged("t").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expect && got == Seq((2L, 20.0), (3L, 30.0)))
  }

  test("stale compact lease is stolen; a fresh one excludes and survives the loser") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_lease_").toString
    val store = new Store(spark, root)
    store.load(Seq((1L, 1.0)).toDF("k", "v"), "t", externalKey = "v1")
    val lease = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, "t"),
      s".compact_lease_${Store.encodeVersion("v1")}")
    val fsys = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A FRESH foreign lease: compact must refuse and must NOT delete it
    // (the release path only removes a lease holding this compactor's
    // own token).
    val out = fsys.create(lease, false); out.write("foreign".getBytes); out.close()
    assertThrows[Store.LoadError](store.compact("t"))
    assert(fsys.exists(lease), "loser must not release a lease it does not own")
    // Backdate it past the TTL: the steal path must capture it, verify
    // staleness, and compact; the winner's own lease releases after.
    fsys.setTimes(lease, System.currentTimeMillis() - Store.CompactLeaseTtlMs - 60000, -1)
    store.compact("t")
    assert(!fsys.exists(lease), "winner releases its own lease")
    assert(store.get("t").count() == 1L)
  }

  test("history lists versions oldest-first with merge metadata and _last flag") {
    import spark.implicits._
    val store = freshStore()
    store.load(Seq((1L, 1.0)).toDF("k", "v"), "t", externalKey = "v1")
    store.merge(Seq((1L, 2.0)).toDF("k", "v"), "t", Seq("k"), externalKey = "v2")
    val h = store.history("t")
    assert(h.map(_.label) == Seq("v1", "v2"))
    assert(!h(0).isMerge && h(1).isMerge && h(1).mergeKeys == Seq("k"))
    assert(h.map(_.isLast) == Seq(false, true))
    assert(h.forall(i => i.numFiles > 0 && i.sizeBytes > 0))
    assertThrows[Store.GetError](store.history("nope"))
  }

  test("rollback repoints use_last; missing version rejected") {
    import spark.implicits._
    val store = freshStore()
    store.load(Seq((1L, "good")).toDF("k", "s"), "t", externalKey = "v1")
    store.load(Seq((1L, "bad")).toDF("k", "s"), "t", externalKey = "v2")
    assert(store.get("t", useLast = true).head().getString(1) == "bad")
    store.rollback("t", "v1")
    assert(store.get("t", useLast = true).head().getString(1) == "good")
    assert(store.lastVersion("t").contains("v1"))
    // Accumulate still sees both versions; bad version can be dropped.
    assert(store.get("t").count() == 2L)
    assertThrows[Store.GetError](store.rollback("t", "nope"))
  }

  test("clone: frozen snapshot with full version semantics; guards on source/target") {
    import spark.implicits._
    val store = freshStore()
    store.load(Seq((1L, "a")).toDF("k", "s"), "t", externalKey = "v1")
    store.load(Seq((2L, "b")).toDF("k", "s"), "t", externalKey = "v2")
    store.clone("t", "t2")
    // Writes to either side never touch the other.
    store.load(Seq((3L, "c")).toDF("k", "s"), "t", externalKey = "v3")
    store.load(Seq((9L, "z")).toDF("k", "s"), "t2", externalKey = "v9")
    assert(store.get("t").count() == 3L)
    assert(store.get("t2").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (9L, "z")))
    // The _last pointer travels with the clone and advances independently.
    assert(store.get("t2", useLast = true).head().getString(1) == "z")
    assert(store.get("t", useLast = true).head().getString(1) == "c")
    assertThrows[Store.GetError](store.clone("nope", "t3"))
    assertThrows[Store.LoadError](store.clone("t", "t2"))
  }

  test("clone is crash-safe: stale staging swept + invisible, atomic publish, reserved marker") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_test_").toString
    val store = new Store(spark, root)
    store.load(Seq((1L, "a")).toDF("k", "s"), "t", externalKey = "v1")
    // Simulate a crashed earlier clone: a partial staging sibling holding
    // a _meta.json — exactly the shape list() would misread as a table.
    val stale = new java.io.File(root, "t2" + Store.TmpCloneInfix + "deadbeef")
    assert(stale.mkdirs())
    val staleMeta = stale.toPath.resolve(Store.MetaFile)
    java.nio.file.Files.writeString(staleMeta, "{}")
    // A LIVE concurrent clone's staging dir (fresh mtimes) matches the
    // same name prefix but must SURVIVE the sweep — deleting it would
    // drop files the in-flight copy already landed and let it publish a
    // partial table (r10 advice). Only the backdated temp is stale.
    val live = new java.io.File(root, "t2" + Store.TmpCloneInfix + "cafebabe")
    assert(live.mkdirs())
    java.nio.file.Files.writeString(live.toPath.resolve(Store.MetaFile), "{}")
    val old = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    assert(stale.setLastModified(old) && staleMeta.toFile.setLastModified(old))
    assert(store.list().map(_.name) == Seq("t"), "staging dir leaked into list()")
    store.clone("t", "t2") // retry path: sweeps the stale temp, then publishes
    assert(!stale.exists(), "stale staging dir survived the retry sweep")
    assert(live.exists(), "live concurrent staging dir was swept")
    assert(store.list().map(_.name).sorted == Seq("t", "t2"))
    assert(store.get("t2").count() == 1L)
    // Our own staging temp left no residue after a successful publish
    // (the simulated live sibling is the only marker-named survivor).
    assert(new java.io.File(root).list().filter(_.contains(Store.TmpCloneInfix))
      .toSeq == Seq(live.getName))
    // The staging marker is reserved in the table namespace.
    assertThrows[IllegalArgumentException](
      store.load(Seq((1L, "x")).toDF("k", "s"), "bad._tmp-clone-1"))
  }

  test("clone preserves a live merge chain (delta markers copy with the data)") {
    import spark.implicits._
    val store = freshStore()
    store.load(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), "m", externalKey = "v1")
    store.merge(Seq((2L, 25.0), (3L, 30.0)).toDF("k", "v"), "m", Seq("k"),
      externalKey = "v2")
    store.clone("m", "m2")
    // A post-clone delta on the ORIGINAL must not leak into the branch.
    store.merge(Seq((1L, 99.0)).toDF("k", "v"), "m", Seq("k"), externalKey = "v3")
    assert(store.getMerged("m2").as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (2L, 25.0), (3L, 30.0)))
    assert(store.getMerged("m").as[(Long, Double)].collect().toSet ==
      Set((1L, 99.0), (2L, 25.0), (3L, 30.0)))
    // The branch folds independently.
    store.materializeMerged("m2")
    assert(store.get("m2", useLast = true).as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (2L, 25.0), (3L, 30.0)))
  }

  test("compacting a merge-delta version keeps it a delta (marker survives)") {
    import spark.implicits._
    val store = freshStore()
    store.load(Seq((1L, "old"), (2L, "keep")).toDF("k", "s"), "t", externalKey = "v1")
    // Two appends into the delta version -> compact has files to merge.
    store.merge(Seq((1L, "new", false)).toDF("k", "s", "del"),
      "t", Seq("k"), externalKey = "v2", deleteCol = Some("del"))
    store.load(Seq((3L, "ins", false)).toDF("k", "s", "del"), "t", externalKey = "v2")
    store.compact("t", externalKey = Some("v2"))
    // Without the marker surviving the rewrite, k=1 resolves to BOTH
    // rows (append semantics) or the old one resurrects.
    val got = store.getMerged("t").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "new"), (2L, "keep"), (3L, "ins")))
  }

  test("merge key/delete column names with commas and quotes round-trip the marker") {
    import spark.implicits._
    val store = freshStore()
    val wk = "a,b"     // legal Spark column name containing the list separator
    val wd = "de\"l"   // and one containing the JSON quote
    val df0 = Seq((1L, 1.0)).toDF(wk, "v")
    store.load(df0, "t", externalKey = "v1")
    store.merge(Seq((1L, 2.0, false), (2L, 9.0, true)).toDF(wk, "v", wd),
      "t", Seq(wk), externalKey = "v2", deleteCol = Some(wd))
    val got = store.getMerged("t").orderBy(col(s"`$wk`"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 2.0)))
    assert(store.history("t").last.mergeKeys == Seq(wk))
  }

  test("merge validation: missing table, missing key column, conflicting keys") {
    import spark.implicits._
    val store = freshStore()
    val df = Seq((1L, 1.0)).toDF("k", "v")
    assertThrows[Store.GetError](store.merge(df, "nope", Seq("k")))
    store.load(df, "t", externalKey = "v1")
    assertThrows[IllegalArgumentException](store.merge(df, "t", Seq("missing")))
    store.merge(df, "t", Seq("k"), externalKey = "v2")
    assertThrows[IllegalArgumentException](store.merge(df, "t", Seq("v"), externalKey = "v3"))
  }

  test("versionDiff: added/removed/changed, null-safe, no swapped-null collision") {
    import spark.implicits._
    val store = freshStore()
    val v1 = Seq(
      (1L, Option("a"), Option("b")),   // unchanged
      (2L, None: Option[String], Option("x")), // null -> value = changed
      (3L, Option("gone"), Option("g")),       // removed
      (5L, None: Option[String], Option("x"))) // swapped-null case
      .toDF("k", "ca", "cb")
    val v2 = Seq(
      (1L, Option("a"), Option("b")),
      (2L, Option("now"), Option("x")),
      (4L, Option("new"), Option("n")),        // added
      (5L, Option("x"), None: Option[String])) // (null,x) -> (x,null)
      .toDF("k", "ca", "cb")
    store.load(v1, "t", externalKey = "v1")
    store.load(v2, "t", externalKey = "v2")
    val got = store.versionDiff("t", "v1", "v2", Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "removed", 4L -> "added",
      5L -> "changed"), s"got $got")
  }

  test("versionDiff: null keys match null-safely (no phantom add/remove pair)") {
    import spark.implicits._
    val store = freshStore()
    store.load(Seq((Option(1L), "a"), (None: Option[Long], "same"))
      .toDF("k", "v"), "t", externalKey = "v1")
    store.load(Seq((Option(1L), "a"), (None: Option[Long], "same"),
      (Option(2L), "new")).toDF("k", "v"), "t", externalKey = "v2")
    val got = store.versionDiff("t", "v1", "v2", Seq("k"))
      .collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getString(1))
      .toMap
    // The unchanged null-keyed row must NOT surface as added+removed.
    assert(got == Map(Some(2L) -> "added"), s"got $got")
    // A null-keyed VALUE change still reports, keyed by the null.
    store.load(Seq((Option(1L), "a"), (None: Option[Long], "CHANGED"))
      .toDF("k", "v"), "t", externalKey = "v3")
    val got2 = store.versionDiff("t", "v1", "v3", Seq("k"))
      .collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getString(1))
      .toMap
    assert(got2 == Map(None -> "changed"), s"got $got2")
  }

  test("versionDiff: schema drift flags shared keys; missing key column rejected") {
    import spark.implicits._
    val store = freshStore()
    store.load(Seq((1L, "a")).toDF("k", "v"), "t", externalKey = "v1")
    store.load(Seq((1L, "a", 7L)).toDF("k", "v", "extra"), "t", externalKey = "v2")
    val got = store.versionDiff("t", "v1", "v2", Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "changed"), s"schema drift must flag, got $got")
    assertThrows[Store.GetError](store.versionDiff("t", "v1", "v2", Seq("nope")))
  }
}
