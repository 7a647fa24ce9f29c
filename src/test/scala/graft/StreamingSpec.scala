package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStreams

/** Structured Streaming parity: the streaming window forms must agree with
  * their batch equivalents on the same fixture data (processed as one
  * micro-batch from the file source).
  */
class StreamingSpec extends SparkSpec {

  private def batchEvents = Tables.events(spark, sf())

  /** The file streaming source requires a directory; stage the single
    * fixture file into one.
    */
  private lazy val eventsDir: String = {
    // TempDirs registers a JVM-exit cleanup hook — without it every
    // suite run leaks a staged fixture copy into /tmp.
    val dir = java.nio.file.Paths.get(TempDirs.create("graft_stream_"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming tumbling window == batch tumbling window") {
    val stream = EventStreams.readEvents(spark, eventsDir)
    val streamed = EventStreams.runToMemory(spark,
      EventStreams.tumblingCounts(stream, "1 hour", "10 minutes"), "t_tumble")
    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("wstart_us"), col("event_type"), col("n"))
    assert(streamed.orderBy("wstart_us", "event_type").collect().toSeq ==
      batch.orderBy("wstart_us", "event_type").collect().toSeq)
  }

  test("streaming session window == batch session window") {
    val stream = EventStreams.readEvents(spark, eventsDir)
    val streamed = EventStreams.runToMemory(spark,
      EventStreams.sessionCounts(stream, "10 minutes", "10 minutes"), "t_sess")
    val batch = batchEvents
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"), col("n_events"))
    assert(streamed.orderBy("user_id", "session_start_us").collect().toSeq ==
      batch.orderBy("user_id", "session_start_us").collect().toSeq)
  }

  test("per-batch status table surfaces row rates and watermark lag (r11)") {
    // Two micro-batches staged by hand (second file lands after the
    // first processAllAvailable), so the SECOND batch's progress event
    // carries the watermark committed by the first — watermark lag must
    // surface as a real number, not epoch-zero nonsense.
    val dir = java.nio.file.Paths.get(TempDirs.create("graft_status_"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      dir.resolve("b0.parquet"))
    val mon = new graft.streaming.StreamStatusMonitor(spark).attach()
    try {
      val q = EventStreams.tumblingCounts(
          EventStreams.readEvents(spark, dir.toString), "1 hour", "10 minutes")
        .writeStream.format("memory").queryName("t_status")
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"${sf()}/events.parquet"),
          dir.resolve("b1.parquet"))
        q.processAllAvailable()
      } finally q.stop()
      // Listener delivery is async; poll for the two data batches.
      def dataRows() = mon.table()
        .where(col("num_input_rows") > 0).collect()
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline && dataRows().length < 2)
        Thread.sleep(100)
      val rows = dataRows()
      assert(rows.length >= 2, s"expected 2 data batches, got ${rows.length}")
      val nEvents = batchEvents.count()
      assert(rows.map(_.getAs[Long]("num_input_rows")).sum == 2 * nEvents,
        "status rows must account for every input row")
      assert(rows.forall(r => r.getAs[Long]("batch_ms") >= 0 &&
        r.getAs[Double]("process_rps") >= 0.0))
      assert(rows.forall(_.getAs[Long]("state_rows") > 0),
        "complete-mode agg must report state size")
      // The second data batch runs after the first's watermark commit:
      // lag = wall clock minus (fixture max ts - 10 min) — positive and
      // present. The FIRST batch must report NULL, not epoch lag.
      val byBatch = rows.sortBy(_.getAs[Long]("batch_id"))
      assert(byBatch.head.isNullAt(byBatch.head.fieldIndex("watermark_lag_ms")),
        "pre-watermark batch must surface NULL lag")
      val lag = byBatch.last.getAs[Long]("watermark_lag_ms")
      assert(!byBatch.last.isNullAt(byBatch.last.fieldIndex("watermark_lag_ms"))
        && lag > 0, s"watermark lag must surface per batch, got $lag")
    } finally mon.detach()
  }

  test("streaming dedup drops duplicate event_ids") {
    val stream = EventStreams.readEvents(spark, eventsDir)
    val deduped = EventStreams.runToMemory(spark,
      EventStreams.dedupedEvents(stream, "1 hour").select("event_id"),
      "t_dedup", OutputMode.Append())
    assert(deduped.count() == batchEvents.select("event_id").distinct().count())
  }

  private lazy val docsDir: String = {
    val dir = java.nio.file.Paths.get(TempDirs.create("graft_stream_docs_"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/documents.parquet"),
      dir.resolve("documents.parquet"))
    dir.toString
  }

  test("streaming content dedup keeps one copy per distinct text") {
    import graft.streaming.DocStreams
    val stream = DocStreams.readDocs(spark, docsDir)
    val survivors = EventStreams.runToMemory(spark,
      DocStreams.dedupedDocs(stream)
        .select(md5(col("text").cast("binary")).as("h")),
      "t_docdedup", OutputMode.Append())
    val batchDocs = Tables.read(spark, sf(), "documents")
    // WHICH copy survives differs (arrival order vs min id) — the
    // surviving CONTENT set is the contract.
    assert(survivors.select("h").distinct().count() ==
      batchDocs.select("text").distinct().count())
    assert(survivors.count() == survivors.select("h").distinct().count(),
      "a text hash must survive exactly once")
  }

  test("streaming per-source ingest totals == batch aggregate; quality gate == batch filter") {
    import graft.streaming.DocStreams
    val stream = DocStreams.readDocs(spark, docsDir)
    val streamed = EventStreams.runToMemory(spark,
      DocStreams.sourceIngestTotals(stream), "t_doctotals",
      OutputMode.Complete())
    val batchDocs = Tables.read(spark, sf(), "documents")
    val batch = DocStreams.sourceIngestTotals(batchDocs)
    assert(streamed.orderBy("source").collect().toSeq ==
      batch.orderBy("source").collect().toSeq)
    val gated = EventStreams.runToMemory(spark,
      DocStreams.qualityFiltered(stream).select("doc_id"), "t_docgate",
      OutputMode.Append())
    assert(gated.collect().map(_.getLong(0)).toSet ==
      DocStreams.qualityFiltered(batchDocs)
        .select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("streaming learned-quality scoring from a STORED model == batch scores") {
    import graft.streaming.DocStreams
    import graft.ops.TextOps
    // The serving kernel is a plain expression, so a trained model loaded
    // from the versioned store drops straight into a streaming query —
    // the shape a live ingest pipeline runs (train offline, pin a model
    // version, score the stream). Scores must be bit-identical to batch.
    val batchDocs = Tables.read(spark, sf(), "documents")
    val store = new graft.store.Store(spark, TempDirs.create("graft_qmstream_"))
    val trained = TextOps.trainQualityModel(batchDocs, "text", dim = 128)
    TextOps.saveQualityModel(spark, store, "quality/model", trained, externalKey = "v1")
    val served = TextOps.loadQualityModel(store, "quality/model")
    val streamed = EventStreams.runToMemory(spark,
      DocStreams.readDocs(spark, docsDir).select(col("doc_id"),
        TextOps.qualityModelScore(col("text"), served).as("p")),
      "t_qmscore", OutputMode.Append())
    val batch = batchDocs.select(col("doc_id"),
      TextOps.qualityModelScore(col("text"), trained).as("p"))
    assert(streamed.orderBy("doc_id").collect().toSeq ==
      batch.orderBy("doc_id").collect().toSeq)
  }

  test("streaming learned-quality AUC monitor == batch audit, including a poisoned batch") {
    import graft.streaming.DocStreams
    import graft.ops.TextOps
    val batchDocs = Tables.read(spark, sf(), "documents")
    val model = TextOps.trainQualityModel(batchDocs, "text", dim = 128)
    // Poison batch — the drift shape the monitor exists to surface:
    // near-boundary truncations of rule-PASSING docs. 24 tokens keeps
    // every aux stat close to the keep class (log1p(24) vs log1p(25+),
    // same word shape/diversity/stopword mass, same vocabulary), but
    // fails lengthOk — so the model scores them like keepers while the
    // rules label them 0, and AUC must DROP in the status table.
    val poison = batchDocs.where(TextOps.qualityRules(col("text")).keep)
      .orderBy("doc_id").limit(40)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 24)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    val dir = java.nio.file.Paths.get(TempDirs.create("graft_stream_qauc_"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/documents.parquet"),
      dir.resolve("b0.parquet"))
    poison.coalesce(1).write.parquet(dir.resolve("b1_staged").toString)
    java.nio.file.Files.list(dir.resolve("b1_staged")).forEach { p =>
      if (p.getFileName.toString.endsWith(".parquet"))
        java.nio.file.Files.copy(p, dir.resolve("b1.parquet"))
    }
    // Stream the bin state in complete mode; finish any snapshot into
    // the AUC with the same bounded-table window the batch audit uses.
    val streamedBins = EventStreams.runToMemory(spark,
      DocStreams.qualityAucBins(DocStreams.readDocs(spark, dir.toString), model),
      "t_qauc", OutputMode.Complete())
    val streamAuc = TextOps.binaryAucFromBins(streamedBins).head().getDouble(0)
    val union = batchDocs.unionByName(
      spark.read.parquet(dir.resolve("b1.parquet").toString))
    val batchAuc = TextOps.binaryAuc(
      union.select(
        TextOps.qualityModelScore(col("text"), model).as("p"),
        when(TextOps.qualityRules(col("text")).keep, 1d).otherwise(0d).as("y")),
      "p", "y").head().getDouble(0)
    assert(streamAuc == batchAuc,
      s"stream AUC $streamAuc != batch AUC $batchAuc")
    // The monitor actually CATCHES the drift: the poisoned union's AUC
    // sits below the clean corpus's.
    val cleanAuc = TextOps.binaryAuc(
      batchDocs.select(
        TextOps.qualityModelScore(col("text"), model).as("p"),
        when(TextOps.qualityRules(col("text")).keep, 1d).otherwise(0d).as("y")),
      "p", "y").head().getDouble(0)
    assert(streamAuc < cleanAuc,
      s"poisoned AUC $streamAuc should drop below clean $cleanAuc")
  }

  test("streaming domain-mix monitor from a STORED model == batch counts") {
    import graft.streaming.DocStreams
    import graft.ops.TextOps
    // The qn112 classifier as a live mix monitor: train offline, pin a
    // store version, watch the predicted domain distribution of the
    // ingest. Counts must equal the batch aggregate exactly (same
    // serving expression, groupBy-count is a legal streaming agg).
    val batchDocs = Tables.read(spark, sf(), "documents")
    val store = new graft.store.Store(spark, TempDirs.create("graft_dmixstream_"))
    val trained = TextOps.trainDomainModel(batchDocs, "text", "lang", dim = 128)
    TextOps.saveDomainModel(spark, store, "models/domain", trained, externalKey = "v1")
    val served = TextOps.loadDomainModel(store, "models/domain", Some("v1"))
    val streamed = EventStreams.runToMemory(spark,
      DocStreams.domainMixTotals(DocStreams.readDocs(spark, docsDir), served),
      "t_dmix", OutputMode.Complete())
    val batch = batchDocs.select(TextOps.domainLabel(
        TextOps.domainPredict(col("text"), trained).getField("pred"), trained)
        .as("domain"))
      .groupBy("domain").agg(count(lit(1)).as("n_docs"))
    assert(streamed.orderBy("domain").collect().toSeq ==
      batch.orderBy("domain").collect().toSeq)
    // All docs accounted for (the mix table partitions the ingest).
    assert(streamed.agg(sum("n_docs")).head().getLong(0) == batchDocs.count())
  }

  test("streaming dataset-card totals == batch aggregate") {
    import graft.streaming.DocStreams
    val stream = DocStreams.readDocs(spark, docsDir)
    val streamed = EventStreams.runToMemory(spark,
      DocStreams.datasetCardTotals(stream), "t_doccard",
      OutputMode.Complete())
    val batch = DocStreams.datasetCardTotals(Tables.read(spark, sf(), "documents"))
    assert(streamed.orderBy("source").collect().toSeq ==
      batch.orderBy("source").collect().toSeq)
  }

  test("streaming embedding health totals == batch audit, including a poisoned batch") {
    import graft.streaming.DocStreams
    // Land two encoder batches: the clean fixture and a poisoned file
    // (one NaN vector, one zero vector, one short vector).
    val dir = java.nio.file.Paths.get(TempDirs.create("graft_stream_emb_"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/embeddings.parquet"),
      dir.resolve("b0.parquet"))
    import spark.implicits._
    val dim = 8
    Seq(
      (900001L, Array.fill(dim)(Float.NaN), 99),
      (900002L, Array.fill(dim)(0.0f), 99),
      (900003L, Array.fill(dim - 3)(1.0f), 99))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(dir.resolve("b1_staged").toString)
    java.nio.file.Files.list(dir.resolve("b1_staged")).forEach { p =>
      if (p.getFileName.toString.endsWith(".parquet"))
        java.nio.file.Files.copy(p, dir.resolve("b1.parquet"))
    }
    val streamed = EventStreams.runToMemory(spark,
      DocStreams.embeddingHealthTotals(DocStreams.readEmbeddings(spark, dir.toString)),
      "t_embhealth", OutputMode.Complete())
    val batch = graft.ops.Similarity.embeddingHealth(
      Tables.read(spark, sf(), "embeddings").unionByName(
        spark.read.parquet(dir.resolve("b1.parquet").toString)),
      "embedding", "label")
    assert(streamed.orderBy("label").collect().toSeq ==
      batch.orderBy("label").collect().toSeq)
    val bad = streamed.where(col("label") === 99).head()
    assert(bad.getAs[Long]("n_nan") == 1 && bad.getAs[Long]("n_zero") == 1
      && bad.getAs[Int]("min_dim") == dim - 3,
      s"poisoned batch not surfaced: $bad")
  }

  test("streaming index maintenance: first batch fits, later appends; search == brute") {
    import graft.streaming.DocStreams
    import graft.store.Store
    val src = java.nio.file.Paths.get(TempDirs.create("graft_idx_src_"))
    val ckpt = TempDirs.create("graft_idx_ckpt_")
    val store = new Store(spark, TempDirs.create("graft_idx_store_"),
      idBucketWidth = 1L)
    val emb = Tables.read(spark, sf(), "embeddings")
    def stage(df: org.apache.spark.sql.DataFrame, fname: String): Unit = {
      val tmp = src.resolve(fname + "_staged")
      df.coalesce(1).write.parquet(tmp.toString)
      java.nio.file.Files.list(tmp).forEach { p =>
        if (p.getFileName.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(p, src.resolve(fname))
      }
    }
    def run(): Unit = {
      val q = DocStreams.indexAppendSink(
        DocStreams.readEmbeddings(spark, src.toString), store, "idx", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    stage(emb.where(col("vec_id") < 250), "b0.parquet")
    run()
    assert(store.list(Some("idx/centroids")).exists(_.name == "idx/centroids"),
      "first micro-batch must FIT the index")
    stage(emb.where(col("vec_id") >= 250), "b1.parquet")
    run()
    assert(store.list(Some("idx/assignments")).head.versions == Seq("b0", "b1"),
      "second micro-batch must APPEND a version, not refit")
    val nl = store.get("idx/centroids", useLast = true).count().toInt
    val queries = emb.where(col("vec_id") < 3)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
          r.getAs[Double]("sim"), r.getAs[Int]("rank"))).toSeq
    assert(canon(graft.ops.VectorIndex.searchIvf(store, "idx", queries,
      "vec_id", "embedding", k = 4, nProbe = nl, useLast = false)) ==
      canon(graft.ops.Similarity.topKPerQuery(emb, queries,
        "vec_id", "embedding", k = 4)),
      "streamed build+append must serve the whole corpus exactly")
    // Replay of an already-committed batch (crash between sink write and
    // checkpoint commit): drop-then-rewrite of its OWN version cannot
    // double-count.
    store.dropVersion("idx/assignments", "b1")
    graft.ops.VectorIndex.appendIvf(store, emb.where(col("vec_id") >= 250),
      "vec_id", "embedding", "idx", externalKey = "b1")
    assert(store.get("idx/assignments").count() == emb.count())
  }

  test("stream-stream interval join matches batch range join") {
    val stream = EventStreams.readEvents(spark, eventsDir)
    val streamed = EventStreams.runToMemory(spark,
      EventStreams.purchaseClickJoin(stream, "10 MINUTES", "1 hour")
        .select("p_id", "c_id"),
      "t_ssjoin", OutputMode.Append())
    val e = batchEvents
    val p = e.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val c = e.where(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val batch = p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") < col("p_ts"))
      .select("p_id", "c_id")
    assert(streamed.orderBy("p_id", "c_id").collect().toSeq ==
      batch.orderBy("p_id", "c_id").collect().toSeq)
  }

  test("checkpointed file-sink query resumes exactly-once across restarts") {
    val src = java.nio.file.Paths.get(TempDirs.create("graft_ckpt_src_"))
    val out = TempDirs.create("graft_ckpt_out_")
    val ckpt = TempDirs.create("graft_ckpt_meta_")
    val fixture = java.nio.file.Paths.get(s"${sf()}/events.parquet")
    java.nio.file.Files.copy(fixture, src.resolve("batch1.parquet"))

    def runOnce(): Unit = EventStreams.runToParquet(
      EventStreams.readEvents(spark, src.toString).select("event_id", "ts"),
      out, ckpt)

    runOnce()
    assert(spark.read.parquet(out).count() == 1000)
    // second file arrives; a RESTARTED query must process only the new
    // file (checkpoint remembers batch1), not double-count it
    java.nio.file.Files.copy(fixture, src.resolve("batch2.parquet"))
    runOnce()
    assert(spark.read.parquet(out).count() == 2000)
    // and an idle restart with nothing new appends nothing
    runOnce()
    assert(spark.read.parquet(out).count() == 2000)
  }

  test("stream -> store ingest: batch-keyed versions, exactly-once, replay-idempotent") {
    import graft.store.Store
    val src = java.nio.file.Paths.get(TempDirs.create("graft_ing_src_"))
    val ckpt = TempDirs.create("graft_ing_ckpt_")
    val store = new Store(spark,
      TempDirs.create("graft_ing_store_"))
    val fixture = java.nio.file.Paths.get(s"${sf()}/events.parquet")
    java.nio.file.Files.copy(fixture, src.resolve("batch1.parquet"))

    def ingest(): Unit = EventStreams.writeToStore(
      EventStreams.readEvents(spark, src.toString)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
      store, "streams/events", Map("user_id" -> Store.KeyId), ckpt)

    ingest()
    assert(store.get("streams/events").count() == 1000)
    assert(store.list().head.versions == Seq("b0"))
    // restart with a new file: only the new batch lands, as a new version
    java.nio.file.Files.copy(fixture, src.resolve("batch2.parquet"))
    ingest()
    assert(store.get("streams/events").count() == 2000)
    assert(store.list().head.versions == Seq("b0", "b1"))
    assert(store.get("streams/events", useLast = true).count() == 1000)
    // idle restart ingests nothing
    ingest()
    assert(store.get("streams/events").count() == 2000)
    // simulated sink replay of an already-written batch (crash between
    // sink write and checkpoint commit): drop-then-rewrite cannot double
    val replay = Tables.events(spark, sf())
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    store.dropVersion("streams/events", "b1")
    store.load(replay, "streams/events", Map("user_id" -> Store.KeyId), externalKey = "b1")
    assert(store.get("streams/events").count() == 2000)
  }

  test("stream -> store CDC merge sink: upserts, deletes, replay-idempotent") {
    import spark.implicits._
    import graft.store.Store
    val src = java.nio.file.Paths.get(TempDirs.create("graft_cdc_src_"))
    val ckpt = TempDirs.create("graft_cdc_ckpt_")
    val store = new Store(spark,
      TempDirs.create("graft_cdc_store_"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("state", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("del", org.apache.spark.sql.types.BooleanType)))
    def writeBatch(n: String, rows: Seq[(Long, Long, String, Boolean)]): Unit =
      rows.toDF("user_id", "seq", "state", "del").coalesce(1)
        .write.parquet(src.resolve(n).toString)
    def run(): Unit = EventStreams.mergeToStore(
      spark.readStream.schema(schema).option("pathGlobFilter", "*.parquet")
        .parquet(src.toString + "/*"),
      store, "cdc/users", Seq("user_id"), "seq", ckpt, deleteCol = Some("del"))
    def snapshot(): Seq[(Long, String)] =
      store.getMerged("cdc/users").orderBy("user_id")
        .select("user_id", "state").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq

    // Batch 0 (fresh table -> base load): users 1-3, including an
    // in-batch double update to user 2 (seq decides).
    writeBatch("b0", Seq((1L, 10L, "a", false), (2L, 11L, "old", false),
      (2L, 12L, "b", false), (3L, 13L, "c", false)))
    run()
    assert(snapshot() == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // Batch 1 (merge): update 1, delete 2, insert 4.
    writeBatch("b1", Seq((1L, 20L, "a2", false), (2L, 21L, "x", true),
      (4L, 22L, "d", false)))
    run()
    assert(snapshot() == Seq((1L, "a2"), (3L, "c"), (4L, "d")))
    // Idle restart changes nothing; simulated replay of batch 1 (crash
    // between sink write and checkpoint commit) cannot double-apply.
    run()
    store.dropVersion("cdc/users", "b000000001")
    store.merge(Seq((1L, 20L, "a2", false), (2L, 21L, "x", true), (4L, 22L, "d", false))
      .toDF("user_id", "seq", "state", "del"),
      "cdc/users", Seq("user_id"), externalKey = "b000000001", deleteCol = Some("del"))
    assert(snapshot() == Seq((1L, "a2"), (3L, "c"), (4L, "d")))
  }

  test("mapGroupsWithState running totals match batch groupBy") {
    val stream = EventStreams.readEvents(spark, eventsDir)
    val streamed = EventStreams.runToMemory(spark,
      EventStreams.userRunningTotals(stream).toDF(), "t_state", OutputMode.Update())
    val batch = batchEvents.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
    val s = streamed.orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
    val b = batch.orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
    assert(s.toSeq == b.toSeq)
  }

  /** Stage the documents fixture as TWO parquet files (halves by doc_id,
    * batch-0 file older) so `maxFilesPerTrigger=1` replays them as an
    * ordered two-micro-batch ingest.
    */
  private def stageDocHalves(): (String, Long) = {
    import graft.ops.Dedup
    val d = Tables.read(spark, sf(), "documents")
    val cut = Tables.parquetRowCount(spark, s"${sf()}/documents.parquet") / 2
    val dir = java.nio.file.Paths.get(TempDirs.create("graft_stream_halves_"))
    Seq(("0", col("doc_id") < cut), ("1", col("doc_id") >= cut)).foreach {
      case (tag, pred) =>
        val tmp = java.nio.file.Paths.get(TempDirs.create(s"graft_half${tag}_"))
        d.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        val dest = dir.resolve(s"batch$tag.parquet")
        java.nio.file.Files.move(part, dest)
        // File-source ordering is by modification time — pin it.
        dest.toFile.setLastModified(1700000000000L + tag.toLong * 60000L)
    }
    (dir.toString, cut)
  }

  test("streaming store-backed near-dup dedup == replayed batch dedupIncremental") {
    import graft.ops.Dedup
    import graft.streaming.DocStreams
    val (srcDir, cut) = stageDocHalves()
    val store = new graft.store.Store(spark, TempDirs.create("graft_stream_nd_"))
    val outDir = TempDirs.create("graft_stream_nd_out_") + "/kept"
    val ckpt = TempDirs.create("graft_stream_nd_ckpt_")
    val stream = spark.readStream.schema(DocStreams.docSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = DocStreams.nearDupDedupedTo(stream, store, outDir)
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // The replayed batch sequence the stream must reproduce: batch 0
    // deduped against empty history, batch 1 against batch 0's FULL
    // signature table (kept and dropped docs) — dedupIncremental's
    // stated contract, fed the same per-batch frequency tables.
    val d = Tables.read(spark, sf(), "documents")
    val old = d.where(col("doc_id") < cut)
    val fresh = d.where(col("doc_id") >= cut)
    val sig0 = Dedup.shingleSignatures(old, "doc_id", "text", n = 3)
    import spark.implicits._
    val kept0 = Dedup.dedupIncremental(old,
      Seq.empty[(Long, String)].toDF("id", "s"), "doc_id", "text",
      prevShingleFreqs = Some(Seq.empty[(String, Long)].toDF("s", "df")))
    val kept1 = Dedup.dedupIncremental(fresh, sig0, "doc_id", "text",
      prevShingleFreqs = Some(Dedup.shingleDocFreqs(sig0)))
    val expected = (kept0.select("doc_id").collect() ++
      kept1.select("doc_id").collect()).map(_.getLong(0)).toSet
    assert(streamed == expected,
      s"stream-only=${(streamed -- expected).size} batch-only=${(expected -- streamed).size}")
    // Batch 0 against empty history must equal the plain one-shot dedup
    // of batch 0 (the incremental op's degenerate-history contract).
    val oneShot0 = Dedup.dedupByJaccard(old, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept0.select("doc_id").collect().map(_.getLong(0)).toSet == oneShot0)
    // The signature state accumulated one BUCKETED version per
    // micro-batch (the storage-partitioned layout), invisible to the
    // store's table catalog.
    val sigRoot = store.statePath("streaming/neardup-sigs")
    assert(graft.store.BucketedState.versions(spark, sigRoot).toSet ==
      Set("b0", "b1"))
    // The bucketed signature dirs stay off the table catalog; the
    // per-doc COUNTS companion is the third bucketed surface (r17),
    // one bucketed-by-id slice per batch, equally catalog-invisible.
    assert(!store.list().exists(_.name == "streaming/neardup-sigs"))
    assert(!store.list().exists(_.name == "streaming/neardup-sigs-counts"))
    val countsRoot = store.statePath("streaming/neardup-sigs-counts")
    assert(graft.store.BucketedState.versions(spark, countsRoot).toSet ==
      Set("b0", "b1"))
  }

  test("slice-count watermark: stream self-compacts, bounded slices, survivors unchanged") {
    import graft.ops.Dedup
    import graft.streaming.DocStreams
    // Four micro-batches (doc_id quartiles) against maxSlices=2: the
    // watermark must trip at batches 2 and 3, hold the live slice count
    // at <= 2 throughout, and change NOTHING about the survivor set vs
    // the never-compacted pipeline (compaction is a layout operation).
    val d = Tables.read(spark, sf(), "documents")
    val total = Tables.parquetRowCount(spark, s"${sf()}/documents.parquet")
    val cuts = Seq(total / 4, total / 2, 3 * total / 4)
    val preds = Seq(
      col("doc_id") < cuts(0),
      col("doc_id") >= cuts(0) && col("doc_id") < cuts(1),
      col("doc_id") >= cuts(1) && col("doc_id") < cuts(2),
      col("doc_id") >= cuts(2))
    val dir = java.nio.file.Paths.get(TempDirs.create("graft_stream_wm_"))
    preds.zipWithIndex.foreach { case (pred, i) =>
      val tmp = java.nio.file.Paths.get(TempDirs.create(s"graft_wm${i}_"))
      d.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dest = dir.resolve(s"batch$i.parquet")
      java.nio.file.Files.move(part, dest)
      dest.toFile.setLastModified(1700000000000L + i.toLong * 60000L)
    }
    val store = new graft.store.Store(spark, TempDirs.create("graft_wm_st_"))
    val outDir = TempDirs.create("graft_wm_out_") + "/kept"
    val ckpt = TempDirs.create("graft_wm_ckpt_")
    val stream = spark.readStream.schema(DocStreams.docSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = DocStreams.nearDupDedupedTo(stream, store, outDir, maxSlices = 2)
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val sigRoot = store.statePath("streaming/neardup-sigs")
    val live = graft.store.BucketedState.versions(spark, sigRoot)
    // Steady state: the latest fold + the latest batch slice, nothing
    // else (b0/b1 folded into c2; c2+b2 folded into c3).
    assert(live.toSet == Set("c3", "b3"), live.toString)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // The never-compacted replay of the same four batches.
    val store2 = new graft.store.Store(spark, TempDirs.create("graft_wm_st2_"))
    val expected = preds.zipWithIndex.flatMap { case (pred, i) =>
      DocStreams.dedupBatchAgainstStore(d.where(pred), i.toLong, store2,
        maxSlices = 0)
        .select("doc_id").collect().map(_.getLong(0))
    }.toSet
    assert(graft.store.BucketedState.versions(spark,
      store2.statePath("streaming/neardup-sigs")).size == 4)
    assert(streamed == expected,
      s"stream-only=${(streamed -- expected).size} batch-only=${(expected -- streamed).size}")
    // Every state surface is bounded, including the counts companion
    // (the third bucketed surface, folded crash-atomically at the same
    // watermark): live slices = {latest fold} ∪ {latest batch}.
    def countsOf(st: graft.store.Store): Map[Long, Long] = {
      val root = st.statePath("streaming/neardup-sigs-counts")
      graft.store.BucketedState.family(spark, root)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val countsRoot = store.statePath("streaming/neardup-sigs-counts")
    assert(graft.store.BucketedState.versions(spark, countsRoot).toSet ==
      Set("c3", "b3"))
    // ...and the folded counts still cover every prior doc exactly once
    // (the family read over {fold, batch} == the never-compacted
    // slice union).
    val cntA = countsOf(store)
    val cntB = countsOf(store2)
    assert(cntA == cntB, s"counts diverged: ${cntA.size} vs ${cntB.size}")
    // Replay idempotence at the fold boundary: re-running batch 3's
    // body (its slice live, its fold label live) must not throw, not
    // double state, and keep the survivor set for a FUTURE batch
    // identical — the crashed-checkpoint case.
    DocStreams.dedupBatchAgainstStore(d.where(preds(3)), 3L, store,
      maxSlices = 2)
    val liveAfter = graft.store.BucketedState.versions(spark, sigRoot)
    assert(liveAfter.toSet == Set("c3", "b3"), liveAfter.toString)
    val stateDocs = graft.store.BucketedState.slices(spark, sigRoot)
      .map(_.select("id").distinct().collect().map(_.getLong(0)).toSeq)
      .foldLeft(Seq.empty[Long])(_ ++ _)
    assert(stateDocs.distinct.size == stateDocs.size,
      "a doc's signatures appear in two live slices after replay")
  }

  test("out-of-band compactDedupState folds all three surfaces; later batches unaffected") {
    import graft.streaming.DocStreams
    import graft.store.BucketedState
    val d = Tables.read(spark, sf(), "documents")
    val total = Tables.parquetRowCount(spark, s"${sf()}/documents.parquet")
    val cuts = Seq(total / 4, total / 2, 3 * total / 4)
    val preds = Seq(
      col("doc_id") < cuts(0),
      col("doc_id") >= cuts(0) && col("doc_id") < cuts(1),
      col("doc_id") >= cuts(1) && col("doc_id") < cuts(2),
      col("doc_id") >= cuts(2))
    // Maintenance-compacted deployment vs never-compacted replay: two
    // batches land, the nightly job folds (stream idle — no exclude),
    // two more batches run against the folded state. Survivors and
    // every later batch's state must be indistinguishable.
    val stA = new graft.store.Store(spark, TempDirs.create("graft_oob_a_"))
    val stB = new graft.store.Store(spark, TempDirs.create("graft_oob_b_"))
    def run(st: graft.store.Store, i: Int): Set[Long] =
      DocStreams.dedupBatchAgainstStore(d.where(preds(i)), i.toLong, st,
        maxSlices = 0).select("doc_id").collect().map(_.getLong(0)).toSet
    var kept = Set.empty[(Int, Long)]
    (0 to 1).foreach(i => kept ++= run(stA, i).map(i -> _))
    DocStreams.compactDedupState(spark, stA, "m0")
    val sigRoot = stA.statePath("streaming/neardup-sigs")
    val freqRoot = stA.statePath("streaming/neardup-freqs")
    val cntRoot = stA.statePath("streaming/neardup-sigs-counts")
    assert(BucketedState.versions(spark, sigRoot) == Seq("m0"))
    assert(BucketedState.versions(spark, freqRoot) == Seq("m0"))
    assert(BucketedState.versions(spark, cntRoot) == Seq("m0"))
    // Idempotent replay of the maintenance job: no-op, not an error.
    DocStreams.compactDedupState(spark, stA, "m0")
    assert(BucketedState.versions(spark, sigRoot) == Seq("m0"))
    (2 to 3).foreach(i => kept ++= run(stA, i).map(i -> _))
    val expected = (0 to 3).flatMap(i => run(stB, i).map(i -> _)).toSet
    assert(kept == expected,
      s"oob-only=${(kept -- expected).size} plain-only=${(expected -- kept).size}")
    // Re-running the job with the SAME label after new batches landed
    // refuses loudly and names the recovery.
    val e = intercept[IllegalArgumentException] {
      DocStreams.compactDedupState(spark, stA, "m0")
    }
    assert(e.getMessage.contains("pick a NEW label"), e.getMessage)
    DocStreams.compactDedupState(spark, stA, "m1")
    assert(BucketedState.versions(spark, sigRoot) == Seq("m1"))
  }

  test("crash mid-batch: checkpoint-derived exclude folds safely, replay converges (r18)") {
    import graft.store.BucketedState
    import graft.streaming.DocStreams
    // The r17 silent-corruption path: a batch crashes AFTER its state
    // slices land but BEFORE the checkpoint commit; an out-of-band fold
    // that consumed that slice would then race the replay's rewrite —
    // the same docs live in the fold AND the rewritten slice. r18's
    // compactDedupState reads the stream's own offsets/commits logs and
    // excludes the uncommitted batch automatically — no manual exclude,
    // no operator inference.
    val d = Tables.read(spark, sf(), "documents")
    val total = Tables.parquetRowCount(spark, s"${sf()}/documents.parquet")
    val cuts = Seq(total / 4, total / 2, 3 * total / 4)
    val preds = Seq(
      col("doc_id") < cuts(0),
      col("doc_id") >= cuts(0) && col("doc_id") < cuts(1),
      col("doc_id") >= cuts(1) && col("doc_id") < cuts(2),
      col("doc_id") >= cuts(2))
    val srcDir = java.nio.file.Paths.get(TempDirs.create("graft_crash_src_"))
    preds.zipWithIndex.foreach { case (pred, i) =>
      val tmp = java.nio.file.Paths.get(TempDirs.create(s"graft_cr${i}_"))
      d.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dest = srcDir.resolve(s"batch$i.parquet")
      java.nio.file.Files.move(part, dest)
      dest.toFile.setLastModified(1700000000000L + i.toLong * 60000L)
    }
    val store = new graft.store.Store(spark, TempDirs.create("graft_crash_st_"))
    val outDir = TempDirs.create("graft_crash_out_") + "/kept"
    val ckpt = TempDirs.create("graft_crash_ckpt_")
    @volatile var crashed = false
    def body(b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        id: Long): Unit = {
      val kept = DocStreams.dedupBatchAgainstStore(b, id, store, maxSlices = 0)
      // First attempt at batch 2 dies here: all three state slices are
      // on disk, the sink write and the checkpoint commit never happen.
      if (id == 2L && !crashed) {
        crashed = true
        throw new RuntimeException("injected mid-batch crash")
      }
      kept.write.mode("append").parquet(outDir)
    }
    def start() = spark.readStream.schema(DocStreams.docSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      .writeStream.foreachBatch(body _)
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      throw q1.exception.get // surfaced either way: stop if PAA returned
    }
    q1.stop()
    assert(crashed, "the injected crash never fired")
    val sigRoot = store.statePath("streaming/neardup-sigs")
    assert(BucketedState.versions(spark, sigRoot).toSet ==
      Set("b0", "b1", "b2"), "crash staging is wrong")
    // The derivation itself, against the REAL checkpoint the crashed
    // query left: batch 2 started (offsets) but never committed.
    assert(DocStreams.uncommittedBatchLabels(spark, ckpt) == Set("b2"))
    // The nightly job, mid-outage, with NO manual exclude: must fold
    // b0+b1 and leave the replay-rewritable b2 alone on all surfaces.
    DocStreams.compactDedupState(spark, store, "m0",
      checkpoint = Some(ckpt))
    Seq("streaming/neardup-sigs", "streaming/neardup-freqs",
      "streaming/neardup-sigs-counts").foreach { t =>
      assert(BucketedState.versions(spark, store.statePath(t)).toSet ==
        Set("m0", "b2"), s"surface $t folded the uncommitted slice")
    }
    // Restart: batch 2 replays (rewrites b2, appends its survivors once),
    // batch 3 runs fresh.
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(BucketedState.versions(spark, sigRoot).toSet ==
      Set("m0", "b2", "b3"))
    // No doc's signatures are ever visible in two live slices.
    val stateDocs = BucketedState.slices(spark, sigRoot)
      .flatMap(_.select("id").distinct().collect().map(_.getLong(0)))
    assert(stateDocs.distinct.size == stateDocs.size,
      "a doc's signatures appear in two live slices after fold+replay")
    // End-to-end equivalence with the never-crashed, never-folded run.
    val streamed = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val store2 = new graft.store.Store(spark, TempDirs.create("graft_crash_st2_"))
    val expected = preds.zipWithIndex.flatMap { case (pred, i) =>
      DocStreams.dedupBatchAgainstStore(d.where(pred), i.toLong, store2,
        maxSlices = 0).select("doc_id").collect().map(_.getLong(0))
    }.toSet
    assert(streamed == expected,
      s"crashed-run-only=${(streamed -- expected).size} " +
        s"control-only=${(expected -- streamed).size}")
    // Fabricated-checkpoint edges of the derivation: all committed ->
    // only the NEXT batch id; fresh checkpoint -> empty.
    val fake = TempDirs.create("graft_ckpt_fake_")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$fake/offsets"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$fake/commits"))
    Seq("offsets/0", "offsets/1", "commits/0", "commits/1",
      "offsets/.1.tmp").foreach { n =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$fake/$n"),
        "x".getBytes)
    }
    assert(DocStreams.uncommittedBatchLabels(spark, fake) == Set("b2"))
    // Existing-but-fresh checkpoint (no batch ever started): legitimately
    // empty. A MISTYPED path must fail loudly instead of silently
    // returning the unprotected empty set.
    assert(DocStreams.uncommittedBatchLabels(spark,
      TempDirs.create("graft_ckpt_empty_")) == Set.empty)
    val typo = intercept[IllegalArgumentException] {
      DocStreams.uncommittedBatchLabels(spark, "/nonexistent/ckpt/path")
    }
    assert(typo.getMessage.contains("does not exist"), typo.getMessage)
  }

  test("legacy row-versioned counts state fails loudly, names the migration") {
    import graft.streaming.DocStreams
    import spark.implicits._
    // A pre-r17 deployment: counts persisted as an ordinary store table
    // (sig/freq already migrated away, or empty history). Resuming the
    // stream must refuse — silently ignoring the legacy table would
    // re-derive denominators the layout exists to persist, and folding
    // it kept the keepLast delete-before-publish crash window open.
    val store = new graft.store.Store(spark, TempDirs.create("graft_legacy_cnt_"))
    store.load(Seq((1L, 5L)).toDF("id", "n_sh"),
      "streaming/neardup-sigs-counts", externalKey = "b0")
    val batch = Seq((10L, "src", "some document text for the guard test"))
      .toDF("doc_id", "source", "text")
    val e = intercept[IllegalStateException] {
      DocStreams.dedupBatchAgainstStore(batch, 1L, store)
    }
    assert(e.getMessage.contains("legacy row-versioned per-doc counts"))
    assert(e.getMessage.contains("BucketedState.write"))
  }

  test("streaming corpus ingest == replayed batch pipeline; card accumulates; decontam bites") {
    import graft.ops.Dedup
    import graft.streaming.DocStreams
    val (srcDir, cut) = stageDocHalves()
    val d = Tables.read(spark, sf(), "documents")
    val bench = d.where(pmod(col("doc_id"), lit(50)) === 3)
    // Day-0 setup, once per deployment: the pinned reference artifact.
    val store = new graft.store.Store(spark, TempDirs.create("graft_stream_cb_"))
    Dedup.saveReferenceShingles(store, "streaming/decontam-ref", bench,
      "doc_id", "text")
    val ckpt = TempDirs.create("graft_stream_cb_ckpt_")
    val stream = spark.readStream.schema(DocStreams.docSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = DocStreams.corpusIngestTo(stream, store)
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = store.get("streaming/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // The replayed batch sequence the stream must reproduce: the same
    // foreachBatch body run twice against a second store.
    val store2 = new graft.store.Store(spark, TempDirs.create("graft_stream_cb2_"))
    Dedup.saveReferenceShingles(store2, "streaming/decontam-ref", bench,
      "doc_id", "text")
    val k0 = DocStreams.corpusIngestBatch(d.where(col("doc_id") < cut), 0, store2)
    val k1 = DocStreams.corpusIngestBatch(d.where(col("doc_id") >= cut), 1, store2)
    val expected = (k0.select("doc_id").collect() ++
      k1.select("doc_id").collect()).map(_.getLong(0)).toSet
    assert(streamed == expected,
      s"stream-only=${(streamed -- expected).size} batch-only=${(expected -- streamed).size}")

    // Decontamination bites: bench-split docs flow through the crawl
    // files but never reach the corpus (each trivially shares its own
    // shingles with the reference).
    assert(streamed.nonEmpty)
    assert(!streamed.exists(_ % 50 == 3))

    // The published card (accumulate-read over per-batch versions)
    // equals the direct aggregate over the accumulated corpus.
    import graft.ops.TextOps
    val card = store.get("streaming/corpus-card")
      .groupBy("source")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val direct = store.get("streaming/corpus")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(card == direct)

    // One version per non-empty micro-batch on BOTH bucketed state
    // surfaces: signature slices and frequency slices.
    val sigRoot = store.statePath("streaming/corpus-sigs")
    assert(graft.store.BucketedState.versions(spark, sigRoot).toSet ==
      Set("b0", "b1"))
    val freqRoot = store.statePath("streaming/corpus-freqs")
    assert(graft.store.BucketedState.versions(spark, freqRoot).toSet ==
      Set("b0", "b1"))
    // The folded frequency state equals the per-batch aggregates summed
    // (the zipper fold's correctness on real overlapping slices).
    val folded = Dedup.foldShingleFreqSlices(
        graft.store.BucketedState.slices(spark, freqRoot))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectFreqs = Dedup.shingleDocFreqs(
        Dedup.shingleSignatures(
          d.where(TextOps.qualityRules(col("text")).keep), "doc_id", "text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(folded == expectFreqs)
  }

  test("streaming bitext mining == replayed per-batch margin mining; pinned target") {
    import graft.streaming.DocStreams
    import graft.ops.Similarity
    val emb = Tables.read(spark, sf(), "embeddings")
    // Target corpus = odd ids, PINNED in the store (the stored-artifact
    // seam); the stream delivers even-id source embeddings in two
    // batches split by id.
    val store = new graft.store.Store(spark,
      TempDirs.create("graft_bitext_store_"), idBucketWidth = 1L)
    store.load(emb.where(pmod(col("vec_id"), lit(2)) === 1), "bitext/tgt",
      externalKey = "v1")
    val srcAll = emb.where(pmod(col("vec_id"), lit(2)) === 0)
    val cut = 250L
    val srcDir = java.nio.file.Paths.get(TempDirs.create("graft_bitext_src_"))
    Seq(("0", col("vec_id") < cut), ("1", col("vec_id") >= cut)).foreach {
      case (tag, pred) =>
        val tmp = java.nio.file.Paths.get(TempDirs.create(s"graft_bx${tag}_"))
        srcAll.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp)
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        val dest = srcDir.resolve(s"batch$tag.parquet")
        java.nio.file.Files.move(part, dest)
        dest.toFile.setLastModified(1700000000000L + tag.toLong * 60000L)
    }
    val outDir = TempDirs.create("graft_bitext_out_") + "/pairs"
    val ckpt = TempDirs.create("graft_bitext_ckpt_")
    val srcStream = spark.readStream.schema(DocStreams.embSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = DocStreams.bitextMinedTo(
      srcStream, store, "bitext/tgt",
      outDir, ckpt, k = 4, threshold = 1.02, maxExactRows = Long.MaxValue)
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(outDir)
      .collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("tgt_id"),
        r.getAs[Double]("margin"), r.getAs[Long]("batch_id"))).toSet
    // The replayed batch sequence: the same op per source batch against
    // the same pinned target (batch-local margins — the documented
    // streaming contract).
    val tgt = store.get("bitext/tgt")
    val expected = Seq((0L, col("vec_id") < cut), (1L, col("vec_id") >= cut))
      .flatMap { case (bid, pred) =>
        Similarity.marginBitextPairs(srcAll.where(pred), tgt,
          "vec_id", "embedding", k = 4, threshold = 1.02,
          maxExactRows = Long.MaxValue)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), bid))
      }.toSet
    assert(streamed == expected,
      s"stream-only=${(streamed -- expected).size} batch-only=${(expected -- streamed).size}")
    assert(streamed.nonEmpty, "fixture mined no pairs — threshold too high to grade")
    // Per-batch rate monitor reads directly off the sink.
    val perBatch = spark.read.parquet(outDir).groupBy("batch_id").count()
    assert(perBatch.count() >= 1L)
  }

  test("streaming multi-benchmark contamination monitor == batch op per replayed half") {
    import graft.ops.{Dedup, TextOps}
    import graft.streaming.DocStreams
    val (srcDir, cut) = stageDocHalves()
    val d = Tables.read(spark, sf(), "documents")
    val isA = pmod(col("doc_id"), lit(50)) === 3
    val isB = pmod(col("doc_id"), lit(50)) === 7
    // Benchmarks as PINNED store artifacts (the qn121 seam). The
    // streamed corpus is the full staged doc set — benchmark docs
    // screening against their own suite is fine here; the monitor's
    // contract is per-doc, per-suite counts, not corpus curation.
    val store = new graft.store.Store(spark, TempDirs.create("graft_cmon_"))
    Dedup.saveReferenceShingles(store, "bench/a", d.where(isA),
      "doc_id", "text", externalKey = "v1")
    Dedup.saveReferenceShingles(store, "bench/b", d.where(isB),
      "doc_id", "text", externalKey = "v1")
    val refs = Seq("bench_a" -> "bench/a/signatures",
      "bench_b" -> "bench/b/signatures")
    val stream = spark.readStream.schema(DocStreams.docSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val outDir = TempDirs.create("graft_cmon_out_") + "/hits"
    val ckpt = TempDirs.create("graft_cmon_ckpt_")
    val writer = DocStreams.contaminationMonitorTo(stream, store, refs,
      outDir, ckpt)
    // A suite update lands AFTER the monitor was constructed: the
    // stream must keep serving the version it pinned at construction —
    // doc 0 is not a bench_a doc, so if the new version leaked in (via
    // `_last` re-resolution or an accumulate read) its shingles would
    // add bench_a rows and the batch comparison below would fail.
    Dedup.saveReferenceShingles(store, "bench/a",
      d.where(col("doc_id") === 0), "doc_id", "text", externalKey = "v2")
    val q = writer.start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("benchmark"),
        r.getAs[Long]("n_overlap"))).toSet
    // Per-doc screening is batch-independent: the replayed halves must
    // union to exactly the one-shot batch op over the full corpus.
    val expected = TextOps.contaminationOverlapMultiStored(d,
        Seq("bench_a" -> store.get("bench/a/signatures", Some("v1")),
          "bench_b" -> store.get("bench/b/signatures", Some("v1"))),
        "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == expected,
      s"stream-only=${(streamed -- expected).size} batch-only=${(expected -- streamed).size}")
    assert(streamed.nonEmpty && cut > 0)
    // Both batches contributed rows (the leak-rate monitor axis).
    val batches = spark.read.parquet(outDir)
      .select("batch_id").distinct().count()
    assert(batches == 2L, s"expected 2 batches, got $batches")
  }

  test("streaming near-dup alerts == batch MinHash candidates on a replayed ingest") {
    import graft.ops.Dedup
    import graft.streaming.DocStreams
    val (srcDir, _) = stageDocHalves()
    val stream = spark.readStream.schema(DocStreams.docSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val alerts = EventStreams.runToMemory(spark,
      DocStreams.nearDupAlerts(stream, simThreshold = 0.7).toDF(),
      "t_ndalerts", OutputMode.Append())
    // Replay order equals doc-id order (halves split by id, in-bucket
    // processing sorts by id), so the batch reference is exactly "has a
    // banded candidate partner with a smaller id": qn03's detector.
    val d = Tables.read(spark, sf(), "documents")
    val expected = Dedup.minhashCandidatePairs(d, "doc_id", "text",
        simThreshold = 0.7)
      .select("doc_b").collect().map(_.getLong(0)).toSet
    val got = alerts.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected,
      s"alert-only=${(got -- expected).size} batch-only=${(expected -- got).size}")
    // Alert estimates must agree bit-for-bit with the batch op's
    // signature estimate for the same (prior, doc) pair.
    val batchEst = Dedup.minhashCandidatePairs(d, "doc_id", "text",
        simThreshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val mismatched = alerts.collect().filter { r =>
      val key = (r.getLong(1), r.getLong(0))
      batchEst.get(key).exists(e =>
        math.abs(e - (math.round(r.getDouble(2) * 10000) / 10000.0)) > 1e-9)
    }
    assert(mismatched.isEmpty, mismatched.take(3).toSeq.toString)
  }
}
