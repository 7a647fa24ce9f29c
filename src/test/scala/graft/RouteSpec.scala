package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextOps}

/** [[Route]]: the cap rule, what each probe costs, and the route every
  * size-routed op takes at exactly `cap` rows and at `cap+1`.
  */
class RouteSpec extends SparkSpec {

  /** `f`'s result and the stage names of the jobs it started. */
  private def jobsDuring[T](f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        names.add(e.stageInfos.map(_.name).mkString(";"))
    }
    org.apache.spark.ListenerBusTestBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val v = f
      org.apache.spark.ListenerBusTestBridge.drain(sc)
      (v, names.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** `f`'s result and the number of Dataset actions it ran. */
  private def actionsDuring[T](f: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = n.incrementAndGet()
      override def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = n.incrementAndGet()
    }
    org.apache.spark.ListenerBusTestBridge.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val v = f
      org.apache.spark.ListenerBusTestBridge.drain(spark.sparkContext)
      (v, n.get)
    } finally spark.listenerManager.unregister(listener)
  }

  /** `df` written to parquet and read back: its row count is in the footers. */
  private def onDisk(df: DataFrame): DataFrame = {
    val dir = s"${TempDirs.create("graft_route_")}/t"
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  private lazy val embs = onDisk(
    spark.read.parquet(s"${sf()}/embeddings.parquet").orderBy("vec_id").limit(60))

  /** Whether a coarse quantizer was fit: the routed cosine legs fit
    * KMeans cells eagerly, the exact legs run no job to be built.
    */
  private def fitsCells(jobs: Seq[String]): Boolean = jobs.exists(_.contains("KMeans"))

  test("the cap rule: small iff rows <= cap; Long.MaxValue and negative caps ask for no rows") {
    def never: Long = throw new AssertionError("the rows were asked for")
    assert(Route.fits(Long.MaxValue)(never))
    assert(!Route.fits(-1L)(never))
    assert(Route.fits(0L)(0L) && !Route.fits(0L)(1L))
    assert(Route.fits(5L)(5L) && !Route.fits(5L)(6L))
    // The cosine detectors' default ceiling: 20,000 rows exact, 20,001 routed.
    assert(Route.fits(Similarity.DefaultExactCosineRows)(2000L))
    assert(Route.fits(Similarity.DefaultExactCosineRows)(20000L))
    assert(!Route.fits(Similarity.DefaultExactCosineRows)(20001L))
  }

  test("probe cost: no job when the hint, the footers or the cap decide; one bounded probe otherwise") {
    val stored = onDisk(spark.range(10).toDF("id"))
    val computed = spark.range(10).toDF("id").where(col("id") >= 0)
    def jobs[T](f: => T): (T, Int) = { val (v, js) = jobsDuring(f); (v, js.size) }
    assert(jobs(Route.rows(computed, Some(10L))) == ((10L, 0)))
    assert(jobs(Route.rows(stored)) == ((10L, 0)))
    assert(jobs(Route.fitsProbed(stored, 10L)) == ((true, 0)))
    assert(jobs(Route.fitsProbed(stored, 9L)) == ((false, 0)))
    assert(jobs(Route.fitsProbed(computed, Long.MaxValue)) == ((true, 0)))
    assert(jobs(Route.fitsProbed(computed, -1L)) == ((false, 0)))
    assert(jobs(Route.collectAtMost(computed, -1L)) == ((None, 0)))
    // Footers unavailable: one limit(cap+1) action decides.
    val (in, inCost) = actionsDuring(Route.fitsProbed(computed, 10L))
    val (over, overCost) = actionsDuring(Route.fitsProbed(computed, 9L))
    assert(in && !over && inCost == 1 && overCost == 1)
    val (rows, fetchCost) = actionsDuring(Route.collectAtMost(computed, 10L))
    assert(rows.map(_.length).contains(10) && fetchCost == 1)
    assert(Route.collectAtMost(computed, 9L).isEmpty)
  }

  test("a probe that reaches its limit is over the cap, also where the Int clamp cuts the limit") {
    // limit = cap+1 up to Int.MaxValue: a probe that returns the whole
    // limit proves nothing about rows <= cap, so it routes large. Past
    // the clamp (cap >= Int.MaxValue) the old StoreServer check counted
    // Int.MaxValue rows as in-cap, and no GET cap at or above
    // Int.MaxValue was enforced.
    assert(Route.probeLimit(9L) == 10)
    assert(Route.probeLimit(Int.MaxValue - 1L) == Int.MaxValue)
    assert(Route.probeLimit(Int.MaxValue.toLong) == Int.MaxValue)
    assert(Route.probeLimit(Long.MaxValue - 1L) == Int.MaxValue)
    val ten = spark.range(10).toDF("id").where(col("id") >= 0)
    assert(!Route.fitsProbed(ten, 9L) && Route.fitsProbed(ten, 10L))
  }

  test("connectedComponents: cap edges run union-find on the driver, cap+1 the star rounds") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    def onDriver(p: DataFrame, cap: Long): Boolean =
      Dedup.connectedComponents(p, "a", "b", smallGraphMaxEdges = cap)
        .queryExecution.logical.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    assert(onDriver(pairs, 3L))
    assert(!onDriver(pairs, 2L))
    assert(!onDriver(pairs, 0L) && !onDriver(pairs, -1L))
    assert(onDriver(pairs, Long.MaxValue))
    // The one route the single cap rule changed: an empty graph at cap 0
    // (0 rows <= 0) is labelled on the driver. Both routes label nothing.
    val empty = pairs.where(col("a") < 0)
    assert(onDriver(empty, 0L) && !onDriver(empty, -1L))
    assert(Dedup.connectedComponents(empty, "a", "b", smallGraphMaxEdges = 0L).count() == 0L)
    assert(Dedup.connectedComponents(empty, "a", "b", smallGraphMaxEdges = -1L).count() == 0L)
  }

  test("bpeTrain: a cap-row vocabulary trains on the driver after one action, cap+1 per round") {
    import spark.implicits._
    // Four word types of length >= 2: aa, ab, bb, ba.
    val docs = Seq((0L, "aa ab bb"), (1L, "aa ba ab")).toDF("id", "text")
    def train(cap: Long) = actionsDuring(
      TextOps.bpeTrain(docs, "text", numMerges = 2, smallVocabMaxRows = cap)
        .orderBy("round").collect().toSeq)
    val (local, localActions) = train(4L)
    val (dist, distActions) = train(3L)
    // One action for the route and the fetch, plus the caller's collect
    // of the merges.
    assert(localActions == 2, s"local route ran $localActions actions")
    assert(distActions > localActions + 2, s"distributed route ran $distActions actions")
    assert(local == dist)
  }

  test("pruneCorpusToCandidates: cap distinct ids filter the corpus, cap+1 leave it whole") {
    import spark.implicits._
    val cand = Seq((0L, 1L, 0.9), (0L, 2L, 0.8), (1L, 2L, 0.7)).toDF("query_id", "vec_id", "score")
    val corpus = (0L until 10L).map(i => (i, i.toString)).toDF("id", "v")
    assert(Similarity.pruneCorpusToCandidates(cand, corpus, "id", maxIds = 2) ne corpus)
    assert(Similarity.pruneCorpusToCandidates(cand, corpus, "id", maxIds = 1) eq corpus)
  }

  test("cosine detectors: cap rows take the exact leg, cap+1 the cell-pruned leg") {
    val n = embs.count()
    def routed(build: Long => DataFrame, cap: Long): Boolean = {
      val (_, jobs) = jobsDuring(build(cap))
      fitsCells(jobs)
    }
    val positive = (cap: Long) => Similarity.positivePairs(embs, "vec_id", "embedding", "label",
      maxExactRows = cap)
    val agreement = (cap: Long) => Similarity.knnLabelAgreement(embs, embs, "vec_id",
      "embedding", "label", maxExactRows = cap)
    val (tgt, ref) = (onDisk(embs.where(col("vec_id") % 2 === 0)),
      onDisk(embs.where(col("vec_id") % 2 === 1)))
    val decontaminate = (cap: Long) => Similarity.semanticDecontaminate(tgt, ref, "vec_id",
      "embedding", threshold = 0.9, maxExactRows = cap)
    val bitext = (cap: Long) => Similarity.marginBitextPairs(tgt, ref, "vec_id", "embedding",
      maxExactRows = cap)
    for ((name, op) <- Seq("positivePairs" -> positive, "knnLabelAgreement" -> agreement,
        "semanticDecontaminate" -> decontaminate, "marginBitextPairs" -> bitext)) {
      assert(!routed(op, n), s"$name at cap rows")
      assert(routed(op, n - 1), s"$name at cap+1 rows")
      assert(!routed(op, Long.MaxValue) && routed(op, -1L), name)
    }
    // dedupByCosine's pair graph is labelled eagerly on either leg, so
    // its route shows only in the quantizer fit.
    val dedup = (cap: Long) => Similarity.dedupByCosine(embs, "vec_id", "embedding",
      threshold = 0.9, maxExactRows = cap)
    assert(!routed(dedup, n) && routed(dedup, n - 1))
  }

  test("local fits: cap rows fit on the driver, cap+1 with spark.ml") {
    import spark.implicits._
    val docs = onDisk((0 until 40).map { i =>
      (i.toLong, if (i % 2 == 0) s"alpha beta gamma $i" else s"delta epsilon zeta $i",
        if (i % 2 == 0) "a" else "b")
    }.toDF("id", "text", "domain"))
    def viaSparkMl(jobs: Seq[String]): Boolean = jobs.exists(_.contains("treeAggregate"))
    val label = Some(col("domain") === "a")
    def quality(cap: Long) = viaSparkMl(jobsDuring(TextOps.trainQualityModel(docs, "text",
      dim = 16, label = label, maxIter = 3, localFitMaxRows = cap))._2)
    def domain(cap: Long) = viaSparkMl(jobsDuring(TextOps.trainDomainModel(docs, "text",
      "domain", dim = 16, charDim = 0, maxIter = 3, localFitMaxRows = cap))._2)
    assert(!quality(40L) && quality(39L))
    assert(!domain(40L) && domain(39L))
  }

  test("StoreServer GET: a cap-row table answers 200, a cap+1-row table 413") {
    import spark.implicits._
    val store = new graft.store.Store(spark, TempDirs.create("graft_route_http_"))
    store.load((1L to 3L).map(i => (i, s"r$i")).toDF("id", "v"), "t", externalKey = "v1")
    val http = java.net.http.HttpClient.newHttpClient()
    def status(cap: Long): Int = {
      val server = new graft.server.StoreServer(spark, store, maxGetRows = cap)
      val port = server.start()
      try http.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/dataframes/t")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
      finally server.stop()
    }
    assert(status(3L) == 200 && status(2L) == 413)
  }

  test("planRowUpperBound is called under src/main only by FileStats and Route") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repository root, not ${main.toAbsolutePath}")
    // Split so this file does not match its own scan.
    val needle = "planRowUpperBound" + "("
    val walk = Files.walk(main)
    val callers =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && Files.readString(p).contains(needle))
        .map(p => main.relativize(p).toString).toSet
      finally walk.close()
    assert(callers == Set("scala/graft/store/FileStats.scala", "scala/graft/Route.scala"))
  }
}
