package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.server.StoreServer
import graft.store.Store

/** Integration test for the REST façade: drives the reference
  * `DataFrameClient`'s three endpoints (upload / get / list) over
  * localhost with reference-shaped payloads and `{"error": ...}`
  * bodies (client.py:66-215).
  */
class StoreServerSpec extends SparkSpec {

  private lazy val store =
    new Store(spark, TempDirs.create("graft_http_"))
  private lazy val serverAndPort: (StoreServer, Int) = {
    val s = new StoreServer(spark, store)
    val p = s.start()
    (s, p)
  }
  private def base = s"http://127.0.0.1:${serverAndPort._2}"
  private val http = HttpClient.newHttpClient()

  override def afterAll(): Unit = {
    serverAndPort._1.stop()
    super.afterAll()
  }

  private def post(path: String, body: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .header("Content-Type", "application/json")
      .header("Authorization", "Bearer test-token") // accepted, ignored
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(path: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  /** Runs `f`; returns its result and the number of Spark jobs that
    * started meanwhile carrying the job description `description`.
    */
  private def jobsDescribed[T](description: String)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == description))
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

  test("POST /dataframes/upload stores a records payload with key partitioning") {
    // The exact payload shape client.py:113-119 sends.
    val records = """[{\"date\":\"2024-01-01\",\"id\":7,\"value\":1.5},""" +
      """{\"date\":\"2024-01-02\",\"id\":1503,\"value\":2.5}]"""
    val (r, jobs) = jobsDescribed("store-server POST /dataframes/upload")(
      post("/dataframes/upload",
        s"""{"dataframe": "$records",
           | "dataframe_name": "my-test/test1",
           | "columns_keys": {"date": "Date", "id": "ID"},
           | "external_key": "v1",
           | "keep_last": false}""".stripMargin))
    assert(r.statusCode() == 200, r.body())
    // The JSON decodes on the driver and the keyed write of driver-resident
    // rows needs no clustering shuffle: the write is the upload's one job.
    assert(jobs == 1, "a client-sized keyed upload runs as one Spark job")
    assert(r.body().contains("\"version\":\"v1\""), r.body())
    // And the store really partitioned it.
    val parts = store.getPartitioned("my-test/test1")
      .select(col("__p_date").cast("string"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(parts == Set("2024-01-01", "2024-01-02"))
  }

  test("GET /dataframes/{name} returns records JSON; selectors work") {
    post("/dataframes/upload",
      """{"dataframe": "[{\"id\":1,\"v\":\"a\"}]",
        | "dataframe_name": "my-test/test2", "external_key": "v1"}""".stripMargin)
    post("/dataframes/upload",
      """{"dataframe": "[{\"id\":2,\"v\":\"b\"}]",
        | "dataframe_name": "my-test/test2", "external_key": "v2"}""".stripMargin)
    val all = get("/dataframes/my-test/test2")
    assert(all.statusCode() == 200)
    // accumulate read: both versions' rows in the array
    assert(all.body().contains("\"id\":1") && all.body().contains("\"id\":2"))
    val v1 = get("/dataframes/my-test/test2?external_key=v1")
    assert(v1.body().contains("\"id\":1") && !v1.body().contains("\"id\":2"))
    val last = get("/dataframes/my-test/test2?use_last=true")
    assert(last.body().contains("\"id\":2") && !last.body().contains("\"id\":1"))
  }

  test("GET /dataframes lists with segment-prefix filtering") {
    val r = get("/dataframes?prefix=my-test")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"my-test/test1\"") && r.body().contains("\"dataframes\""))
    assert(r.body().contains("\"columns_keys\":{\"date\":\"Date\",\"id\":\"ID\"}"))
  }

  test("GET /dataframes?prefix= with an empty prefix lists every table") {
    val all = get("/dataframes")
    val r = get("/dataframes?prefix=")
    assert(r.statusCode() == 200 && all.statusCode() == 200)
    assert(r.body().contains("\"my-test/test1\""), r.body())
    assert(r.body() == all.body())
  }

  test("errors come back as status + {'error': ...} bodies (client.py:132-137)") {
    // bad key type -> 400 with the reference-shaped message
    val upload = "store-server POST /dataframes/upload"
    val (bad, badJobs) = jobsDescribed(upload)(post("/dataframes/upload",
      """{"dataframe": "[{\"a\":1}]", "dataframe_name": "t-err",
        | "columns_keys": {"a": "Hash"}}""".stripMargin))
    assert(bad.statusCode() == 400, bad.body())
    assert(badJobs == 0, "a rejected key type must not run a Spark job")
    assert(bad.body().startsWith("""{"error":""") &&
      bad.body().contains("Invalid key type"), bad.body())
    // missing table -> 404
    val missing = get("/dataframes/nope/nothing")
    assert(missing.statusCode() == 404 &&
      missing.body().startsWith("""{"error":"""), missing.body())
    // missing required field -> 400
    val noName = post("/dataframes/upload", """{"dataframe": "[{\"a\":1}]"}""")
    assert(noName.statusCode() == 400 &&
      noName.body().contains("dataframe_name is required"), noName.body())
    // unroutable -> 404 error body
    val noRoute = post("/dataframes/upload/extra", "{}")
    assert(noRoute.statusCode() == 404 &&
      noRoute.body().startsWith("""{"error":"""), noRoute.body())
    // malformed records payload -> 400, never a silently stored garbage table
    val (garbage, garbageJobs) = jobsDescribed(upload)(post("/dataframes/upload",
      """{"dataframe": "not records json", "dataframe_name": "t-garbage"}"""))
    assert(garbage.statusCode() == 400 &&
      garbage.body().contains("records-orient"), garbage.body())
    assert(garbageJobs == 0, "a malformed payload must not run a Spark job")
    assert(get("/dataframes/t-garbage").statusCode() == 404)
    // JSON null name/dataframe -> 400, not a table named "null"
    val nullName = post("/dataframes/upload",
      """{"dataframe": "[{\"a\":1}]", "dataframe_name": null}""")
    assert(nullName.statusCode() == 400, nullName.body())
    val nullDf = post("/dataframes/upload",
      """{"dataframe": null, "dataframe_name": "t-null"}""")
    assert(nullDf.statusCode() == 400, nullDf.body())
  }

  test("GET answers 413 for over-cap tables; in-cap responses stream whole (r8)") {
    import spark.implicits._
    // A second server over the same store with a tiny row cap — the wire
    // format materializes client-side whole, so the cap is the honest
    // failure mode for tables that were never client-sized.
    val capped = new StoreServer(spark, store, maxGetRows = 3L)
    val port = capped.start()
    def getCapped(path: String): HttpResponse[String] =
      http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
    try {
      store.load((1L to 10L).map(i => (i, s"r$i")).toDF("id", "v"),
        "my-test/big", externalKey = "v1")
      // The cap is checked from parquet footers: the refusal runs no job.
      val (over, overJobs) = jobsDescribed("store-server GET /dataframes/my-test/big")(
        getCapped("/dataframes/my-test/big"))
      assert(over.statusCode() == 413, s"${over.statusCode()} ${over.body()}")
      assert(overJobs == 0, "a 413 must not run a Spark job")
      assert(over.body().startsWith("""{"error":""") &&
        over.body().contains("exceeds 3 rows"), over.body())
      // In-cap table: the chunked stream must still be one well-formed
      // records array carrying every row.
      store.load((1L to 3L).map(i => (i, s"r$i")).toDF("id", "v"),
        "my-test/small", externalKey = "v1")
      val (ok, okJobs) = jobsDescribed("store-server GET /dataframes/my-test/small")(
        getCapped("/dataframes/my-test/small"))
      assert(ok.statusCode() == 200, ok.body())
      assert(okJobs == 0, "an in-cap client-sized GET is read on the driver, with no Spark job")
      assert(ok.body().startsWith("[") && ok.body().endsWith("]"), ok.body())
      assert((1L to 3L).forall(i => ok.body().contains(s""""id":$i""")), ok.body())
      assert(ok.body().count(_ == ',') >= 2, "3 records need 2+ separators")
    } finally capped.stop()
  }

  test("an upload body that is not JSON, or not the gzip it is labelled, answers 400") {
    val upload = "store-server POST /dataframes/upload"
    def send(body: String, gzipLabel: Boolean): HttpResponse[String] = {
      val b = HttpRequest.newBuilder(URI.create(s"$base/dataframes/upload"))
        .header("Content-Type", "application/json")
      if (gzipLabel) b.header("Content-Encoding", "gzip")
      http.send(b.POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    }
    val payload = """{"dataframe": "[{\"a\":1}]", "dataframe_name": "t-body"}"""
    val (truncated, truncatedJobs) = jobsDescribed(upload)(send(payload.dropRight(1), false))
    assert(truncated.statusCode() == 400, truncated.body())
    assert(truncated.body().startsWith("""{"error":"""), truncated.body())
    val (plain, plainJobs) = jobsDescribed(upload)(send(payload, true))
    assert(plain.statusCode() == 400, plain.body())
    assert(plain.body().startsWith("""{"error":"""), plain.body())
    assert(truncatedJobs == 0 && plainJobs == 0, "a body that is not JSON must not run a Spark job")
    assert(get("/dataframes/t-body").statusCode() == 404)
  }

  test("a GET whose client hangs up mid-reply closes its file readers; the server serves on") {
    import org.apache.spark.sql.execution.datasources.LocalScanBridge
    // About 15 MB of JSON: far more than the socket buffers, so the
    // server is still writing, with a reader open, when the client goes.
    store.load(spark.range(0, 100000).select(col("id"),
      sha2(col("id").cast("string"), 256).as("h1"), sha2(col("id").cast("string"), 512).as("h2")),
      "my-test/wide", externalKey = "v1")
    val before = LocalScanBridge.openReaders
    def await(cond: => Boolean): Boolean = {
      val deadline = System.nanoTime() + 20000000000L
      while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
      cond
    }
    val socket = new java.net.Socket("127.0.0.1", serverAndPort._2)
    try {
      socket.getOutputStream.write(
        "GET /dataframes/my-test/wide HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes("UTF-8"))
      socket.getOutputStream.flush()
      val first = new Array[Byte](4096)
      var got = 0
      while (got < first.length) {
        val n = socket.getInputStream.read(first, got, first.length - got)
        assert(n > 0, "the reply ended early")
        got += n
      }
      assert(new String(first, "UTF-8").startsWith("HTTP/1.1 200"))
      assert(await(LocalScanBridge.openReaders > before), "the reply is being read from a file")
    } finally socket.close()
    assert(await(LocalScanBridge.openReaders == before), "the reply's reader was left open")
    import spark.implicits._
    store.load(Seq((1L, "a")).toDF("id", "v"), "my-test/after-hangup", externalKey = "v1")
    val next = get("/dataframes/my-test/after-hangup")
    assert(next.statusCode() == 200 && next.body() == """[{"id":1,"v":"a"}]""", next.body())
  }

  test("stop() ends the server's request threads") {
    // Non-daemon request threads left running keep a JVM alive after its
    // main returns.
    val s = new StoreServer(spark, store)
    val port = s.start()
    def requestThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.getName.startsWith(s"store-server-$port-") && t.isAlive)
    val r = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/dataframes"))
      .GET().build(), HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body())
    assert(requestThreads.nonEmpty, "the request ran on the server's pool")
    s.stop()
    val deadline = System.nanoTime() + 5000000000L
    while (requestThreads.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(requestThreads.isEmpty, requestThreads.map(_.getName).mkString(", "))
  }

  test("wire gzip: compressed upload round-trips; gzip offered -> gzip body (r9)") {
    // Upload with Content-Encoding: gzip — a reference-era client whose
    // at-rest story is gzip (README.md:20) shipping compressed row-JSON.
    val payload =
      """{"dataframe": "[{\"id\":41,\"v\":\"gz\"},{\"id\":42,\"v\":\"gz2\"}]",
        | "dataframe_name": "my-test/gz", "external_key": "v1"}""".stripMargin
    val baos = new java.io.ByteArrayOutputStream()
    val gzOut = new java.util.zip.GZIPOutputStream(baos)
    gzOut.write(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    gzOut.close()
    val up = http.send(HttpRequest.newBuilder(URI.create(s"$base/dataframes/upload"))
      .header("Content-Type", "application/json")
      .header("Content-Encoding", "gzip")
      .POST(HttpRequest.BodyPublishers.ofByteArray(baos.toByteArray)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(up.statusCode() == 200, up.body())

    // Download offering gzip: body must come back Content-Encoding: gzip
    // and gunzip to the same records array a plain GET returns.
    val gz = http.send(HttpRequest.newBuilder(
        URI.create(s"$base/dataframes/my-test/gz"))
      .header("Accept-Encoding", "gzip")
      .GET().build(), HttpResponse.BodyHandlers.ofByteArray())
    assert(gz.statusCode() == 200)
    assert(gz.headers().firstValue("Content-Encoding").orElse("") == "gzip")
    val body = new String(
      new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(gz.body())).readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(body == get("/dataframes/my-test/gz").body(), body)
    assert(body.contains("\"id\":41") && body.contains("\"id\":42"), body)

    // No Accept-Encoding -> identity body, no Content-Encoding header
    // (java.net.http sends none by default — the pre-r9 tests above
    // already pin that path); unsupported request encoding -> 400.
    val plain = get("/dataframes/my-test/gz")
    assert(plain.statusCode() == 200 && plain.body().startsWith("["))
    val bad = http.send(HttpRequest.newBuilder(URI.create(s"$base/dataframes/upload"))
      .header("Content-Encoding", "br")
      .POST(HttpRequest.BodyPublishers.ofString(payload)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(bad.statusCode() == 400 &&
      bad.body().contains("unsupported Content-Encoding"), bad.body())
  }

  test("requireAuth: tokenless requests answer 401 {'error': ...}; bearer passes (r10)") {
    // Wire-SHAPE parity with the reference's Cognito gateway
    // (client.py:60-63 always sends `Bearer <token>`): a server opted
    // into requireAuth rejects bare requests before touching the store.
    val authed = new StoreServer(spark, store, requireAuth = true)
    val port = authed.start()
    def url(p: String) = URI.create(s"http://127.0.0.1:$port$p")
    try {
      val noTok = http.send(HttpRequest.newBuilder(url("/dataframes")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(noTok.statusCode() == 401, s"${noTok.statusCode()} ${noTok.body()}")
      assert(noTok.body().startsWith("""{"error":""") &&
        noTok.body().contains("Authorization"), noTok.body())
      val badScheme = http.send(HttpRequest.newBuilder(url("/dataframes"))
        .header("Authorization", "Basic dXNlcg==").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(badScheme.statusCode() == 401, badScheme.body())
      val ok = http.send(HttpRequest.newBuilder(url("/dataframes"))
        .header("Authorization", "Bearer any-token").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(ok.statusCode() == 200, s"${ok.statusCode()} ${ok.body()}")
    } finally authed.stop()
  }

  test("shipped python client runs the reference docstring flow over the live wire (r10)") {
    // The artifact a reference user actually executes
    // (clients/python/pandas_db_client.py) driven as a real python3
    // subprocess against the live HTTP server: load -> get(use_last) ->
    // list with prefix (client.py:1-32's docstring flow), plus the
    // {'error': ...} unwrapping and the client-side key-type guard.
    val clientDir = {
      val local = new java.io.File("clients/python")
      if (local.isDirectory) local.getAbsolutePath
      else new java.io.File(sys.props("user.dir"), "clients/python").getAbsolutePath
    }
    assume(new java.io.File(clientDir, "pandas_db_client.py").isFile)
    val script = java.nio.file.Paths.get(TempDirs.create("graft_pyclient_"), "client_check.py")
    Files.writeString(script,
      """import sys
        |sys.path.insert(0, sys.argv[1])
        |from pandas_db_client import DataFrameClient
        |
        |client = DataFrameClient(sys.argv[2], auth_token='ignored')
        |r = client.load_dataframe(
        |    [{'date': '2024-01-01', 'v': 1}, {'date': '2024-01-02', 'v': 2}],
        |    'py-test/test1', columns_keys={'date': 'Date'}, external_key='v1')
        |assert r.get('version') == 'v1', r
        |back = client.get_dataframe('py-test/test1', use_last=True)
        |rows = back.to_dict('records') if hasattr(back, 'to_dict') else back
        |assert sorted(row['v'] for row in rows) == [1, 2], rows
        |listing = client.list_dataframes(prefix='py-test')
        |names = [d['name'] for d in listing['dataframes']]
        |assert 'py-test/test1' in names, names
        |try:
        |    client.get_dataframe('py-test/nope')
        |    raise SystemExit('expected a GetError-shaped failure')
        |except Exception as e:
        |    msg = str(e)
        |    assert 'Error retrieving DataFrame' in msg and 'not found' in msg, msg
        |try:
        |    client.load_dataframe([{'a': 1}], 'py-test/bad',
        |                          columns_keys={'a': 'Hash'})
        |    raise SystemExit('expected a client-side key-type ValueError')
        |except ValueError:
        |    pass
        |print('PY-CLIENT-OK')
        |""".stripMargin)
    val proc = new ProcessBuilder("python3", script.toString, clientDir, base)
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    val rc = proc.waitFor()
    assert(rc == 0 && out.contains("PY-CLIENT-OK"), s"rc=$rc\n$out")
  }
}
