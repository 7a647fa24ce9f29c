package graft.server

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.SparkSession

import graft.store.{Store, Wire}

/** Minimal HTTP façade mapping the reference `DataFrameClient` 1:1 onto
  * [[graft.store.Store]] — the reference's actual product boundary is
  * HTTP (client.py:124 POST `/dataframes/upload`, client.py:170 GET
  * `/dataframes/{name}`, client.py:202 GET `/dataframes`), with error
  * bodies the client unwraps from `{"error": ...}` (client.py:132-137).
  * A caller porting reference code keeps its `api_url` call sites; the
  * engine behind them becomes this Spark store.
  *
  * Scope notes:
  *   - The wire format is the reference's row-JSON (client.py:114
  *     `to_json(orient='records')` up, client.py:176 `pd.DataFrame(
  *     response.json())` down) via [[Wire]] — a full-materialization
  *     transport by the REFERENCE'S design, so responses stream through
  *     the driver. This façade is SDK-parity for client-sized frames;
  *     cluster-scale access uses the Store/DataFrame API directly (the
  *     wire itself is the bottleneck, not the engine).
  *   - Per-request cost is set by fixed costs, not data work: a
  *     client-sized GET checks its row cap from parquet footers and
  *     reads and encodes its files on the driver
  *     ([[Wire.jsonRecordIterator]]), so it runs no Spark job; a
  *     client-sized upload is ONE Spark job with one task — the JSON is
  *     decoded on the driver ([[Wire.fromJsonRecords]]) and a keyed
  *     store write of driver-resident rows needs no clustering shuffle;
  *     a list runs no job at all. Replies go out with TCP_NODELAY (see
  *     the companion object) — with Nagle on, a small reply waited
  *     ~40 ms on the client's delayed ACK.
  *   - Every Spark job a request runs carries the description
  *     `store-server <METHOD> <path>`, so a trace can attribute it.
  *   - `Authorization` headers are accepted and ignored by default,
  *     mirroring the ctor's no-op auth slots (SURVEY §2.1 #10: authn
  *     out of scope). `requireAuth = true` opts into wire-SHAPE parity
  *     with the reference's Cognito gateway (client.py:60-63 always
  *     sends `Bearer <token>`): requests without a bearer token answer
  *     401 `{"error": ...}` before touching the store. Token
  *     VALIDATION stays out of scope — this is the auth failure mode's
  *     shape, not an authenticator.
  *   - JSON in/out uses Spark's own shipped Jackson — no new deps.
  *
  * Status mapping: validation errors and request bodies that are not
  * JSON (or not the gzip they are labelled) → 400, `Store.GetError` → 404,
  * over-`maxGetRows` reads → 413, everything else → 500; all error
  * bodies are `{"error": "<msg>"}`.
  *
  * @param maxGetRows GET row ceiling. The wire format is a single JSON
  *        array the client materializes whole (client.py:176), so an
  *        unbounded table read dies SOMEWHERE — without the cap it was
  *        a driver OOM here; the reference's remote backend fails just
  *        as fatally, only less legibly. The cap makes the failure mode
  *        honest: a reference-shaped 413 `{"error": ...}` naming the
  *        scale-appropriate alternative. <= 0 disables the cap.
  */
final class StoreServer(spark: SparkSession, store: Store, port: Int = 0,
    maxGetRows: Long = 1000000L, requireAuth: Boolean = false) {

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _
  private var executor: ExecutorService = _

  /** Start listening (loopback). Returns the bound port (ephemeral when
    * constructed with port 0).
    */
  def start(): Int = synchronized {
    require(server == null, "server already started")
    StoreServer.enableNoDelay()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/dataframes", (ex: HttpExchange) => handle(ex))
    // Small fixed pool: Store/Spark calls are thread-safe; one thread
    // per in-flight request keeps a slow upload from blocking a list.
    val bound = server.getAddress.getPort
    val threadIds = new java.util.concurrent.atomic.AtomicInteger()
    executor = Executors.newFixedThreadPool(4, (r: Runnable) =>
      new Thread(r, s"store-server-$bound-${threadIds.incrementAndGet()}"))
    server.setExecutor(executor)
    server.start()
    bound
  }

  /** Stop listening and end the request threads. The pool's threads are
    * non-daemon: left running, they keep the JVM alive after `main`
    * returns. Waits briefly for requests already being handled.
    */
  def stop(): Unit = synchronized {
    if (server != null) {
      server.stop(0)
      executor.shutdown()
      executor.awaitTermination(10, TimeUnit.SECONDS)
      server = null
      executor = null
    }
  }

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    val sc = spark.sparkContext
    sc.setJobDescription(s"store-server $method $path")
    try {
      if (requireAuth &&
          !Option(ex.getRequestHeaders.getFirst("Authorization"))
            .exists(_.trim.toLowerCase.startsWith("bearer "))) {
        respond(ex, 401, errorJson(
          "Unauthorized: missing or malformed Authorization bearer token"))
        return
      }
      (method, path) match {
        case ("POST", "/dataframes/upload") => upload(ex)
        case ("GET", "/dataframes") => list(ex)
        case ("GET", p) if p.startsWith("/dataframes/") =>
          get(ex, URLDecoder.decode(p.stripPrefix("/dataframes/"), UTF_8))
        case _ => respond(ex, 404, errorJson(s"No route for $method $path"))
      }
    } catch {
      case e: Store.GetError => respond(ex, 404, errorJson(e.getMessage))
      case e: IllegalArgumentException => respond(ex, 400, errorJson(e.getMessage))
      case e: Store.LoadError => respond(ex, 400, errorJson(e.getMessage))
      case scala.util.control.NonFatal(e) =>
        respond(ex, 500, errorJson(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    } finally {
      sc.setJobDescription(null)
      ex.close()
    }
  }

  /** Request body stream honoring `Content-Encoding` — the reference's
    * at-rest story is gzip (README.md:20), so reference-era clients may
    * ship compressed row-JSON; only gzip/identity are accepted, anything
    * else answers a reference-shaped 400 rather than parsing garbage.
    */
  private def requestBody(ex: HttpExchange): java.io.InputStream =
    Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
      .map(_.trim.toLowerCase) match {
      case Some("gzip") => new java.util.zip.GZIPInputStream(ex.getRequestBody)
      case None | Some("") | Some("identity") => ex.getRequestBody
      case Some(other) => throw new IllegalArgumentException(
        s"unsupported Content-Encoding '$other' (gzip or identity)")
    }

  /** Did the client offer gzip? (`requests` sends `Accept-Encoding:
    * gzip, deflate` by default and transparently decompresses, so the
    * python client gets wire compression with zero changes.)
    */
  private def acceptsGzip(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("Accept-Encoding")).exists(
      _.toLowerCase.split(",").exists(_.trim.takeWhile(_ != ';').trim == "gzip"))

  /** POST /dataframes/upload — body mirrors client.py:113-119:
    * `{dataframe: "<records json>", dataframe_name, columns_keys,
    * external_key, keep_last}`. The body is parsed once, straight from
    * the request stream. A body that is not JSON, a malformed payload or
    * a bad key answers 400 before any Spark job runs.
    */
  private def upload(ex: HttpExchange): Unit = {
    val body =
      try mapper.readTree(requestBody(ex))
      catch {
        // Both are IOExceptions, which handle() would answer 500; they
        // say what the client sent, not that the server failed.
        case e @ (_: com.fasterxml.jackson.core.JsonProcessingException |
            _: java.util.zip.ZipException) =>
          throw new IllegalArgumentException(
            s"request body is not valid JSON: ${e.getClass.getSimpleName}: ${e.getMessage}", e)
      }
    val records = Option(body.get("dataframe")).filterNot(_.isNull).map(_.asText())
      .getOrElse(throw new IllegalArgumentException("'dataframe' is required"))
    val name = Option(body.get("dataframe_name")).filterNot(_.isNull)
      .map(_.asText()).filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException("dataframe_name is required"))
    val columnsKeys: Map[String, String] =
      Option(body.get("columns_keys")).filterNot(_.isNull).map { n =>
        val b = Map.newBuilder[String, String]
        n.fields().forEachRemaining(e => b += e.getKey -> e.getValue.asText())
        b.result()
      }.getOrElse(Map.empty)
    val externalKey = Option(body.get("external_key")).filterNot(_.isNull)
      .map(_.asText()).getOrElse(Store.NowKey)
    val keepLast = Option(body.get("keep_last")).filterNot(_.isNull)
      .exists(_.asBoolean(false))
    // Root-level JSON arrays parse one row per element (Spark's reader
    // semantics), exactly matching to_json(orient='records') payloads.
    import spark.implicits._
    val df = Wire.fromJsonRecords(spark, spark.createDataset(Seq(records)))
    // Malformed records surface as Spark's corrupt-record column; the
    // reference's backend answers 400 {"error": ...}, not a silently
    // stored garbage table.
    val corruptCol = spark.conf.get("spark.sql.columnNameOfCorruptRecord", "_corrupt_record")
    if (df.columns.contains(corruptCol))
      throw new IllegalArgumentException(
        "'dataframe' is not records-orient JSON (expected an array of objects)")
    val info = store.load(df, name, columnsKeys, externalKey, keepLast)
    respond(ex, 200, mapper.writeValueAsString(
      new java.util.LinkedHashMap[String, String] {
        info.foreach { case (k, v) => put(k, v) }
      }))
  }

  /** GET /dataframes/{name}?external_key=...&use_last=true — returns the
    * rows as a records-orient JSON array (client.py:176 rebuilds a
    * DataFrame straight from it).
    *
    * The row cap is checked BEFORE any body byte, so an over-cap table
    * answers 413 with nothing streamed. [[graft.Route.fitsProbed]]
    * decides it from the parquet footers of the files the read resolved
    * to (a store read is a projection over a parquet scan), so it costs
    * no Spark job. Only when that count is unavailable (more footers
    * than its budget) does one bounded probe job decide.
    *
    * In-cap responses stream from [[Wire.jsonRecordIterator]]. A
    * client-sized read is read and encoded on the driver, one file at a
    * time and one record at a time, with no Spark job; its file readers
    * are closed when the reply ends, however it ends. A frame past one
    * [[Wire.StreamChunkBytes]] chunk streams one job per chunk and holds
    * one chunk of JSON strings at a time. The driver never holds the
    * whole frame.
    */
  private def get(ex: HttpExchange, name: String): Unit = {
    val params = queryParams(ex)
    val df = store.get(name,
      externalKey = params.get("external_key"),
      useLast = params.get("use_last").exists(_.equalsIgnoreCase("true")))
    if (maxGetRows > 0 && !graft.Route.fitsProbed(df, maxGetRows)) {
      respond(ex, 413, errorJson(
        s"Result for '$name' exceeds $maxGetRows rows — too large for the " +
          "records-JSON wire format; read it through the Store DataFrame API " +
          "or narrow the request with external_key"))
      return
    }
    // Planned before the headers, so a read that cannot start still
    // answers 500. No file is open until the loop below reaches it.
    val records = Wire.jsonRecordIterator(df)
    // Streaming starts here: headers are committed, so any mid-stream
    // failure can only truncate the body (the client's JSON parse fails
    // loudly) — it must NOT fall through to handle()'s error responder,
    // which would try to send headers twice. When the client offered
    // gzip, the chunked body is gzip-compressed on the fly (row-JSON
    // compresses ~10×; the wire, not the engine, is this path's
    // bottleneck — see the class scaladoc).
    val gzip = acceptsGzip(ex)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    if (gzip) ex.getResponseHeaders.set("Content-Encoding", "gzip")
    ex.sendResponseHeaders(200, 0)
    val os =
      if (gzip) new java.util.zip.GZIPOutputStream(ex.getResponseBody, 8192)
      else ex.getResponseBody
    try {
      os.write('[')
      var first = true
      while (records.hasNext) {
        if (!first) os.write(',')
        os.write(records.next().getBytes(UTF_8))
        first = false
      }
      os.write(']')
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[store-server] GET $name stream aborted: ${e.getMessage}")
    } finally {
      // A client that hangs up mid-reply leaves a file reader open, and
      // on the driver no task end closes it. Both closes are swallowed
      // for the same reason as the write failure above: headers are
      // committed, so escaping to handle()'s responder would attempt a
      // second header-send. (os.close() flushes the chunked trailer and
      // throws again on an aborted connection.)
      try records.close()
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[store-server] GET $name: closing its readers failed: ${e.getMessage}")
      }
      try os.close()
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** GET /dataframes?prefix=... — catalog listing (client.py:185-215;
    * the reference leaves the body shape to the backend).
    */
  private def list(ex: HttpExchange): Unit = {
    val infos = store.list(prefix = queryParams(ex).get("prefix"))
    val root = mapper.createObjectNode()
    val arr = root.putArray("dataframes")
    infos.foreach { t =>
      val o = arr.addObject()
      o.put("name", t.name)
      val vs = o.putArray("versions")
      t.versions.foreach(vs.add)
      t.lastVersion.foreach(o.put("last_version", _))
      val ck = o.putObject("columns_keys")
      t.columnsKeys.toSeq.sortBy(_._1).foreach { case (c, k) => ck.put(c, k) }
    }
    respond(ex, 200, mapper.writeValueAsString(root))
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split("&"))
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8))
          case Array(k) if k.nonEmpty => Some(URLDecoder.decode(k, UTF_8) -> "")
          case _ => None
        }
      }.toMap

  private def errorJson(msg: String): String =
    mapper.writeValueAsString(mapper.createObjectNode().put("error", msg))

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

object StoreServer {

  /** Turns Nagle's algorithm off for every JDK `HttpServer` in this JVM.
    * The JDK server reads `sun.net.httpserver.nodelay` once, at its first
    * `HttpServer.create`, and has no other switch. With Nagle on, a
    * reply small enough to fit one segment waits for the client's
    * delayed ACK (~40 ms on Linux) — most of a list request's latency
    * under two concurrent clients. An explicit setting of the property
    * is kept.
    */
  private def enableNoDelay(): Unit = {
    sys.props.getOrElseUpdate("sun.net.httpserver.nodelay", "true")
    ()
  }
}
