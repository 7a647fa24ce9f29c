package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.server.StoreServer
import graft.store.{Store, Wire}

/** `sdk_mixed`: the reference's whole product surface, `load_dataframe`,
  * `get_dataframe` and `list_dataframes`, as HTTP traffic to
  * [[graft.server.StoreServer]] on loopback.
  *
  * A closed loop of [[SdkWorkload.Clients]] clients: each sends its next
  * request when the previous reply has been read and checked. Each client
  * owns four tables and its own list prefix, so its operation sequence,
  * and every reply it expects, follows from the seed alone. The seeded mix
  * is 30% upload, 55% get and 15% list:
  *
  *  - uploads are 100-1000-row frames cut from the `lineitem`, `orders` and
  *    `events` fixtures, to tables keyed by Date, by ID, by both or by
  *    nothing, accumulating versions or keeping the last; half of them are
  *    gzip-encoded;
  *  - gets read the `_last` version, one version by `external_key`, or all
  *    versions, half of them asking for a gzip reply;
  *  - lists read the client's prefix.
  *
  * Every get must return exactly the rows uploaded for the versions it
  * reads (row count and an order-free row fingerprint), every list must
  * name exactly the client's tables, and every upload must answer 200.
  */
final class SdkWorkload(spark: SparkSession, a: Main.Args, work: File, layers: LayerMap,
    jvmStartMs: Long) {

  import SdkWorkload._

  private val inputsT0 = System.nanoTime()
  private val sources: Map[String, Array[String]] = loadSources()
  private val plans: Seq[Seq[Op]] = (0 until Clients).map(c => generate(c, new java.util.Random(a.seed * 31 + c)))
  private val inputsS = (System.nanoTime() - inputsT0) / 1e9

  // ------------------------------------------------------------ inputs

  /** Row-JSON of each upload source, in file order. */
  private def loadSources(): Map[String, Array[String]] = {
    def ymd(c: String) = date_format(col(c).cast("date"), "yyyy-MM-dd")
    def year(c: String) = date_format(trunc(col(c).cast("date"), "year"), "yyyy-MM-dd")
    val li = graft.Tables.read(spark, a.data, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), ymd("l_shipdate").as("l_shipdate"),
        year("l_shipdate").as("l_shipyear"))
    val ord = graft.Tables.read(spark, a.data, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        ymd("o_orderdate").as("o_orderdate"), year("o_orderdate").as("o_orderyear"),
        col("o_orderpriority"))
    // The reference wire carries timestamps as epoch milliseconds.
    val ev = graft.Tables.events(spark, a.data)
      .select(col("event_id"), unix_millis(col("ts")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    Map("lineitem" -> li, "orders" -> ord, "events" -> ev).map { case (n, df) => n -> df.toJSON.collect() }
  }

  /** Frames one client uploads: per source, `FramesPerSource` slices at
    * seeded offsets, with sizes on a fixed geometric ladder from `MinRows`
    * to `MaxRows`, so every seed uploads the same size mix.
    */
  private def frames(rnd: java.util.Random): Map[String, IndexedSeq[Frame]] =
    sources.map { case (n, rows) =>
      n -> (0 until FramesPerSource).map { i =>
        val len = math.min(rows.length,
          (MinRows * math.pow(MaxRows.toDouble / MinRows, i / (FramesPerSource - 1.0))).round.toInt)
        val off = rnd.nextInt(rows.length - len + 1)
        val slice = rows.slice(off, off + len)
        val json = slice.mkString("[", ",", "]")
        val escaped = Main.mapper.writeValueAsString(json).getBytes(UTF_8)
        val fp = slice.map(r => rowHash(Main.mapper.readTree(r))).sum
        Frame(json, escaped, gzip(escaped), len, fp)
      }
    }

  /** `block` shuffled by `rnd`, repeated until `n` draws. Seeds then
    * change the order of draws but not their mix, which keeps the
    * end-to-end figures of different seeds comparable.
    */
  private def stratified[T](block: Seq[T], n: Int, rnd: java.util.Random): Iterator[T] =
    Iterator.continually {
      val b = block.toBuffer
      java.util.Collections.shuffle(b.asJava, rnd)
      b
    }.flatten.take(n)

  /** The seeded operation sequence of client `c`, with the reply each
    * operation must get. It opens with one upload per table (the store
    * pre-population) and `WarmupOps` warm-up operations. In every block of
    * 20 operations there are 6 uploads, 11 gets and 3 lists; uploads and
    * gets visit the tables in turn; gets read the last version, one
    * version by key and all versions in the ratio 4:3:3.
    */
  private def generate(c: Int, rnd: java.util.Random): Seq[Op] = {
    val fs = frames(rnd)
    val tables = TableShapes.map(s => s.copy(name = s"c$c/${s.name}"))
    val state = tables.map(_ => mutable.LinkedHashMap[String, (Long, Long)]())
    val counters = Array.fill(tables.size)(0)
    val n = WarmupOps + OpsPerClient
    val kinds = stratified(Seq.fill(6)("upload") ++ Seq.fill(11)("get") ++ Seq.fill(3)("list"), n, rnd)
    val uploadTables = stratified(tables.indices, n, rnd)
    val getTables = stratified(tables.indices, n, rnd)
    val modes = stratified(Seq.fill(4)("last") ++ Seq.fill(3)("key") ++ Seq.fill(3)("all"), n, rnd)
    val frameIdx = tables.indices.map(_ => stratified(0 until FramesPerSource, n + 1, rnd))
    def upload(t: Int): Op = {
      val spec = tables(t)
      val f = fs(spec.source)(frameIdx(t).next())
      counters(t) += 1
      val label = if (spec.now) Store.NowKey else f"v${counters(t)}%04d"
      // Accumulating tables are reset once they hold MaxVersions, so reads
      // of all versions stay bounded however long the run is.
      val keepLast = spec.keepLast || state(t).size >= MaxVersions
      if (keepLast) state(t).clear()
      state(t)(if (spec.now) s"now${counters(t)}" else label) = (f.rows.toLong, f.fp)
      Upload(spec, f, label, keepLast, gzip = counters(t) % 2 == 0)
    }
    def get(t: Int): Op = {
      val versions = state(t)
      // `NOW` labels are not known to the client, so those tables are read by `_last`.
      val mode = modes.next() match {
        case "key" if tables(t).now => "last"
        case m => m
      }
      val picked = mode match {
        case "last" => Seq(versions.last)
        case "key" => Seq(versions.toSeq(rnd.nextInt(versions.size)))
        case _ => versions.toSeq
      }
      Get(tables(t).name, mode, if (mode == "key") Some(picked.head._1) else None,
        rnd.nextBoolean(), picked.map(_._2._1).sum, picked.map(_._2._2).sum)
    }
    val ops = Seq.newBuilder[Op]
    tables.indices.foreach(t => ops += upload(t))
    kinds.foreach {
      case "upload" => ops += upload(uploadTables.next())
      case "get" => ops += get(getTables.next())
      case _ => ops += ListOp(s"c$c", tables.map(_.name).toSet)
    }
    ops.result()
  }

  // ------------------------------------------------------------ execution

  /** Runs one operation over HTTP; returns (latency ms, ok). */
  private def viaHttp(port: Int, op: Op): (Double, Boolean) = op match {
    case u: Upload =>
      val head = s"""{"dataframe_name":${q(u.spec.name)},"columns_keys":${keysJson(u.spec.keys)},""" +
        s""""external_key":${q(u.label)},"keep_last":${u.keepLast},"dataframe":"""
      val parts = if (u.gzip) Seq(gzip(head.getBytes(UTF_8)), u.frame.gzipped, gzip(Array('}'.toByte)))
                  else Seq(head.getBytes(UTF_8), u.frame.escaped, Array('}'.toByte))
      val t0 = System.nanoTime()
      val (code, _, _) = http(port, "POST", "/dataframes/upload", parts, u.gzip, acceptGzip = false)
      ((System.nanoTime() - t0) / 1e6, code == 200)
    case g: Get =>
      val qs = g.mode match {
        case "last" => "?use_last=true"
        case "key" => "?external_key=" + java.net.URLEncoder.encode(g.label.get, UTF_8)
        case _ => ""
      }
      val t0 = System.nanoTime()
      val (code, body, gz) = http(port, "GET", "/dataframes/" + g.name + qs, Nil, false, g.acceptGzip)
      val ms = (System.nanoTime() - t0) / 1e6
      (ms, code == 200 && checkRows(readRows(if (gz) gunzip(body) else body), g))
    case l: ListOp =>
      val t0 = System.nanoTime()
      val (code, body, _) = http(port, "GET", "/dataframes?prefix=" + l.prefix, Nil, false, false)
      val ms = (System.nanoTime() - t0) / 1e6
      (ms, code == 200 && Main.mapper.readTree(body).get("dataframes").elements().asScala
        .map(_.get("name").asText()).toSet == l.names)
  }

  /** One operation as direct calls into the functions the server calls,
    * each timed: upload = `Wire.fromJsonRecords` then `Store.load`; get =
    * `Store.get` then `Wire.toJsonRecords`, drained; list = `Store.list`.
    */
  private def direct(store: Store, op: Op, trace: SparkTrace, acc: DirectAcc): Boolean = {
    def timed[T](kind: String)(f: => T): T = {
      var ms = 0.0
      var fs = FsCounters.Zero
      val (v, js, _) = trace.traced {
        val fs0 = FsCounters.snap()
        val t0 = System.nanoTime()
        val v = f
        ms = (System.nanoTime() - t0) / 1e6
        fs = FsCounters.snap() - fs0
        v
      }
      acc.add(kind, ms, js.size, fs)
      v
    }
    import spark.implicits._
    op match {
      case u: Upload =>
        val df = timed("decode")(Wire.fromJsonRecords(spark, spark.createDataset(Seq(u.frame.json))))
        timed("load")(store.load(df, u.spec.name, u.spec.keys, u.label, u.keepLast))
        true
      case g: Get =>
        val df = timed("get")(store.get(g.name,
          externalKey = g.label, useLast = g.mode == "last"))
        val rows = timed("encode")(Wire.toJsonRecords(df).toLocalIterator().asScala.toVector)
        checkRows(rows.iterator.map(r => Main.mapper.readTree(r)), g)
      case l: ListOp =>
        timed("list")(store.list(Some(l.prefix))).map(_.name).toSet == l.names
    }
  }

  private def newStore(tag: String): (Store, File) = {
    val root = new File(work, s"store-$tag")
    (new Store(spark, root.getAbsolutePath), root)
  }

  def run(r: Main.Result): Unit = {
    if (!a.trace) runTimed(r) else runTraced(r)
  }

  /** The closed loop: both clients run pre-population and a fixed count
    * of warm-up operations (set-up ends there), then the timed operations
    * until the deadline and until at least [[MinTimedOps]] have completed.
    */
  private def runTimed(r: Main.Result): Unit = {
    val (store, root) = newStore("timed")
    val server = new StoreServer(spark, store)
    val port = server.start()
    try {
      // (seconds into the timed phase, kind, latency ms) of every checked operation
      val samples = mutable.Buffer[(Double, String, Double)]()
      val fails = new java.util.concurrent.atomic.AtomicLong()
      val attempts = new java.util.concurrent.atomic.AtomicLong()
      val reached = Array.fill(plans.size)(0)
      var t0 = 0L
      def runOps(c: Int, from: Int, until: Int, more: () => Boolean, record: Boolean): Unit = {
        var i = from
        while (i < until && more()) {
          val op = plans(c)(i)
          attempts.incrementAndGet()
          val (ms, ok) =
            try viaHttp(port, op)
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[perfbench] client $c op $i: $e"); (0.0, false) }
          if (!ok) {
            fails.incrementAndGet()
            System.err.println(s"[perfbench] client $c op $i (${kindOf(op)}) failed its check")
          } else if (record) {
            val at = (System.nanoTime() - t0) / 1e9
            samples.synchronized(samples += ((at, kindOf(op), ms)))
          }
          i += 1
        }
        reached(c) = i
      }
      val warmT0 = System.nanoTime()
      inParallel(c => runOps(c, 0, TableShapes.size + WarmupOps, () => true, record = false))
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      r.detail.put("setup_inputs_s", inputsS)
      r.detail.put("setup_prepopulate_warmup_s", (System.nanoTime() - warmT0) / 1e9)
      val timedFrom = reached.clone()
      t0 = System.nanoTime()
      val deadline = t0 + a.seconds * 1000000000L
      inParallel(c => runOps(c, timedFrom(c), plans(c).size,
        () => System.nanoTime() < deadline || samples.synchronized(samples.size) < MinTimedOps,
        record = true))
      val wall = (System.nanoTime() - t0) / 1e9
      Main.LiveHeap.sample()
      r.attempted = attempts.get
      r.failed = fails.get
      val all = samples.toSeq.sortBy(_._1)
      r.metric("setup_s", setupS, "s")
      reportLatencies(r, all.map(x => x._2 -> x._3), wall)
      // op_p90_ms must rest on at least MinAboveP90 samples.
      val p90 = Stats.quantile(all.map(_._3), 0.9)
      val aboveP90 = all.count(_._3 > p90)
      r.detail.put("timed_ops", all.size)
      r.detail.put("timed_ops_above_p90", aboveP90)
      r.detail.put("timed_wall_s", wall)
      if (aboveP90 < MinAboveP90)
        throw new IllegalStateException(s"only $aboveP90 timed operations lie above p90; need $MinAboveP90")
      r.detail.put("store_bytes_per_user_byte", dirBytes(root).toDouble /
        plans.indices.map(c => plans(c).take(reached(c)).collect { case u: Upload => u.frame.json.length.toLong }.sum).sum)
      val tl = r.detail.putArray("timeline")
      all.foreach { case (t, k, ms) =>
        tl.addArray().add(math.round(t * 1000) / 1000.0).add(k).add(math.round(ms * 10) / 10.0)
      }
      val kinds = r.detail.putObject("by_kind")
      all.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (k, xs) =>
        val o = kinds.putObject(k)
        o.put("count", xs.size)
        o.put("p50_ms", Stats.median(xs.map(_._3)))
        o.put("p90_ms", Stats.quantile(xs.map(_._3), 0.9))
      }
      if (plans.indices.exists(c => reached(c) >= plans(c).size))
        System.err.println("[perfbench] a client ran out of operations before the deadline")
    } finally server.stop()
  }

  /** The traced run: the same seeded prefix of every client's sequence
    * (clients alternating), one operation at a time, on three fresh
    * stores: over HTTP untraced, over HTTP traced, and as direct calls
    * traced. Each operation runs on the three in rotating order, so their
    * differences measure the server and the tracing, not warm-up drift.
    */
  private def runTraced(r: Main.Result): Unit = {
    val order = (0 until TableShapes.size + TracedWarmupOps + TracedOps)
      .flatMap(i => plans.indices.map(c => plans(c)(i)))
    val timedFrom = plans.size * (TableShapes.size + TracedWarmupOps)
    val trace = new SparkTrace(spark, layers)
    trace.install()
    val (storeU, rootU) = newStore("untraced")
    val (storeT, _) = newStore("traced")
    val (storeD, _) = newStore("direct")
    val servers = Seq(storeU, storeT).map(s => new StoreServer(spark, s))
    val Seq(portU, portT) = servers.map(_.start())
    try {
      val untraced, traced = mutable.Buffer[(String, Double)]()
      val jobs = mutable.Buffer[JobRec]()
      var planningMs = 0.0
      var fs = FsCounters.Zero
      var gcMs = 0L
      val acc = new DirectAcc
      def attempt(tag: String, i: Int, op: Op)(f: => Boolean): Boolean = {
        r.attempted += 1
        val ok = try f catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $tag op $i: $e"); false }
        if (!ok) {
          r.failed += 1
          System.err.println(s"[perfbench] $tag op $i (${kindOf(op)}) failed its check")
        }
        ok
      }
      order.zipWithIndex.foreach { case (op, i) =>
        val timed = i >= timedFrom
        if (i == timedFrom) {
          r.detail.put("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1000.0)
          acc.reset()
        }
        val steps: Seq[() => Unit] = Seq(
          () => {
            var ms = 0.0
            if (attempt("untraced", i, op) { val (t, ok) = viaHttp(portU, op); ms = t; ok } && timed)
              untraced += kindOf(op) -> ms
          },
          () => {
            var ms = 0.0
            val fs0 = FsCounters.snap()
            val gc0 = Stats.gcMillis()
            val (ok, js, planMs) = trace.traced(
              attempt("traced", i, op) { val (t, ok) = viaHttp(portT, op); ms = t; ok })
            if (timed) {
              fs += FsCounters.snap() - fs0
              gcMs += Stats.gcMillis() - gc0
              jobs ++= js
              planningMs += planMs
              if (ok) traced += kindOf(op) -> ms
            }
          },
          () => attempt("direct", i, op)(direct(storeD, op, trace, acc)))
        steps.indices.foreach(k => steps((i + k) % steps.size)())
      }
      val t = new Main.Result
      val u = new Main.Result
      reportLatencies(t, traced.toSeq, traced.map(_._2).sum / 1000)
      reportLatencies(u, untraced.toSeq, untraced.map(_._2).sum / 1000)
      def p50(k: String) = Stats.median(traced.filter(_._1 == k).map(_._2).toSeq)
      val directMs = Map(
        "upload" -> (acc.p50("decode") + acc.p50("load")),
        "get" -> (acc.p50("get") + acc.p50("encode")),
        "list" -> acc.p50("list"))
      LayerReport.emit(r,
        LayerReport.jobTotals(jobs.toSeq, traced.map(_._2).sum / 1000, planningMs, gcMs / 1000.0) ++
        LayerReport.fsTotals(fs) ++ LayerReport.overhead(t, u) ++
        Seq("upload", "get", "list").flatMap { k =>
          Seq(s"server.${k}_ms" -> p50(k), s"server.${k}_overhead_ms" -> (p50(k) - directMs(k)))
        } ++ Map(
          "wire.decode_ms" -> acc.p50("decode"), "wire.encode_ms" -> acc.p50("encode"),
          "store.load_ms" -> acc.p50("load"), "store.get_ms" -> acc.p50("get"),
          "store.list_ms" -> acc.p50("list"),
          "store.load_jobs" -> acc.meanJobs("load"), "store.get_jobs" -> acc.meanJobs("get"),
          "store.upload.fs_read_ops" -> acc.meanFs(Seq("decode", "load"), _.readOps),
          "store.upload.fs_write_ops" -> acc.meanFs(Seq("decode", "load"), _.writeOps),
          "store.upload.bytes_written" -> acc.meanFs(Seq("decode", "load"), _.bytesWritten),
          "store.get.fs_read_ops" -> acc.meanFs(Seq("get", "encode"), _.readOps),
          "store.list.fs_read_ops" -> acc.meanFs(Seq("list"), _.readOps),
          "store.bytes_per_user_byte" -> dirBytes(rootU).toDouble /
            order.collect { case u: Upload => u.frame.json.length.toLong }.sum))
      r.detail.put("traced_ops", order.size - timedFrom)
      Main.LiveHeap.sample()
    } finally servers.foreach(_.stop())
  }

  private def reportLatencies(r: Main.Result, lat: Seq[(String, Double)], wallS: Double): Unit = {
    val ms = lat.map(_._2)
    r.metric("op_p50_ms", Stats.median(ms), "ms")
    r.metric("op_p90_ms", Stats.quantile(ms, 0.9), "ms")
    r.metric("ops_per_s", lat.size / wallS, "1/s")
    r.metric("sum_p50_s",
      lat.groupBy(_._1).values.map(xs => Stats.median(xs.map(_._2))).sum / 1000.0, "s")
  }

  private def inParallel(f: Int => Unit): Unit = {
    val ts = plans.indices.map(c => new Thread(() => f(c), s"perfbench-client-$c"))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  private def checkRows(rows: Iterator[JsonNode], g: Get): Boolean = {
    var n = 0L
    var fp = 0L
    rows.foreach { row => n += 1; fp += rowHash(row) }
    val ok = n == g.rows && fp == g.fp
    if (!ok) System.err.println(s"[perfbench] get ${g.name} ${g.mode}: rows $n fp $fp, expected ${g.rows} ${g.fp}")
    ok
  }
}

object SdkWorkload {

  val Clients = 2
  val MinRows = 100
  val MaxRows = 1000
  val FramesPerSource = 4
  val MaxVersions = 4
  /** Untimed operations per client after the store pre-population. */
  val WarmupOps = 60
  /** The timed phase runs past its deadline until this many operations
    * have completed, so that at least [[MinAboveP90]] lie above p90.
    */
  val MinTimedOps = 120
  val MinAboveP90 = 10
  /** Long enough that no client runs out within a run on this hardware. */
  val OpsPerClient = 600
  /** Untimed and timed operations per client in each replay of the traced run. */
  val TracedWarmupOps = 16
  val TracedOps = 16

  /** An upload frame: its row-JSON, that JSON as an escaped JSON string
    * (plain and gzipped, ready to send), its row count and fingerprint.
    */
  final case class Frame(json: String, escaped: Array[Byte], gzipped: Array[Byte], rows: Int, fp: Long)
  final case class TableShape(name: String, source: String, keys: Map[String, String],
      keepLast: Boolean, now: Boolean)

  /** Each client's four tables: Date key, ID key, no key, Date and ID keys;
    * accumulating with explicit labels, or keep-last with `NOW` labels.
    */
  val TableShapes: Seq[TableShape] = Seq(
    TableShape("lineitem_by_year", "lineitem", Map("l_shipyear" -> Store.KeyDate), keepLast = false, now = false),
    TableShape("orders_by_customer", "orders", Map("o_custkey" -> Store.KeyId), keepLast = false, now = false),
    TableShape("events_latest", "events", Map.empty, keepLast = true, now = true),
    TableShape("orders_by_year_customer", "orders",
      Map("o_orderyear" -> Store.KeyDate, "o_custkey" -> Store.KeyId), keepLast = true, now = false))

  sealed trait Op
  final case class Upload(spec: TableShape, frame: Frame, label: String, keepLast: Boolean,
      gzip: Boolean) extends Op
  final case class Get(name: String, mode: String, label: Option[String], acceptGzip: Boolean,
      rows: Long, fp: Long) extends Op
  final case class ListOp(prefix: String, names: Set[String]) extends Op

  def kindOf(op: Op): String = op match {
    case _: Upload => "upload"
    case _: Get => "get"
    case _: ListOp => "list"
  }

  /** Per-kind latencies, job counts and filesystem counters of direct calls. */
  final class DirectAcc {
    private val recs = mutable.Buffer[(String, Double, Int, FsCounters)]()
    def add(kind: String, ms: Double, jobs: Int, fs: FsCounters): Unit = recs += ((kind, ms, jobs, fs))
    def reset(): Unit = recs.clear()
    private def of(k: String) = recs.filter(_._1 == k)
    def p50(k: String): Double = Stats.median(of(k).map(_._2).toSeq)
    def meanJobs(k: String): Double = of(k).map(_._3).sum.toDouble / of(k).size
    /** Mean per operation of a counter summed over the operation's calls. */
    def meanFs(kinds: Seq[String], f: FsCounters => Long): Double =
      kinds.map(k => of(k).map(x => f(x._4)).sum).sum.toDouble / of(kinds.head).size
  }

  /** Order-free fingerprint of one row: its non-null fields sorted by name,
    * integers and floating values kept apart, hashed to 64 bits.
    */
  def rowHash(row: JsonNode): Long = {
    val sb = new StringBuilder
    row.fieldNames().asScala.toSeq.sorted.foreach { n =>
      val v = row.get(n)
      if (!v.isNull) {
        sb.append(n).append('=')
        if (v.isIntegralNumber) sb.append('i').append(v.asLong())
        else if (v.isNumber) sb.append('d').append(java.lang.Double.doubleToLongBits(v.asDouble()))
        else if (v.isTextual) sb.append('s').append(v.asText())
        else sb.append('o').append(v.toString)
        sb.append('\u0001')
      }
    }
    val s = sb.toString
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x27d4eb2f).toLong & 0xffffffffL)
  }

  def readRows(body: Array[Byte]): Iterator[JsonNode] = Main.mapper.readTree(body).elements().asScala

  def q(s: String): String = Main.mapper.writeValueAsString(s)

  def keysJson(keys: Map[String, String]): String =
    keys.toSeq.sorted.map { case (c, k) => s"${q(c)}:${q(k)}" }.mkString("{", ",", "}")

  def gzip(b: Array[Byte]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bo)
    gz.write(b)
    gz.close()
    bo.toByteArray
  }

  def gunzip(b: Array[Byte]): Array[Byte] =
    new GZIPInputStream(new java.io.ByteArrayInputStream(b)).readAllBytes()

  /** One HTTP exchange; the body is sent as the concatenation of `parts`
    * (gzip members concatenate into one valid gzip stream). Returns status,
    * the raw reply body and whether it is gzip-encoded.
    */
  def http(port: Int, method: String, path: String, parts: Seq[Array[Byte]], gzipBody: Boolean,
      acceptGzip: Boolean): (Int, Array[Byte], Boolean) = {
    val c = new URL(s"http://127.0.0.1:$port$path").openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setRequestProperty("Accept-Encoding", if (acceptGzip) "gzip" else "identity")
    if (parts.nonEmpty) {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      if (gzipBody) c.setRequestProperty("Content-Encoding", "gzip")
      c.setFixedLengthStreamingMode(parts.map(_.length.toLong).sum)
      val os = c.getOutputStream
      parts.foreach(p => os.write(p))
      os.close()
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
    if (code >= 400) System.err.println(s"[perfbench] $method $path -> $code ${new String(body, UTF_8).take(300)}")
    (code, body, "gzip".equalsIgnoreCase(c.getHeaderField("Content-Encoding")))
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()
}
