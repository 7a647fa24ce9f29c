package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `corpus_pipeline`: graded queries over the committed sf0.01 fixtures that
  * drive the store lifecycle writes and every ops module, as many small
  * jobs.
  *
  * One client runs the queries one at a time, in an order drawn from the
  * seed: two untimed warm-up passes, then passes until the run's seconds
  * are spent (at least [[PipelineWorkload.MinTimedPasses]] whole passes).
  * Every execution ends in one aggregate over all output columns (row
  * count plus the decimal sum of `xxhash64` over every column), so no
  * output column or sort can be pruned away; that aggregate is the output
  * fingerprint checked against `expected.json`.
  */
final class PipelineWorkload(spark: SparkSession, a: Main.Args, layers: LayerMap, jvmStartMs: Long) {

  import PipelineWorkload._

  private val names: Seq[String] = {
    val byId = graft.SparkEntry.queries.keys.map(n => n.takeWhile(_ != '_') -> n).toMap
    PipelineIds.map(id =>
      byId.getOrElse(id, throw new IllegalStateException(s"query $id is not registered")))
  }

  private val expected: Map[String, (Long, String)] = {
    val f = new File(a.bench, "expected.json")
    val root = Main.mapper.readTree(f)
    root.properties().asScala.filterNot(_.getKey.startsWith("_")).map { e =>
      e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("fp").asText())
    }.toMap
  }

  private val rowsOnly: Set[String] = {
    val f = new File(a.bench, "unstable.txt")
    scala.io.Source.fromFile(f).getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSet
  }

  private val observed = mutable.Map[String, mutable.Set[String]]()

  /** One execution: build the query's DataFrame, then run the fingerprint
    * aggregate. Returns (build seconds, action seconds, ok).
    */
  private def execute(name: String, r: Main.Result): (Double, Double, Boolean) = {
    r.attempted += 1
    val t0 = System.nanoTime()
    try {
      val df = graft.SparkEntry.queries(name)(spark, a.data)
      val t1 = System.nanoTime()
      val (rows, fp) = fingerprint(df)
      val t2 = System.nanoTime()
      observed.getOrElseUpdate(name, mutable.Set()) += s"$rows:$fp"
      // Recording (building expected.json) has nothing to check against.
      val ok = a.record.isDefined || expected.get(name).exists { case (er, efp) =>
        er == rows && (rowsOnly(name) || efp == fp)
      }
      if (!ok) {
        r.failed += 1
        System.err.println(s"[perfbench] $name: output rows=$rows fp=$fp, expected ${expected.get(name)}")
      }
      System.err.println(f"[perfbench] $name%-36s build ${(t1 - t0) / 1e9}%7.3f s  action ${(t2 - t1) / 1e9}%7.3f s")
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, ok)
    } catch {
      case scala.util.control.NonFatal(e) =>
        r.failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
        ((System.nanoTime() - t0) / 1e9, 0.0, false)
    }
  }

  /** Runs `order` once, until `deadline`. */
  private def pass(order: Seq[String], r: Main.Result, deadline: Long = Long.MaxValue): PassStats = {
    val ps = new PassStats
    val t0 = System.nanoTime()
    val it = order.iterator
    while (it.hasNext && System.nanoTime() < deadline) {
      val n = it.next()
      ps.add(n, execute(n, r))
    }
    ps.wall = (System.nanoTime() - t0) / 1e9
    ps
  }

  def run(r: Main.Result): Unit = {
    val rnd = new java.util.Random(a.seed)
    def shuffled(): Seq[String] = {
      val b = names.toBuffer
      java.util.Collections.shuffle(b.asJava, rnd)
      b.toSeq
    }
    // Warm-up: two untimed passes over the set, so JIT, codegen and
    // reader/writer initialisation are paid before timing (a first timed
    // pass after one warm-up pass still ran up to 2x slower on 4 cores).
    pass(shuffled(), r)
    pass(shuffled(), r)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    Main.LiveHeap.sample()
    if (!a.trace) {
      r.metric("setup_s", setupS, "s")
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      val all = new PassStats
      val walls = r.detail.putArray("pass_walls_s")
      def timedPass(until: Long): Unit = {
        val p = pass(shuffled(), r, until)
        walls.add(p.wall)
        all.add(p)
      }
      // At least MinTimedPasses complete passes, so every query's median
      // rests on several samples and one slow pass does not move it.
      var passes = 0
      while (passes < MinTimedPasses || System.nanoTime() < deadline) {
        timedPass(if (passes < MinTimedPasses) Long.MaxValue else deadline)
        passes += 1
      }
      all.report(r)
      r.detail.put("setup_s", setupS)
      r.detail.put("passes_wall_s", all.wall)
      val ex = r.detail.putArray("executions_s")
      all.log.foreach { case (n, t) => ex.addArray().add(n).add(t) }
      val pq = r.detail.putObject("query_median_s")
      names.foreach(n => all.times.get(n).foreach(ts => pq.put(n, Stats.median(ts.toSeq))))
    } else {
      // Each query runs twice, untraced and traced, in alternating order,
      // so the difference measures tracing and not warm-up drift.
      r.detail.put("setup_s", setupS)
      val trace = new SparkTrace(spark, layers)
      trace.install()
      val untraced, traced = new PassStats
      var fs = FsCounters.Zero
      var gcMs = 0L
      val perQuery = r.detail.putObject("per_query")
      shuffled().zipWithIndex.foreach { case (n, i) =>
        def plain(): Unit = untraced.add(n, execute(n, r))
        def withTrace(): Unit = {
          val fs0 = FsCounters.snap()
          val gc0 = Stats.gcMillis()
          val (e, js, planMs) = trace.traced(execute(n, r))
          fs += FsCounters.snap() - fs0
          gcMs += Stats.gcMillis() - gc0
          traced.add(n, e)
          traced.jobs ++= js
          traced.planningMs += planMs
          val q = perQuery.putObject(n)
          q.put("build_s", e._1)
          q.put("action_s", e._2)
          q.put("jobs", js.size)
          q.put("tasks", js.map(_.tasks).sum)
          q.put("busy_s", SparkTrace.busySeconds(js))
          q.put("planning_ms", planMs)
          val byFile = q.putObject("jobs_by_file")
          js.groupBy(_.file).toSeq.sortBy(_._1).foreach { case (f, fj) => byFile.put(f, fj.size) }
        }
        if (i % 2 == 0) { plain(); withTrace() } else { withTrace(); plain() }
      }
      LayerReport.queries(r, traced, untraced, fs, gcMs / 1000.0)
    }
    a.record.foreach { path =>
      val o = Main.mapper.createObjectNode()
      observed.toSeq.sortBy(_._1).foreach { case (n, vs) =>
        val arr = o.putArray(n)
        vs.toSeq.sorted.foreach(arr.add)
      }
      Main.mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), o)
    }
  }
}

/** Timings of one or more passes over a query set. */
final class PassStats {
  val times = mutable.LinkedHashMap[String, mutable.Buffer[Double]]()
  /** (query, seconds) of every correct execution, in order. */
  val log = mutable.Buffer[(String, Double)]()
  var build, action, wall, planningMs = 0.0
  var executions = 0
  val jobs = mutable.Buffer[JobRec]()

  /** Adds one execution: (build seconds, action seconds, output correct). */
  def add(name: String, e: (Double, Double, Boolean)): Unit = {
    val (b, act, ok) = e
    if (ok) {
      times.getOrElseUpdate(name, mutable.Buffer()) += b + act
      log += name -> (b + act)
    }
    build += b
    action += act
    wall += b + act
    executions += 1
  }

  def add(o: PassStats): Unit = {
    o.times.foreach { case (n, ts) => times.getOrElseUpdate(n, mutable.Buffer()) ++= ts }
    log ++= o.log
    build += o.build
    action += o.action
    wall += o.wall
    executions += o.executions
  }

  def medians: Seq[Double] = times.values.map(ts => Stats.median(ts.toSeq)).toSeq

  /** The end-to-end latency metrics of these passes. */
  def report(r: Main.Result): Unit = {
    val ms = medians
    r.metric("op_p50_ms", Stats.median(ms) * 1000, "ms")
    r.metric("op_p90_ms", Stats.quantile(ms, 0.9) * 1000, "ms")
    r.metric("ops_per_s", executions / wall, "1/s")
    r.metric("sum_p50_s", ms.sum, "s")
  }
}

object PipelineWorkload {

  /** Complete timed passes a run makes, however short its seconds. */
  val MinTimedPasses = 3

  /** The store lifecycle writes (compact, merge) and one query per ops
    * module: MinHash dedup (`qn03`), bitext similarity (`qn113`), the BPE
    * tokenizer (`qn100`), mixture sampling (`qn28`) and the learned quality
    * model with its driver-local fit (`qn105`).
    */
  val PipelineIds: Seq[String] = Seq("qs05", "qs07", "qn03", "qn113", "qn100", "qn28", "qn105")

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count and the decimal sum of `xxhash64` over every column (maps,
    * which `xxhash64` refuses, hash through their JSON form). The decimal
    * cast keeps the sum exact: a `long` sum overflows under ANSI mode.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val row = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast(DecimalType(38, 0)))).head()
    (row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("null"))
  }
}
