package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** One benchmark invocation: one workload in this JVM, then exit.
  *
  * {{{
  * java -cp ... perfbench.Main --workload sdk_mixed --seed 1 --seconds 20 \
  *   --trace 0 --bench perfbench --src src/main/scala --work .bench_build/work \
  *   --out result.json
  * }}}
  *
  * The result file holds `correct`, `attempted`, `failed`, `metrics` (each
  * `{"value", "unit"}`) and a `detail` object with everything else the run
  * measured (host, per-kind latencies, per-query times, layer totals).
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      bench: String, src: String, work: String, out: String, record: Option[String]) {
    /** The committed input tables (the sf0.01 fixtures). */
    def data: String = new File(bench, "data").getAbsolutePath
  }

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("bench"), need("src"), need("work"), need("out"), m.get("record"))
  }

  val mapper = new ObjectMapper()

  /** The result of one workload run, before it is written out. */
  final class Result {
    val metrics: ObjectNode = mapper.createObjectNode()
    val detail: ObjectNode = mapper.createObjectNode()
    var attempted = 0L
    var failed = 0L
    def metric(name: String, value: Double, unit: String): Unit = {
      val o = metrics.putObject(name)
      o.put("value", value)
      o.put("unit", unit)
    }
  }

  def session(cpus: Int, work: File, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.fs.file.impl",
        (if (trace) classOf[CountingLocalFileSystem] else classOf[graft.hadoop.FastLocalFileSystem]).getName)
    graft.Graft.singleJvmScaleConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Live heap: old-generation occupancy after forced full collections,
    * which read the retained set (occupancy after the collections a run
    * happens to trigger depends on their timing). Sampled once per run,
    * after the pipeline's warm-up or after the SDK workload's operations.
    */
  object LiveHeap {
    private var peak = 0L
    private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
    /** Collects until occupancy stops falling (at most five times, half a
      * second apart): Spark's cleaner releases cached blocks and broadcasts
      * only after a collection has found their handles unreachable.
      */
    def sample(): Unit = {
      def collect(): Long = {
        System.gc()
        oldPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
      }
      var used = collect()
      var rounds = 1
      var falling = true
      while (falling && rounds < 5) {
        Thread.sleep(500)
        val next = collect()
        falling = next < used * 0.98
        used = math.min(used, next)
        rounds += 1
      }
      peak = math.max(peak, used)
    }
    def peakMb: Double = peak / (1024.0 * 1024.0)
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        run(parse(argv))
        0
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          2
      }
    // Exit explicitly: the product's HTTP server leaves a non-daemon
    // executor behind, so returning from main would hang the JVM.
    System.exit(code)
  }

  def run(a: Args): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors()
    val work = new File(a.work)
    work.mkdirs()
    val weather0 = graft.tools.CpuWeatherProbe.snap()
    val spark = session(cpus, work, a.trace)
    val r = new Result
    val layers = new LayerMap(new File(a.src))
    try {
      a.workload match {
        case "sdk_mixed" => new SdkWorkload(spark, a, work, layers, jvmStartMs).run(r)
        case "corpus_pipeline" => new PipelineWorkload(spark, a, layers, jvmStartMs).run(r)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      // Per-layer, not end-to-end: after the same warm-up, corpus_pipeline
      // retains either ~79 or ~207 MB (4 cores), whatever the query order.
      if (a.trace) r.metric("jvm.live_heap_mb", LiveHeap.peakMb, "MB")
      else r.detail.put("live_heap_mb", LiveHeap.peakMb)
    } finally spark.stop()
    val host = r.detail.putObject("host")
    host.put("cpus", cpus)
    host.put("max_heap_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
    host.put("seed", a.seed)
    host.put("workload", a.workload)
    host.put("trace", a.trace)
    host.put("gc_ms", Stats.gcMillis())
    host.put("jit_ms", ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
    host.set[ObjectNode]("cpu_weather",
      mapper.readTree(graft.tools.CpuWeatherProbe.deltaJson(weather0, graft.tools.CpuWeatherProbe.snap())))
    val (bw1, bwN) = graft.tools.MemBandwidthProbe.probe(threads = cpus, budgetMs = 300L)
    host.put("mem_bw_gbs_1thread", bw1)
    host.put(s"mem_bw_gbs_${cpus}threads", bwN)
    val out = mapper.createObjectNode()
    out.put("correct", r.failed == 0 && r.attempted > 0)
    out.put("attempted", r.attempted)
    out.put("failed", r.failed)
    out.set[ObjectNode]("metrics", r.metrics)
    out.set[ObjectNode]("detail", r.detail)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(a.out), out)
  }
}

/** Quantiles and medians over latency samples. */
object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Total collection time of every JVM collector so far. */
  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
