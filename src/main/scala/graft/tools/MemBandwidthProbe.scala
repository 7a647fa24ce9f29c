package graft.tools

/** Memory-bandwidth speedometer for the scale artifacts.
  *
  * The r11 qn63 investigation eliminated every in-JVM suspect for the
  * bimodal 2M walls (33–56 s vs 483–781 s on identical committed code):
  * the work is bit-identical across JVMs (NOTES_r11.md item 7), the hot
  * generated methods are tiny (143–233 bytecodes — nothing in a full
  * `-XX:+PrintCompilation` run exceeds 8000, so the huge-method limit
  * is never in play) and reach C2/tier-4 within ~150 ms of first
  * invocation, there is no GC churn, and slow-mode executors are 100%
  * CPU-bound *inside* the tier-4 code. A compiled, allocation-free,
  * CPU-pegged loop that runs 12× slower on identical work has one
  * remaining variable: cycles-per-instruction — i.e. the memory
  * subsystem. The candidate-pair stage streams ~1 TB of vector rows
  * through the two-level aggregate hash map; on a shared host,
  * co-tenant bandwidth pressure turns 50 s of streaming into 500 s of
  * stalls while the COMPUTE-bound calibration probe (tokenize+agg over
  * a cache-resident corpus) reads perfectly normal.
  *
  * This probe measures what that calibration cannot: achievable DRAM
  * streaming bandwidth, single-threaded (latency/one-channel view) and
  * at the executor thread count (aggregate-controller view, where
  * co-tenant contention actually bites). Embedding both numbers in
  * every ScaleBench point makes "host memory weather" a recorded fact
  * of the artifact instead of a post-hoc conjecture.
  *
  * Method: stream-sum disjoint slices of one page-touched 1 GiB long
  * array for a fixed wall budget per measurement; GB/s = bytes swept /
  * wall. The loop is allocation-free and sums into per-thread locals
  * (published via a volatile sink so it cannot be dead-code
  * eliminated). A 1 GiB working set defeats every cache level, so the
  * number tracks the DRAM controllers, which is the resource the
  * candidate-stream stages actually contend for.
  */
object MemBandwidthProbe {

  @volatile private var sink: Long = 0L

  /** GB/s achieved streaming `array` with `threads` concurrent
    * summers for ~`budgetMs` of wall time. */
  def measure(array: Array[Long], threads: Int, budgetMs: Long): Double = {
    val n = array.length
    val slice = n / threads
    val deadline = System.nanoTime() + budgetMs * 1000000L
    val bytesSwept = new java.util.concurrent.atomic.AtomicLong(0L)
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        val lo = t * slice
        val hi = if (t == threads - 1) n else lo + slice
        var acc = 0L
        var swept = 0L
        while (System.nanoTime() < deadline) {
          var i = lo
          while (i < hi) { acc += array(i); i += 1 }
          swept += (hi - lo).toLong * 8L
        }
        sink ^= acc
        bytesSwept.addAndGet(swept)
        ()
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    bytesSwept.get() / 1e9 / wall
  }

  /** (single-thread GB/s, `threads`-thread GB/s) over a fresh 1 GiB
    * working set; ~3×`budgetMs` total (one untimed page-touch sweep +
    * two measurements). */
  def probe(threads: Int, budgetMs: Long = 1000L): (Double, Double) = {
    val arr = new Array[Long](1 << 27) // 1 GiB
    java.util.Arrays.fill(arr, 1L)     // touch every page outside timing
    val t1 = measure(arr, 1, budgetMs)
    val tN = measure(arr, threads, budgetMs)
    (t1, tN)
  }

  /** Continuous low-perturbation sampler for the qn63 bimodality hunt:
    * a point-in-time probe AFTER a 500 s slow rep can read normal if the
    * contention has passed — the decisive evidence is bandwidth DURING
    * the stall. One daemon thread takes a single-threaded `budgetMs`
    * sample every `intervalMs` (defaults: 0.5 s every 30 s ≈ 1.7% of one
    * core out of 32 — negligible next to the 12× effect under test) and
    * timestamps it relative to construction, so samples align with the
    * per-op `off`/wall fields in the ScaleBench point JSON. */
  final class Watcher(intervalMs: Long = 30000L, budgetMs: Long = 500L) {
    private val samples = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    private val arr = new Array[Long](1 << 27) // persistent 1 GiB working set
    java.util.Arrays.fill(arr, 1L)
    private val t0 = System.nanoTime()
    @volatile private var stopped = false
    def elapsed(): Double = (System.nanoTime() - t0) / 1e9
    private val th = new Thread(() => {
      while (!stopped) {
        val g = measure(arr, 1, budgetMs)
        samples.synchronized { samples += ((elapsed(), g)) }
        try Thread.sleep(intervalMs) catch { case _: InterruptedException => stopped = true }
      }
    }, "graft-bw-watch")
    th.setDaemon(true)
    th.start()
    /** Samples accumulated since the last drain, as (sec-since-start, GB/s). */
    def drain(): Seq[(Double, Double)] =
      samples.synchronized { val out = samples.toList; samples.clear(); out }
    def stop(): Unit = { stopped = true; th.interrupt() }
  }

  /** Standalone: `runMain graft.tools.MemBandwidthProbe [threads]`
    * prints one JSON line; loop with `watch` to chart host weather. */
  def main(args: Array[String]): Unit = {
    val threads = if (args.nonEmpty) args(0).toInt else 32
    val (t1, tN) = probe(threads)
    println(f"""{"mem_bw_gbps":{"t1":$t1%.2f,"t$threads":$tN%.2f}}""")
  }
}

/** Co-tenant CPU weather probe (r17, VERDICT #2): per-op /proc/stat +
  * /proc/self/stat deltas. The r16 delta campaign sampled 115–382 s on
  * IDENTICAL code at one point, ANTI-correlated with the DRAM-bandwidth
  * probe — because the bandwidth snapshot runs at a point boundary
  * while the squeeze lives inside the op window. This probe integrates
  * over exactly the timed window: `other` is the fraction of host CPU
  * capacity consumed by processes other than this JVM during the op —
  * the direct co-tenancy statistic an acceptance band can gate on.
  * (The sbt parent JVM counts as "other"; it idles during a fork at
  * well under 1% — visible in any accepted rep's floor.)
  */
object CpuWeatherProbe {
  final case class Snap(total: Long, idle: Long, self: Long)

  private def readFile(p: String): String = {
    val s = scala.io.Source.fromFile(p)
    try s.mkString finally s.close()
  }

  def snap(): Snap = {
    val f = readFile("/proc/stat").linesIterator.next()
      .trim.split("\\s+").drop(1).map(_.toLong)
    val idle = f(3) + f(4) // idle + iowait
    // Capacity = user..steal (fields 1-8). guest/guest_nice are ALREADY
    // folded into user/nice by the kernel — summing them again inflates
    // capacity on VM-hosting hosts and deflates every gated fraction.
    val total = f.take(8).sum
    val st = readFile("/proc/self/stat")
    val rest = st.substring(st.lastIndexOf(')') + 2).split(" ")
    Snap(total, idle, rest(11).toLong + rest(12).toLong) // utime+stime
  }

  /** Deltas as fractions of host CPU capacity over the window, plus the
    * 1-minute loadavg at window end.
    */
  def deltaJson(a: Snap, b: Snap): String = {
    val cap = math.max(b.total - a.total, 1L).toDouble
    val busy = cap - (b.idle - a.idle)
    val self = (b.self - a.self).toDouble
    val other = math.max(busy - self, 0.0)
    val load1 = readFile("/proc/loadavg").split(" ")(0).toDouble
    f"""{"busy":${busy / cap}%.3f,"self":${self / cap}%.3f,""" +
      f""""other":${other / cap}%.3f,"load1":$load1%.1f}"""
  }
}
