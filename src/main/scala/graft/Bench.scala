package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line with per-query wall
  * seconds. The suite runs as `SPARK_GRAFT_BENCH_REPS` (default 3) full
  * round-robin PASSES — pass 1 runs every query once, then pass 2, then
  * pass 3 — and `queries` reports the per-query MEDIAN across passes.
  * Interleaving is deliberate: reps of one query run minutes apart, so a
  * transient system stall inflates at most ONE of a query's three
  * samples and the median survives. (Back-to-back reps did not: the
  * recorded BENCH_r02 and BENCH_r04 each showed a contiguous run-order
  * window at 2–7× its true cost because one stall poisoned all three
  * consecutive reps of every query in the window.) Min/max land in
  * `queries_min` / `queries_max` so spread stays visible. A failed query
  * is reported in `failures` (and its slot in `queries` is -1) instead
  * of contributing a misleadingly tiny timing; `value` sums successful
  * medians only. `cpus`/`shuffle_partitions` are recorded so cross-round
  * comparisons are apples-to-apples; the default is the host's core
  * count (override via SPARK_GRAFT_CPUS). Rounds up to r20 recorded
  * local[32] on a 32-core host.
  */
object Bench {

  /** Untimed warmup shared by [[Bench]] and [[graft.tools.QueryProfile]]:
    * JIT/codegen/parquet reader+writer init otherwise lands entirely on
    * whichever query happens to run first (it was inflating qs01 by
    * ~5s). Exercises scan, shuffle, and the write path once; spark.ml
    * init (BLAS instance probing + ml codegen) costs another ~4-5s and
    * otherwise lands on whichever ANN query the registry order happens
    * to run first — profiled as a 6.2s first sample vs a 1.5s steady
    * state on qn12. A 16-point KMeans fit pays it here. Warmup failure
    * must not kill the run — the per-query loop still reports every
    * query (first-query timing just absorbs the init). Returns wall
    * seconds (recorded as "warmup_sec").
    */
  def warmup(spark: SparkSession, sfDir: String): Double = {
    val w0 = System.nanoTime()
    try {
      import org.apache.spark.sql.functions.col
      val warmDir = java.nio.file.Files.createTempDirectory("graft_bench_warm_")
      val region = spark.read.parquet(s"$sfDir/region.parquet")
      region.repartition(2, col("r_regionkey")).write
        .mode("overwrite").parquet(warmDir.resolve("w").toString)
      spark.read.parquet(warmDir.resolve("w").toString).count()
      locally {
        import org.apache.spark.ml.clustering.KMeans
        import org.apache.spark.ml.functions.array_to_vector
        val pts = spark.range(16).select(
          array_to_vector(org.apache.spark.sql.functions.array(
            (col("id") % 4).cast("double"), (col("id") / 4).cast("double")))
            .as("features"))
        new KMeans().setK(2).setSeed(1L).setMaxIter(2).fit(pts).transform(pts).count()
      }
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(warmDir.toString), true)
    } catch { case e: Throwable => System.err.println(s"[bench] warmup failed: ${e.getMessage}") }
    (System.nanoTime() - w0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The bench measures the PRODUCTION single-JVM session
    // ([[Graft.localSession]], which carries [[Graft.singleJvmScaleConfs]])
    // since r14. The r14 A/B at sf0.1 measured the tuned conf
    // registry-wide no-regression before it became default.
    val spark = Graft.localSession("graft-bench")
    val cpus = spark.sparkContext.defaultParallelism
    // Launch gate (r19, promoting the fixed-delta campaign's watcher
    // into the standing round-close bench — VERDICT r18 #3): rounds
    // 14–18 each burned a NOTES section re-arguing whether a raw drift
    // was code or host weather, because the close bench fired at an
    // ARBITRARY weather. This host's co-tenant squeeze is
    // hypervisor-level (invisible in /proc/stat) but directly readable
    // as single-thread DRAM streaming bandwidth, and the campaign's
    // per-rep gate (fire only at t1 >= ~5 GB/s) never mis-accepted.
    // So: poll t1 and start the timed suite only inside a quiet
    // window, bounded by a wait budget — a long-sick host degrades to
    // the old arbitrary-weather run, RECORDED in the artifact
    // (gave_up:true) instead of silently. SPARK_GRAFT_BENCH_GATE=0
    // disables (A/B + driver-emergency escape).
    val gateThreshold =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_GATE_T1", "5.0").toDouble
    val gateBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_GATE_WAIT", "900").toLong
    val gateEnabled = sys.env.getOrElse("SPARK_GRAFT_BENCH_GATE", "1") != "0"
    val gateT0 = System.nanoTime()
    var gatePolls = 0
    var gateT1 = -1.0
    if (gateEnabled) {
      var go = false
      while (!go) {
        gateT1 = graft.tools.MemBandwidthProbe.probe(1, 500L)._1
        gatePolls += 1
        go = gateT1 >= gateThreshold ||
          (System.nanoTime() - gateT0) / 1e9 >= gateBudgetSec
        if (!go) Thread.sleep(30000L)
      }
    }
    val gateWaitedSec = (System.nanoTime() - gateT0) / 1e9
    val gateGaveUp = gateEnabled && gateT1 < gateThreshold
    val gateJson =
      s""""launch_gate":{"enabled":$gateEnabled,"threshold":$gateThreshold,""" +
        f""""waited_sec":$gateWaitedSec%.1f,"polls":$gatePolls,""" +
        f""""t1_at_fire":$gateT1%.2f,"gave_up":$gateGaveUp}"""
    if (gateGaveUp)
      System.err.println(f"[bench] launch gate EXHAUSTED after " +
        f"$gateWaitedSec%.0f s (last t1 $gateT1%.2f GB/s < $gateThreshold) " +
        "— proceeding at arbitrary weather, artifact records gave_up")
    val warmupSec = warmup(spark, sfDir)
    // Host-speed calibration (r10, closing the r9 drift lesson): the r9
    // round burned three NOTES sections re-deriving a uniform ~1.47×
    // host slowdown from per-query ratios. A fixed post-warmup triple of
    // the cheapest stable scan+agg query gives every artifact its own
    // speedometer — cross-round comparisons divide by the calibration
    // medians instead of re-arguing drift. (Runs AFTER warmup so it
    // measures the host, not JIT/init; q01's own timed samples below
    // are unaffected beyond the warmth every query already gets.)
    val calibrationName = "q01_tpch_q1_agg"
    val calibration: Seq[Double] =
      if (!SparkEntry.queries.contains(calibrationName)) Seq.empty
      else (1 to 3).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(calibrationName)(spark, sfDir).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case _: Throwable => None }
      }
    // Bandwidth speedometer (r11 item #7, landed r13): the compute-bound
    // q01 calibration above is blind to co-tenant DRAM pressure — r12
    // proved it by drifting 20% on bit-identical code while q01 read
    // normal. Record achievable streaming bandwidth (single-thread and
    // at the executor thread count) next to it so "host memory weather"
    // is a fact of every BENCH artifact. ~3 s once per run.
    val (bw1, bwN) = graft.tools.MemBandwidthProbe.probe(threads = cpus)
    val bwJson = f""""calibration_bw":{"t1":$bw1%.2f,"t$cpus":$bwN%.2f}"""
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // Optional regex subset for targeted spot-checks (e.g. re-measuring
    // one query after a fix without paying the full registry); the
    // driver never sets it, so graded runs always cover everything.
    val onlyFilter = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.r)
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => onlyFilter.forall(_.findFirstIn(n).isDefined))
    val times = scala.collection.mutable.Map(names.map(_ -> Seq.newBuilder[Double]): _*)
    val okMap = scala.collection.mutable.Map(names.map(_ -> true): _*)
    // Co-tenant CPU weather over the WHOLE timed suite (r18, promoting
    // the delta campaign's per-rep gate into the standing bench): the
    // bandwidth probe above is a point boundary; this integrates
    // /proc/stat over exactly the rep loop, so every cross-round
    // common-set comparison can be weather-screened the way the
    // fixed-delta reps were ("other" = fraction of host CPU capacity
    // burnt by processes that are not this JVM).
    val weather0 = graft.tools.CpuWeatherProbe.snap()
    // Per-PASS health fields (r19, the envelope half of the campaign
    // protocol): each round-robin pass records its own calibration
    // sample, a t1 bandwidth point, its CPU-weather delta, and its
    // wall, so a cross-round common-set comparison can screen or
    // normalize per pass — the median-of-interleaved-passes headline is
    // unchanged, but drift forensics no longer need post-hoc re-runs.
    val passStats = Seq.newBuilder[String]
    for (pass <- 0 until reps) {
      val passCal =
        if (!SparkEntry.queries.contains(calibrationName)) -1.0
        else {
          val c0 = System.nanoTime()
          try { SparkEntry.queries(calibrationName)(spark, sfDir).count()
                (System.nanoTime() - c0) / 1e9 }
          catch { case _: Throwable => -1.0 }
        }
      val passT1 = graft.tools.MemBandwidthProbe.probe(1, 500L)._1
      val pw0 = graft.tools.CpuWeatherProbe.snap()
      val passT0 = System.nanoTime()
      for (name <- names if okMap(name)) {
        // a failing query fails deterministically — don't retry it reps×
        try TempDirs.scoped {
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir).count()
          times(name) += (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => okMap(name) = false }
      }
      val passWall = (System.nanoTime() - passT0) / 1e9
      passStats += (f"""{"pass":$pass,"calib":$passCal%.3f,""" +
        f""""t1":$passT1%.2f,"wall":$passWall%.1f,""" +
        s""""weather":${graft.tools.CpuWeatherProbe.deltaJson(pw0,
          graft.tools.CpuWeatherProbe.snap())}}""")
    }
    val passesJson =
      s""""passes":${passStats.result().mkString("[", ",", "]")}"""
    val weatherJson = "\"cpu_weather\":" +
      graft.tools.CpuWeatherProbe.deltaJson(weather0,
        graft.tools.CpuWeatherProbe.snap())
    val results = names.map(n => (n, times(n).result(), okMap(n)))
    def timeMap(f: Seq[Double] => Double): String =
      results.map { case (k, ts, ok) => s"\"" + k + "\":" + (if (ok) f(ts) else -1.0) }
        .mkString("{", ",", "}")
    val failures = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, ts, true) => median(ts) }.sum
    val calJson =
      s""""calibration":{"query":"$calibrationName",""" +
        s""""samples":${calibration.mkString("[", ",", "]")},""" +
        s""""median":${if (calibration.isEmpty) -1.0 else median(calibration)}}"""
    // Conf provenance: r9–r13 artifacts ran stock codegen ("stock");
    // r14+ run the tuned production conf — cross-round per-query
    // comparisons must read this field (hashAgg-heavy walls changed
    // REGIME, not just host weather).
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${timeMap(median)},""" +
        s""""queries_min":${timeMap(_.min)},"queries_max":${timeMap(_.max)},""" +
        s""""reps":$reps,"failures":$failures,"cpus":$cpus,"shuffle_partitions":$cpus,""" +
        s""""conf":"tuned_single_jvm","warmup_sec":$warmupSec,$calJson,$bwJson,$weatherJson,""" +
        s"""$gateJson,$passesJson,"sf":"$sfDir"}"""
    // stderr, NOT stdout: the driver keeps a ~2000-char stdout tail and
    // parses its last line as JSON — a ~7 KB per-query map on stdout
    // truncates mid-object and poisons the tail (the BENCH_r10 lesson).
    // The complete statistics live in the file below; stderr keeps them
    // visible in interactive runs.
    System.err.println(fullJson)
    // The driver's BENCH_r* artifact keeps only the TAIL of stdout, which
    // truncates the full per-query map (BENCH_r07 lost the first ~45
    // queries). Persist the COMPLETE statistics to a file so cross-round
    // per-query comparisons never depend on what survived the tail.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception => System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    // The driver's artifact keeps only the last ~2000 chars of stdout
    // and tries to parse them as JSON ("parsed": null in BENCH_r10 —
    // the 186-query median map alone is ~7 KB, so ANY final line
    // carrying it truncates mid-JSON and the artifact degrades to a raw
    // tail). The final line must therefore be SHORT, self-contained,
    // and parseable at any registry size: headline total, calibration,
    // failures, the 5 slowest query medians (the plan-audit shortlist),
    // and a pointer to BENCH_full.json, which carries the complete
    // per-query statistics and is committed to the repo every round.
    val slowest = results.collect { case (k, ts, true) => (k, median(ts)) }
      .sortBy(-_._2).take(5)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // spark.stop() BEFORE the final line: Spark's shutdown logging goes
    // to stderr, but nothing may race onto stdout after this print —
    // it must be the last stdout line of the whole sbt invocation
    // (build.sbt passes forked output through and silences [success]).
    spark.stop()
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","stat":"median",""" +
        s""""n_queries":${results.size},"reps":$reps,"failures":$failures,""" +
        s""""slowest":$slowest,$calJson,$bwJson,$weatherJson,$gateJson,""" +
        s""""conf":"tuned_single_jvm","per_query_file":"$outFile","sf":"$sfDir"}""")
    if (results.exists(!_._3)) sys.exit(1)
  }
}
