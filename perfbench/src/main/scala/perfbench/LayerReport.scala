package perfbench

/** The per-layer metrics of the traced run. Every workload reports the
  * whole set, with 0 where a layer does no work on it, so that two runs of
  * any workload compare name by name. Counts and byte totals are per
  * workload repetition (one traced pass over the query set, or one traced
  * replay of the SDK operation prefix); `_ms` names are per operation.
  */
object LayerReport {

  /** Ops files whose jobs the benchmark's queries run (Similarity's and
    * VectorIndex's are lazy and run under the harness's action; LocalLogit
    * fits on the driver).
    */
  val OpsFiles: Seq[String] = Seq("Dedup", "TextOps", "Mixture")

  /** Name and unit of every per-layer metric, in report order. */
  val Names: Seq[(String, String)] =
    Seq("upload", "get", "list").flatMap(k =>
      Seq(s"server.${k}_overhead_ms" -> "ms", s"server.${k}_ms" -> "ms")) ++
    Seq("wire.decode_ms" -> "ms", "wire.encode_ms" -> "ms",
      "store.load_ms" -> "ms", "store.get_ms" -> "ms", "store.list_ms" -> "ms",
      "store.load_jobs" -> "count", "store.get_jobs" -> "count",
      "store.upload.fs_read_ops" -> "count", "store.upload.fs_write_ops" -> "count",
      "store.upload.bytes_written" -> "bytes", "store.get.fs_read_ops" -> "count",
      "store.list.fs_read_ops" -> "count", "store.bytes_per_user_byte" -> "ratio",
      "store.fs_read_ops" -> "count", "store.fs_write_ops" -> "count",
      "store.bytes_written" -> "bytes", "store.jobs" -> "count", "store.busy_s" -> "s",
      "ops.jobs" -> "count", "ops.busy_s" -> "s") ++
    OpsFiles.map(f => s"ops.$f.busy_s" -> "s") ++
    Seq("queries.build_s" -> "s", "queries.action_s" -> "s", "queries.jobs_per_query" -> "count",
      "spark.planning_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.busy_s" -> "s", "spark.driver_s" -> "s",
      "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
      "spark.output_bytes" -> "bytes", "jvm.live_heap_mb" -> "MB") ++
    Seq("op_p50_ms" -> "ms", "op_p90_ms" -> "ms", "ops_per_s" -> "1/s", "sum_p50_s" -> "s")
      .map { case (n, u) => s"trace.overhead.$n" -> u }

  private val unitOf = Names.toMap

  /** Fills every per-layer metric with 0, then applies `values`. */
  def emit(r: Main.Result, values: Map[String, Double]): Unit = {
    val unknown = values.keySet -- unitOf.keySet
    require(unknown.isEmpty, s"unregistered per-layer metrics: $unknown")
    Names.foreach { case (n, u) => r.metric(n, values.getOrElse(n, 0.0), u) }
  }

  /** Layer totals of the jobs a repetition ran, over its wall time. */
  def jobTotals(js: Seq[JobRec], wallS: Double, planningMs: Double, gcS: Double): Map[String, Double] = {
    def busy(p: JobRec => Boolean) = SparkTrace.busySeconds(js.filter(p))
    val spark = Map(
      "spark.planning_ms" -> planningMs,
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.busy_s" -> busy(_ => true),
      "spark.driver_s" -> (wallS - busy(_ => true)),
      "spark.task_cpu_s" -> js.map(_.taskCpuNs).sum / 1e9,
      "spark.gc_s" -> gcS,
      "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> js.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> js.map(_.inputBytes).sum.toDouble,
      "spark.output_bytes" -> js.map(_.outputBytes).sum.toDouble,
      "store.jobs" -> js.count(_.layer == "store").toDouble,
      "store.busy_s" -> busy(_.layer == "store"),
      "ops.jobs" -> js.count(_.layer == "ops").toDouble,
      "ops.busy_s" -> busy(_.layer == "ops"))
    spark ++ OpsFiles.map(f => s"ops.$f.busy_s" -> busy(_.file == s"$f.scala"))
  }

  def fsTotals(fs: FsCounters): Map[String, Double] = Map(
    "store.fs_read_ops" -> fs.readOps.toDouble,
    "store.fs_write_ops" -> fs.writeOps.toDouble,
    "store.bytes_written" -> fs.bytesWritten.toDouble)

  /** End-to-end metrics of the traced repetition minus the untraced one. */
  def overhead(traced: Main.Result, untraced: Main.Result): Map[String, Double] =
    Seq("op_p50_ms", "op_p90_ms", "ops_per_s", "sum_p50_s").map { n =>
      s"trace.overhead.$n" ->
        (traced.metrics.get(n).get("value").asDouble() - untraced.metrics.get(n).get("value").asDouble())
    }.toMap

  def queries(r: Main.Result, traced: PassStats, untraced: PassStats, fs: FsCounters, gcS: Double): Unit = {
    val t = new Main.Result
    val u = new Main.Result
    traced.report(t)
    untraced.report(u)
    emit(r, jobTotals(traced.jobs.toSeq, traced.wall, traced.planningMs, gcS) ++ fsTotals(fs) ++
      overhead(t, u) ++ Map(
        "queries.build_s" -> traced.build,
        "queries.action_s" -> traced.action,
        "queries.jobs_per_query" -> traced.jobs.size.toDouble / math.max(traced.executions, 1)))
    val d = r.detail.putObject("layer_jobs")
    traced.jobs.groupBy(_.layer).toSeq.sortBy(_._1).foreach { case (l, js) => d.put(l, js.size) }
  }
}
