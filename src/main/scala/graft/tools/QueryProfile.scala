package graft.tools

/** Per-query profiling harness: runs the named registered queries
  * (`graft.SparkEntry.queries`) rep times each under the bench's exact
  * session config and prints every sample — the bisection tool for
  * "query X regressed in BENCH_rN" questions, where the round-robin
  * bench only surfaces medians. Args: query names; `all` = whole
  * registry. Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_PROFILE_REPS (default 5), SPARK_GRAFT_PROFILE_EXPLAIN
  * (print the formatted physical plan once per query).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "5").toInt
    // The bench's own session, so profile numbers run the same hash-agg
    // regime as the artifact they bisect.
    val spark = graft.Graft.localSession("graft-query-profile")
    val names =
      if (args.isEmpty || args.sameElements(Array("all"))) graft.SparkEntry.queries.keys.toSeq
      else args.toSeq
    // Bench's OWN warmup (scan + shuffle + write + spark.ml init): the
    // whole point of this tool is isolating a query's steady-state cost,
    // so one-time init — especially the ~4-5s spark.ml BLAS/codegen
    // probe an ANN query would otherwise absorb into its first sample —
    // must be paid before sampling starts.
    graft.Bench.warmup(spark, sfDir)
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      if (sys.env.contains("SPARK_GRAFT_PROFILE_EXPLAIN"))
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      val samples = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[profile] $name reps=$reps min=${samples.min}%.3f " +
        f"median=${samples.sorted.apply(reps / 2)}%.3f max=${samples.max}%.3f " +
        samples.map(s => f"$s%.3f").mkString("samples=[", ",", "]"))
    }
    spark.stop()
  }
}
