package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.store.Store

/** Single entry point for library users — the reference's
  * `DataFrameClient` analog (client.py:40-64), Spark-first: construct one
  * `Graft` per store root, use the returned [[graft.store.Store]] for
  * load/get/list, the `ops`/`operators`/`streaming` packages for
  * computation, and [[registerSql]] to make the custom expressions
  * callable from `spark.sql`. [[Graft.localSession]] builds the
  * single-JVM session every main, tool and test here runs on; a session
  * built elsewhere gets the same scale confs from [[tuneForScale]].
  *
  * {{{
  * val spark = Graft.localSession("my-app")
  * val g = Graft(spark, "/data/warehouse")
  * g.store.load(df, "proj/orders", Map("o_orderdate" -> Store.KeyDate))
  * val back = g.store.get("proj/orders", useLast = true)
  * val dups = graft.ops.Dedup.dedupByJaccard(docs, "doc_id", "text")
  * }}}
  */
object Graft {

  /** Runtime session confs for single-JVM / few-executor deployments
    * (local mode, one-box services, notebook drivers) — the measured
    * mitigations from the scale audits, promoted from benchmark
    * protocol to product surface so a fresh session gets the stable
    * behavior without reading the round notes:
    *
    *  - `twolevel.enabled=false`: the generated two-level "fast" hash
    *    map is a double loss for high-cardinality aggregations (ANN
    *    candidate pairs, dedup pair counts): its speculative branches
    *    seed a HotSpot unstable_if → deopt-without-OSR-rescue lottery
    *    that can leave a fused hashAgg loop running INTERPRETED to
    *    partition end (measured 473–652 s vs 37–59 s on identical 2M-row
    *    work), and at ≥ ~10⁵ groups every probe pays the fast-map miss
    *    before reaching the real map anyway (twolevel-off measured
    *    faster even in JIT-lucky runs: 37–59 s vs 70–92 s). Confirmed
    *    registry-wide no-regression at sf0.1 before becoming a default
    *    here (r14 A/B bench).
    *  - `objectHashAggregate.sortBased.fallbackThreshold`: the stock
    *    128-keys-per-partition fallback external-sorts bounded-heap
    *    aggregate streams (top-k shortlists) whose hash maps fit memory
    *    trivially; on one box the per-op spills stack into a disk
    *    blowout. Keep hash aggregation until maps are genuinely large.
    *  - `legacy.bucketedTableScan.outputOrdering`: lets a bucketed scan
    *    report its stored SORT order, so a sort-merge join against
    *    [[graft.store.BucketedState]] signature state skips the
    *    state-side local sort as well as the exchange (the state then
    *    streams: pure scan + merge). Safe: Spark only claims the order
    *    when every bucket has at most one file, which BucketedState
    *    writes guarantee (per-version repartition by bucket) and
    *    arbitrary bucketed tables fall back to an explicit sort.
    *
    * On a REAL multi-executor cluster the JIT lottery shows up as
    * stragglers on a FEW executors instead — there, prefer
    * `spark.speculation=true` (a re-launched copy of a deopt-struck
    * task JITs normally on another executor); twolevel-off remains a
    * measured win for ≥ ~10⁵-group aggregations either way. All
    * runtime-settable (safe on an existing session via [[tuneForScale]]).
    *
    *  - `files.openCostInBytes=64k` (r19, guide §6): the stock 4 MB
    *    models a remote-FS open; on the local/NVMe filesystems a
    *    single-JVM deployment reads, an open is microseconds, and the
    *    4 MB floor forbids splitting any file smaller than ~4 MB — a
    *    modest corpus parquet scans as ONE task and every per-row text
    *    kernel (tokenize, shingle, decode) runs on one core of 32
    *    (measured: the dedup-family scans went 1 → ~10 tasks and
    *    qn24's wall dropped ~30% from this conf alone). Scale-adaptive
    *    by construction: large files split by `maxPartitionBytes`
    *    exactly as before, and the only behavior change is split
    *    PACKING for sub-4MB files — on a remote-FS cluster keep the
    *    stock 4 MB (this map is the single-JVM profile, not the
    *    cluster one).
    */
  /*  - `parallelPartitionDiscovery.threshold=8192` (r19, guide §6): at
    *    the stock 32, reading a store table with more than 32 partition
    *    dirs (every date-keyed table) launches a DISTRIBUTED
    *    "listing leaf files" Spark job — measured 0.3 s per listing,
    *    fired repeatedly per read — to stat directories a local
    *    filesystem lists in microseconds. Driver-side listing wins up
    *    to thousands of dirs on one box; object-store deployments keep
    *    the stock threshold (this map is the single-JVM profile).
    */
  val singleJvmScaleConfs: Map[String, String] = Map(
    "spark.sql.codegen.aggregate.map.twolevel.enabled" -> "false",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4194304",
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    "spark.sql.files.openCostInBytes" -> "65536",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "8192")

  /** The local session every entry point runs on: `local[cpus]` with
    * `cpus` shuffle partitions, UTC session time, no UI, the
    * [[graft.hadoop.FastLocalFileSystem]] `file:` scheme, every entry of
    * [[singleJvmScaleConfs]] and then `conf`, all set at build time, and
    * WARN logging. `cpus` defaults to `SPARK_GRAFT_CPUS`, else the host's
    * available processors; pass it only where a recorded result depends
    * on the partition count.
    */
  def localSession(
      appName: String,
      cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors),
      conf: Map[String, String] = Map.empty): SparkSession = {
    val base = Map(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.hadoop.fs.file.impl" -> classOf[graft.hadoop.FastLocalFileSystem].getName)
    val spark = (base ++ singleJvmScaleConfs ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]").appName(appName)) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply [[singleJvmScaleConfs]] to a session built elsewhere (all
    * entries are runtime SQL confs — no session rebuild needed).
    * [[localSession]] already applies them.
    */
  def tuneForScale(spark: SparkSession): SparkSession = {
    singleJvmScaleConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}

final case class Graft(
    spark: SparkSession,
    root: String,
    idBucketWidth: Long = 1000L,
    maxRecordsPerFile: Long = 0L) {

  /** The versioned, partitioned DataFrame store rooted at `root`. */
  val store: Store = new Store(spark, root, idBucketWidth, maxRecordsPerFile)

  /** Register vec_dot / simhash64 / word_shingles / minhash_signature as
    * SQL functions in this session.
    */
  def registerSql(): Graft = {
    org.apache.spark.sql.graft.GraftFunctionRegistry.register(spark)
    this
  }

  /** Apply the measured single-JVM scale confs
    * ([[Graft.singleJvmScaleConfs]]) to this session — chainable next to
    * [[registerSql]]/[[installPruningRule]] in a local deployment's
    * setup. See the object-level scaladoc for the cluster-side
    * counterpart (`spark.speculation`).
    */
  def tuneForScale(): Graft = {
    Graft.tuneForScale(spark)
    this
  }

  /** Install the ID-range and Date partition-pruning rewrites for this
    * session (idempotent). Both rules are exprId-guarded no-ops on plans
    * without store partition columns, so leaving them installed is safe
    * session-wide.
    */
  def installPruningRule(): Graft = {
    val wanted = Seq(
      org.apache.spark.sql.graft.IdRangePruningRule,
      org.apache.spark.sql.graft.DatePartitionPruningRule)
    val rules = spark.experimental.extraOptimizations
    val missing = wanted.filterNot(rules.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations = rules ++ missing
    this
  }

  /** Read a fixture/any parquet table (convenience). */
  def table(path: String): DataFrame = spark.read.parquet(path)
}
