package graft

import org.apache.spark.sql.functions._

import graft.operators.SkewTools
import graft.store.Store

import org.apache.spark.sql.execution.FileSourceScanExec

/** Scale-machinery tests: optimizer-rule partition pruning, salted joins,
  * bucketed co-located joins.
  */
class ScaleSpec extends SparkSpec {

  test("IdRangePruningRule prunes ID-range partitions from user predicates") {
    val store = new Store(spark, TempDirs.create("graft_rule_"))
    import spark.implicits._
    val df = (0L until 10000L).map(i => (i, s"row$i")).toDF("id", "payload")
    store.load(df, "t", Map("id" -> Store.KeyId), externalKey = "v1")

    // numFiles on the scan node measures files actually scanned
    // (input_file_name would undercount: parquet stats skip rowless
    // files). AQE off so the scan metric sits on this Dataset's own
    // executed plan; the metric populates when THIS Dataset executes.
    def scannedFiles(q: org.apache.spark.sql.DataFrame): Long = {
      q.collect()
      q.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f.metrics("numFiles").value
      }.head
    }

    def rangeQuery(st: Store) =
      st.getPartitioned("t").where(col("id") >= 7500L && col("id") < 8200L)

    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // control: without the rule every bucket dir is scanned
      assert(scannedFiles(rangeQuery(store)) == 10L)

      spark.experimental.extraOptimizations =
        Seq(org.apache.spark.sql.graft.IdRangePruningRule)
      val q = rangeQuery(store)
      // ids 7500..8199 live in from_7000_to_8000 and from_8000_to_9000
      assert(scannedFiles(q) == 2L)
      assert(q.count() == 700)

      // IN-lists prune too (each value becomes a lo<=v<hi disjunct)
      val qin = store.getPartitioned("t")
        .where(col("id").isin(150L, 151L, 8200L))
      assert(scannedFiles(qin) == 2L) // from_0_to_1000 + from_8000_to_9000
      assert(qin.count() == 3)
    } finally {
      spark.experimental.extraOptimizations = Nil
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
  }

  test("DatePartitionPruningRule prunes date dirs from natural data-column predicates") {
    val store = new Store(spark, TempDirs.create("graft_drule_"))
    import spark.implicits._
    val df = (0 until 1000).map(i =>
      (i.toLong, java.sql.Date.valueOf(f"2024-01-${i % 10 + 1}%02d"), s"r$i"))
      .toDF("id", "d", "payload")
    store.load(df, "t", Map("d" -> Store.KeyDate), externalKey = "v1")

    def scannedFiles(q: org.apache.spark.sql.DataFrame): Long = {
      q.collect()
      q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metrics("numFiles").value
      }.head
    }
    def rangeQuery(st: Store) =
      st.getPartitioned("t").where(col("d") >= "2024-01-08") // data column, no __p_ in sight

    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      assert(scannedFiles(rangeQuery(store)) == 10L) // control: all 10 date dirs
      spark.experimental.extraOptimizations =
        Seq(org.apache.spark.sql.graft.DatePartitionPruningRule)
      val q = rangeQuery(store)
      assert(scannedFiles(q) == 3L) // 2024-01-08..10
      assert(q.count() == 300L)
      val qin = store.getPartitioned("t").where(col("d").isin(
        java.sql.Date.valueOf("2024-01-02"), java.sql.Date.valueOf("2024-01-09")))
      assert(scannedFiles(qin) == 2L)
      assert(qin.count() == 200L)
    } finally {
      spark.experimental.extraOptimizations = Nil
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
  }

  test("qs06 natural-predicate store read scans fewer files than the version holds") {
    // End-to-end twin of the graded qs06 query: date-keyed store load,
    // rules installed the way a user installs them (Graft
    // .installPruningRule), NATURAL data-column predicate — and the scan
    // must touch only the matching date dirs, not the whole version.
    val rulesWere = spark.experimental.extraOptimizations
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val g = Graft(spark, TempDirs.create("graft_qs06_"))
        .installPruningRule()
      val orders = Tables.read(spark, sf("sf0.001"), "orders")
        .where(year(col("o_orderdate")) === 1997)
        .withColumn("o_date", col("o_orderdate").cast("date"))
      g.store.load(orders, "t", Map("o_date" -> Store.KeyDate), externalKey = "v1")
      val totalFiles = {
        val all = g.store.getPartitioned("t", useLast = true)
        all.collect()
        all.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec => f.metrics("numFiles").value
        }.head
      }
      val pruned = g.store.getPartitioned("t", useLast = true)
        .where(col("o_date") >= lit("1997-06-01").cast("date"))
      pruned.collect()
      val scanned = pruned.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f.metrics("numFiles").value
      }.head
      info(s"qs06 shape scanned $scanned of $totalFiles files")
      assert(scanned < totalFiles)
      assert(pruned.count() ==
        orders.where(col("o_date") >= lit("1997-06-01").cast("date")).count())
    } finally {
      spark.experimental.extraOptimizations = rulesWere
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
  }

  test("pruning rule refuses to bind through aliases (no wrong pruning)") {
    val store = new Store(spark, TempDirs.create("graft_rule2_"))
    import spark.implicits._
    // v = id + 5000: projecting v AS "id" next to __p_id must not let the
    // rule pair v's values with id's partition labels — the derived
    // conjunct (parsedHi > 14900, max real hi = 10000) would silently
    // drop every matching row. The exprId-through-to-leaf guard makes
    // the rule skip aliased bindings entirely.
    val df = (0L until 10000L).map(i => (i, i + 5000L)).toDF("id", "v")
    store.load(df, "t", Map("id" -> Store.KeyId), externalKey = "v1")
    spark.experimental.extraOptimizations =
      Seq(org.apache.spark.sql.graft.IdRangePruningRule)
    try {
      val tricky = store.getPartitioned("t")
        .select(col("v").as("id"), col(Store.partColName("id")))
        .where(col("id") >= 14900L)
      assert(tricky.count() == 100L) // v ∈ [14900, 15000) — nothing pruned away
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("salted join equals plain join on skewed data") {
    import spark.implicits._
    // 90% of rows share one hot key
    val left = (0 until 5000).map(i => (if (i % 10 == 0) i.toLong % 7 else 42L, i))
      .toDF("k", "v")
    val right = Seq((42L, "hot"), (0L, "a"), (1L, "b"), (2L, "c")).toDF("rk", "name")
    val plain = left.join(right, col("k") === col("rk"))
      .groupBy("name").count().orderBy("name").collect()
    val salted = SkewTools.saltedJoin(left, right, "k", "rk", saltFactor = 8)
      .groupBy("name").count().orderBy("name").collect()
    assert(salted.toSeq == plain.toSeq)
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    val orders = Tables.read(spark, sf(), "orders")
    val lineitem = Tables.read(spark, sf(), "lineitem")
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("orders_b")
    lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("lineitem_b")
    // Disable broadcast so the assertion actually proves the bucketed
    // SortMergeJoin is exchange-free (a broadcast join at this tiny SF
    // would trivially have no hash exchange and prove nothing).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("SortMergeJoin"),
        s"expected a SortMergeJoin:\n$planStr")
      assert(!planStr.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in plan:\n$planStr")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("as-of nearest runs on ONE shuffle (two sorted window passes, no join)") {
    import graft.operators.AsOfJoin
    import spark.implicits._
    val left = (0L until 500L).map(i => (i, i % 7, i * 10)).toDF("lid", "k", "ts")
    val right = (0L until 300L).map(i => (i % 7, i * 17, s"p$i")).toDF("k", "ts", "payload")
    val out = AsOfJoin.nearest(left, right, Seq("k"), "ts", "ts", Seq("payload"))
    out.collect()
    // AQE's toString prints Final AND Initial plan sections — count
    // operators in the final section only.
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"as-of must shuffle once on the keys, saw $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"as-of must not join:\n$plan")
    assert("\\bWindow\\b".r.findAllIn(plan).length >= 2,
      s"expected backward+forward window passes:\n$plan")
  }

  test("getMerged resolves a 6-delta chain in ONE aggregate exchange") {
    import spark.implicits._
    val store = new graft.store.Store(spark,
      TempDirs.create("graft_scale_mrg_"))
    store.load((0L until 200L).map(i => (i, 0L)).toDF("k", "v"), "t", externalKey = "va")
    (1 to 6).foreach { i =>
      store.merge((0L until 50L).map(j => (j * i % 200L, i.toLong)).distinct.toDF("k", "v"),
        "t", Seq("k"), externalKey = s"v$i")
    }
    val out = store.getMerged("t")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    // Anti-join-chain resolution would cost one shuffle PER delta; the
    // max_by formulation is one partial->final aggregate regardless of
    // chain length, with no joins at all.
    assert(exchanges == 1, s"merge resolution must shuffle once, saw $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"merge resolution must not join:\n$plan")
    assert(plan.contains("max_by") || plan.contains("maxby") || plan.contains("SortAggregate"),
      s"expected the max_by aggregate:\n$plan")
  }

  test("as-of bucketWidth spreads a mega-hot key over many window partitions") {
    import graft.operators.AsOfJoin
    import spark.implicits._
    // 90% of rows on ONE key; 40000-tick timeline, width 4000 → the hot
    // key's as-of work spans 10 (k, bucket) partitions instead of
    // serializing through one.
    val left = (0L until 3000L).map(i =>
      (i, if (i % 10 == 0) "c" + (i % 5) else "hot", (i * 13) % 40000)).toDF("lid", "k", "ts")
    val right = (0L until 2000L).map(i =>
      (if (i % 10 == 0) "c" + (i % 5) else "hot", (i * 17) % 40000, i)).toDF("k", "ts", "pid")
    val q = AsOfJoin.nearest(left, right, Seq("k"), "ts", "ts", Seq("pid"),
      tieBreak = Some("pid"), bucketWidth = Some(4000d))
    // >1 task actually touches the hot key: count hot rows per output
    // RDD partition (narrow over the window stage, so its partitioning =
    // the (keys, bucket) window exchange). AQE's partition coalescing
    // merges this KB-scale shuffle into one task regardless of keys —
    // disable it so the assertion measures the partitioning, not the
    // test data's size.
    val coalesceWas = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val hotPerPart = q.rdd
        .mapPartitions(it => Iterator(it.count(_.getString(1) == "hot")))
        .collect()
      assert(hotPerPart.count(_ > 0) > 1,
        s"hot key still serialized through one task: ${hotPerPart.mkString(",")}")
      // the window exchange hash-partitions on (keys, bucket)
      q.collect()
      val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(plan.contains("__asof_bkt"), s"bucket column missing from plan:\n$plan")
      // and output is identical to the single-partition-per-key path
      val base = AsOfJoin.nearest(left, right, Seq("k"), "ts", "ts", Seq("pid"),
        tieBreak = Some("pid"))
      assert(q.orderBy("lid").collect().toSeq == base.orderBy("lid").collect().toSeq)
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesceWas)
  }

  test("qn10 exact near-dup plan is a hash join over block pairs, never a nested loop") {
    val q = graft.SparkEntry.queries("qn10_embedding_neardup")(spark, sf("sf0.01"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"block-grid self-join must be an equality join:\n$plan")
  }

  test("simhash candidate count is near-linear and exact for hamming <= 3") {
    import graft.ops.Dedup
    // 20k random 64-bit fingerprints: the old 4x16-bit banding would
    // produce ~4*n^2/2^17 = ~12k SPURIOUS candidate pairs here; the
    // Manku multi-block keys (C(7,4)=35 keys of 36-37 bits) expect
    // ~35*n^2/2^37 < 1. Gate: candidates = planted pairs + single-digit
    // noise, i.e. growth is ~linear in n, not n^2/2^16.
    val n = 20000L
    val base = spark.range(n).select(col("id"), xxhash64(col("id")).as("fp"))
    // Plant 50 near-dups of docs 0..49: same fp with `id mod 4` distinct
    // bits flipped (hamming 0..3), ids offset by 1M so pairs are (i, i+1M).
    val plantedRows = base.where(col("id") < 50).collect().map { r =>
      val (i, f) = (r.getLong(0), r.getLong(1))
      val g = (0 until (i % 4).toInt).foldLeft(f)((acc, b) =>
        acc ^ (1L << (((i + 17 * b) % 60) + 1)))
      (i + 1000000L, g)
    }
    val planted = spark.createDataFrame(plantedRows.toSeq).toDF("id", "fp")
    val cand = Dedup.simhashCandidatePairs(base.union(planted), maxHamming = 3)
      .collect()
    val within = cand.filter(_.getInt(2) <= 3)
    val plantedFound = within.filter(r => r.getLong(1) == r.getLong(0) + 1000000L)
    assert(plantedFound.length == 50,
      s"pigeonhole exactness broken: found ${plantedFound.length}/50 planted pairs")
    assert(cand.length <= 60,
      s"candidate fanout super-linear: ${cand.length} candidates for 50 planted pairs")
  }

  test("hot-shingle cap bounds the Jaccard join fanout to ~linear (qn02/qn24 gate)") {
    import graft.ops.Dedup
    import graft.tools.ScaleData
    // Deterministic Zipf-headed corpus (skew 5: top word ~13% of draws)
    // where hot shingles cross a doc-freq cap of 30 at BOTH scales. The
    // fanout metric is the exact number of pair increments the shingle
    // self-join shuffles: sum over shingles of C(min(df, cap), 2),
    // computed from the doc-frequency table (no join needs to run).
    val (n1, n2) = (3000L, 12000L)
    def freqs(n: Long) = Dedup.shingleDocFreqs(
      Dedup.shingleSignatures(
        ScaleData.documents(spark, n, skew = 5.0), "doc_id", "text")).cache()
    def fan(fr: org.apache.spark.sql.DataFrame, cap: Long): Long = {
      val d = if (cap > 0) least(col("df"), lit(cap)) else col("df")
      fr.agg(sum((d * (d - 1) / 2).cast("decimal(38,0)")))
        .head().getDecimal(0).longValueExact()
    }
    val (f1, f2) = (freqs(n1), freqs(n2))
    try {
      val rawRatio = fan(f2, 0).toDouble / fan(f1, 0)
      val capRatio = fan(f2, 30).toDouble / fan(f1, 30)
      // 4x docs: the corpus is genuinely quadratic without the cap...
      assert(rawRatio > 12.0, f"corpus not quadratic enough: raw ratio $rawRatio%.1f")
      // ...and ~linear-with-log-slack with it (measured 5.9).
      assert(capRatio <= 8.0, f"capped fanout super-linear: $capRatio%.1f for 4x docs")
    } finally { f1.unpersist(); f2.unpersist() }
    // The detected pair set itself stays linear in the planted dups.
    def pairs(n: Long): Long = Dedup.ngramJaccardPairs(
      ScaleData.documents(spark, n, skew = 5.0), "doc_id", "text",
      maxShingleDocFreq = 30).count()
    val (p1, p2) = (pairs(n1), pairs(n2))
    assert(p2 <= 6 * p1 && p2 >= 3 * p1,
      s"pair output not ~linear: $p1 pairs at $n1 docs, $p2 at $n2")
  }

  test("a 100x giant document cannot hot-spot the shingle join (qn02 skew audit)") {
    import graft.ops.Dedup
    import graft.tools.ScaleData
    val n = 3000L
    val base = ScaleData.documents(spark, n)
    val giant = ScaleData.documents(spark, n, giantFactor = 100L)
    // (a) DATA spread: per-reducer row volume of the shingle-keyed
    // exchange (what the self-join shuffles on). A giant doc is many
    // DISTINCT shingles × one occurrence — hash(s) spreads them
    // uniformly, unlike a hot shingle (one key × many docs), which the
    // doc-freq cap handles. Counted on the RDD (the SQL-layer
    // spark_partition_id is unreliable under AQE).
    def spread(docs: org.apache.spark.sql.DataFrame): Double = {
      val counts = Dedup.shingleSignatures(docs, "doc_id", "text")
        .repartition(32, col("s"))
        .rdd.mapPartitions(it => Iterator(it.size.toLong)).collect()
      counts.max.toDouble / (counts.sum.toDouble / counts.length)
    }
    val (sBase, sGiant) = (spread(base), spread(giant))
    info(f"max/mean reducer rows: base $sBase%.2f giant $sGiant%.2f")
    assert(sGiant <= 2.0, f"giant doc hot-spots a reducer: $sGiant%.2f")
    // (b) TASK-TIME spread on the end-to-end detector: no straggler may
    // dominate the job (the wall-clock symptom of a hot reducer).
    val durations = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        durations.add(t.taskInfo.duration)
    }
    spark.sparkContext.addSparkListener(listener)
    val (giantPairs, wallMs) =
      try {
        val t0 = System.nanoTime()
        val p = Dedup.ngramJaccardPairs(giant, "doc_id", "text")
          .select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        (p, (System.nanoTime() - t0) / 1e6)
      } finally {
        // Listener events post asynchronously; give the bus a beat
        // before reading (no public flush on SparkContext).
        Thread.sleep(1000)
        spark.sparkContext.removeSparkListener(listener)
      }
    val taskMs = durations.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted
    val maxTask = taskMs.last.toDouble
    val median = taskMs(taskMs.length / 2).toDouble
    info(f"tasks=${taskMs.length} median=${median}%.0fms max=${maxTask}%.0fms wall=${wallMs}%.0fms")
    assert(maxTask <= math.max(1000.0, 0.6 * wallMs),
      f"straggler task: max ${maxTask}%.0fms of ${wallMs}%.0fms wall")
    // (c) Correctness under skew: the giant near-dup pair (0,1) is
    // found and the pair set equals the no-giant corpus's (same planted
    // structure, only lengths differ).
    assert(giantPairs.contains((0L, 1L)), "giant near-dup pair missed")
    val basePairs = Dedup.ngramJaccardPairs(base, "doc_id", "text")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(giantPairs == basePairs,
      s"giant-only=${(giantPairs -- basePairs).size} base-only=${(basePairs -- giantPairs).size}")
  }

  test("minhash banded candidates grow ~linearly with the corpus (qn03 gate)") {
    import graft.ops.Dedup
    import graft.tools.ScaleData
    // AND-amplified banding (r=4 rows/band): P(band collision) = j^4, so
    // low-similarity pairs practically never collide and the candidate
    // count tracks the planted near-dup mass (linear in n), not n^2.
    def cands(n: Long): Long = Dedup.minhashCandidatePairs(
      ScaleData.documents(spark, n), "doc_id", "text").count()
    val (c1, c2) = (cands(3000L), cands(12000L))
    assert(c1 > 0, "no candidates at the small scale — fixture broken")
    assert(c2 <= 8 * c1,
      s"banded candidates super-linear: $c1 at 3k docs, $c2 at 12k")
  }

  test("semdedup survivors equal SRP-banded dedup survivors on planted twins (qn40 gate)") {
    import graft.ops.{Dedup, Similarity}
    import graft.tools.ScaleData
    // Two independent detectors over the same planted-twin corpus at the
    // twin threshold: cluster-scoped exact pairs (SemDeDup) and banded
    // SRP candidates. Components and keep-min survivors must agree —
    // each method cross-validates the other's recall end-to-end.
    val emb = ScaleData.embeddings(spark, 2000L).cache()
    try {
      val sem = Dedup.applyComponents(emb,
        Similarity.semDedupPairs(emb, "vec_id", "embedding",
          threshold = 0.9, nlist = 8, assignProbes = 3),
        "id_a", "id_b", "vec_id")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val srp = Dedup.applyComponents(emb,
        Similarity.srpNeighbors(emb, "vec_id", "embedding",
          dim = 64, cosThreshold = 0.9, numPlanes = 32, bands = 4),
        "id_a", "id_b", "vec_id")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(sem.size < 2000, "no twins detected — fixture broken")
      assert(sem == srp,
        s"survivor sets diverge: sem-only=${(sem -- srp).size} srp-only=${(srp -- sem).size}")
    } finally emb.unpersist()
  }
}
