package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

/** Per-task execution stats for the qn63 straggler hunt (r13): the slow
  * mode localizes to a FEW tasks of the candidate-pair hashAgg stage
  * running ~10x their fast-mode wall while CPU-pegged on bit-identical
  * work. The two surviving suspects differ exactly in what task metrics
  * show: a JIT-deopt straggler burns cpu ~= duration with zero spill; an
  * aggregation-map memory-lottery straggler spills (memoryBytesSpilled >
  * 0) or shows depressed peakExecutionMemory. One listener, drained per
  * op, reporting the top stages by total task time with per-task
  * duration/cpu/spill/peak-memory spreads.
  */
final class TaskStatsListener extends org.apache.spark.scheduler.SparkListener {
  private case class T(dur: Long, cpuMs: Long, spill: Long, disk: Long, peak: Long)
  private val stages =
    scala.collection.concurrent.TrieMap[Int, scala.collection.mutable.ArrayBuffer[T]]()
  // Stage → job-group attribution (r14, the r13 advice): the listener
  // bus is async and its flush API is private[spark], so time-based
  // fencing mis-files late task-end events of a prior op into the next
  // op's stats on a loaded host. Job-group tags travel WITH the events
  // (SparkListenerJobStart carries the submitting thread's group and the
  // job's stage ids), so attribution is correct whenever the event
  // arrives; the post-op settle now only bounds COMPLETENESS (a task-end
  // still in flight at drain time is dropped, never mis-attributed).
  private val stageGroup = scala.collection.concurrent.TrieMap[Int, String]()
  override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(sid => stageGroup(sid) = g)
  }
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null) {
      val buf = stages.getOrElseUpdate(e.stageId,
        scala.collection.mutable.ArrayBuffer.empty[T])
      buf.synchronized {
        buf += T(e.taskInfo.duration, m.executorCpuTime / 1000000L,
          m.memoryBytesSpilled, m.diskBytesSpilled, m.peakExecutionMemory)
      }
    }
  }
  /** Top-`k` stages since the last drain, by summed task duration.
    * `group` (when non-null) keeps only stages whose job ran under that
    * job group — stages tagged otherwise stay buffered for THEIR drain.
    */
  def drainJson(k: Int = 3, group: String = null): String = {
    val keep: Int => Boolean =
      if (group == null) _ => true
      else sid => stageGroup.getOrElse(sid, "") == group
    val snap = stages.toSeq.collect {
      case (sid, b) if keep(sid) => (sid, b.synchronized(b.toVector))
    }
    snap.foreach { case (sid, _) => stages.remove(sid); stageGroup.remove(sid) }
    val top = snap.sortBy(-_._2.map(_.dur).sum).take(k)
    top.map { case (sid, ts) =>
      val ds = ts.map(_.dur).sorted
      val ratios = ts.map(t => t.cpuMs.toDouble / math.max(t.dur, 1)).sorted
      f""""s$sid":{"n":${ts.size},"dur_ms":[${ds.head},${ds(ds.size / 2)},${ds.last}],""" +
        f""""cpu_over_wall":[${ratios.head}%.2f,${ratios(ratios.size / 2)}%.2f,${ratios.last}%.2f],""" +
        f""""spill_mb":${ts.map(_.spill).sum / 1048576},"disk_mb":${ts.map(_.disk).sum / 1048576},""" +
        f""""peak_mem_mb":[${ts.map(_.peak).min / 1048576},${ts.map(_.peak).max / 1048576}]}"""
    }.mkString("{", ",", "}")
  }
}

/** Scale audit for the dedup/ANN family: runs each operator on the
  * [[ScaleData]] synthetic corpus at two (or more) sizes and reports
  * wall time, output size, and the shingle-join fanout that dominates
  * the exact-Jaccard paths — the measured counterpart of the
  * "would this survive 100×?" plan audits. Growth RATIOS between
  * consecutive scales are printed last; ~scale× (linear) is the target
  * for the capped/banded candidate generators.
  *
  * Usage: `sbt 'runMain graft.tools.ScaleBench [nDocs1 nDocs2 ...]'`
  * (default 5000 50000 — sf0.1-fixture-sized and 10× that, "sf1").
  */
object ScaleBench {

  def main(args: Array[String]): Unit = {
    val timedScales = if (args.nonEmpty) args.map(_.toLong).toSeq else Seq(5000L, 50000L)
    // Optional UNTIMED warmup point (SPARK_GRAFT_SCALE_WARMUP=<nDocs>):
    // runs every op once at a small scale before the timed points, so
    // first-execution costs (codegen compilation, HotSpot profiling of
    // the generated classes) land outside the measurement. r11 measured
    // the effect the hard way: qn63_routed read 120 s at the FIRST
    // point and 33 s at the SECOND — double the data, 3.6× faster,
    // same JVM — so an unwarmed multi-point run conflates JIT warmth
    // with scaling and its top-step ratio is meaningless for the op
    // that happens to run first.
    val warmN = sys.env.getOrElse("SPARK_GRAFT_SCALE_WARMUP", "0").toLong
    val scales = (if (warmN > 0) Seq(warmN) else Seq.empty) ++ timedScales
    // The production single-JVM session: its scale confs keep hash
    // aggregation for the bounded-heap candidate streams, turn the
    // two-level fast map off (the r13 qn63 deopt lottery,
    // SCALEBENCH_r13.json / NOTES_r13.md) and let bucketed state scans
    // report their stored sort (see Graft.singleJvmScaleConfs).
    val spark = graft.Graft.localSession("graft-scalebench")

    // In-JVM bandwidth time series (r13, the qn63 protocol): point-level
    // probes run AFTER the ops, so a transient co-tenant squeeze that
    // caused a slow rep can have passed by the time it's measured. The
    // watcher samples during the ops; each point JSON drains the samples
    // accumulated since the previous point, and every op records its
    // start offset (`off`, seconds on the same clock) so slow walls can
    // be aligned with the bandwidth curve under them.
    val bwWatch = if (sys.env.getOrElse("SPARK_GRAFT_BW_WATCH", "0") != "0")
      Some(new MemBandwidthProbe.Watcher()) else None
    // Per-task stats (SPARK_GRAFT_TASK_METRICS=1): per-op top-stage task
    // duration/cpu/spill spreads — the straggler-vs-spill discriminator.
    val taskStats = if (sys.env.getOrElse("SPARK_GRAFT_TASK_METRICS", "0") != "0") {
      val l = new TaskStatsListener; spark.sparkContext.addSparkListener(l); Some(l)
    } else None
    val runT0 = System.nanoTime()
    def offNow(): Double = (System.nanoTime() - runT0) / 1e9

    def timed(f: => Long): (Double, Long, Double) = {
      // Prior ops' shuffle files are deleted by the ContextCleaner only
      // after their dependencies are GC'd — on a long multi-point run
      // they otherwise accumulate to fill the single local disk. Nudge
      // collection OUTSIDE the timed window.
      System.gc()
      val off = offNow()
      val t0 = System.nanoTime()
      val out = f
      ((System.nanoTime() - t0) / 1e9, out, off)
    }

    // Growing-vocabulary mode (r19 item 1 — separating the closed
    // fixture's pair densification from real state-side scaling):
    // SPARK_GRAFT_SCALE_VOCAB = unset/"fixed" → the closed 30k
    // vocabulary every prior campaign ran; "heaps" →
    // [[ScaleData.heapsVocab]] per point (types grow 1.62× per corpus
    // doubling, the realistic law); an integer → that absolute
    // vocabulary at every point.
    val vocabMode = sys.env.getOrElse("SPARK_GRAFT_SCALE_VOCAB", "fixed")
    val vocabOf: Long => Long = vocabMode match {
      case "fixed" => _ => ScaleData.VocabSize.toLong
      case "heaps" => ScaleData.heapsVocab
      case v => _ => v.toLong
    }

    val results = scales.map { n =>
      val nVecs = n * 2 / 5
      val docs = ScaleData.documents(spark, n, vocabSize = vocabOf(n)).cache()
      val emb = ScaleData.embeddings(spark, nVecs).cache()
      docs.count(); emb.count() // materialize outside the timings

      // The quadratic driver of the exact-Jaccard path, computed from
      // the doc-frequency table alone: sum over shingles of C(df, 2)
      // pair increments crossing the shingle self-join shuffle.
      // SPARK_GRAFT_SCALE_FANOUT=0 skips the (untimed, but multi-minute
      // at 2M docs) census for single-op reruns that don't read it.
      val wantFanout = sys.env.getOrElse("SPARK_GRAFT_SCALE_FANOUT", "1") != "0"
      val freqs = if (wantFanout) Dedup.shingleDocFreqs(
        Dedup.shingleSignatures(docs, "doc_id", "text")).cache() else null
      def fanout(cap: Long): Long = if (!wantFanout) -1L else {
        val d = if (cap > 0) least(col("df"), lit(cap)) else col("df")
        freqs.agg(sum((d * (d - 1) / 2).cast("decimal(38,0)")))
          .head().getDecimal(0).longValueExact()
      }
      val cappedFanout = fanout(Dedup.DefaultMaxShingleDocFreq)
      val rawFanout = fanout(0)
      // Bipartite census behind qn49_cross_neardup (r14, the r13 ask):
      // the cross-corpus join's candidate volume is Σ df_A·df_B over
      // shingles surviving the COMBINED hot-cap — a different quantity
      // from the self-join C(df,2) sum above, and the one qn49's wall
      // must track. Same split as the qn49 op below.
      val crossCensus: Option[(Long, Long, Long)] = if (!wantFanout) None else {
        val cut = n / 2
        val r = Dedup.crossCorpusCandidateVolume(
          docs.where(col("doc_id") >= cut), docs.where(col("doc_id") < cut),
          "doc_id", "text").head()
        Some((r.getDecimal(1).longValueExact(), r.getDecimal(0).longValueExact(),
          r.getLong(3)))
      }
      // Fixed-reference census (r14): the PRODUCTION decontamination
      // shape. A benchmark suite does not grow with the corpus, so the
      // deployment law at 100 TB is Σ df_t·df_r with df_r CONSTANT —
      // linear in the target. The both-halves split above doubles BOTH
      // df factors per point (the fixture's closed-vocabulary
      // densification gives ~4× per 2× by construction); this pair
      // pins the reference to the same 250k docs at every timed point
      // so the growth readings separate fixture law from deployment
      // law. Same quantity, same cap predicate, different split.
      val fixedRefN = math.min(n / 4, 250000L)
      val fixedRefCensus: Option[(Long, Long, Long)] = if (!wantFanout) None else {
        val r = Dedup.crossCorpusCandidateVolume(
          docs.where(col("doc_id") >= fixedRefN),
          docs.where(col("doc_id") < fixedRefN), "doc_id", "text").head()
        Some((r.getDecimal(1).longValueExact(), r.getDecimal(0).longValueExact(),
          r.getLong(3)))
      }

      val ops = scala.collection.mutable.LinkedHashMap[String, (Double, Long, Double)]()
      val opBytes = scala.collection.mutable.LinkedHashMap[String, Long]()
      // Optional op subset (regex over op names) for targeted audits of
      // newly added operators without re-paying the full suite:
      //   SPARK_GRAFT_SCALE_OPS='qn8[23]' sbt 'runMain graft.tools.ScaleBench ...'
      val opFilter = sys.env.get("SPARK_GRAFT_SCALE_OPS").map(_.r)
      val opTasks = scala.collection.mutable.LinkedHashMap[String, String]()
      val opWeather = scala.collection.mutable.LinkedHashMap[String, String]()
      def addOp(name: String)(f: => Long): Unit =
        if (opFilter.forall(_.findFirstIn(name).isDefined)) {
          // Jobs run under a per-op job group so the listener attributes
          // stages by tag, not arrival time (late task-end events of a
          // prior op can no longer bleed into this op's stats). The
          // settle only bounds completeness: events still in flight at
          // drain time are dropped, never mis-filed.
          spark.sparkContext.setJobGroup(s"op:$name", name)
          val w0 = CpuWeatherProbe.snap()
          try ops(name) = timed(f)
          finally {
            spark.sparkContext.clearJobGroup()
            opWeather(name) = CpuWeatherProbe.deltaJson(w0, CpuWeatherProbe.snap())
          }
          taskStats.foreach { l =>
            Thread.sleep(500)
            opTasks(name) = l.drainJson(group = s"op:$name")
          }
        }
      addOp("qn02_jaccard_pairs")(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text").count())
      addOp("qn03_minhash_cand")(
        Dedup.minhashCandidatePairs(docs, "doc_id", "text").count())
      addOp("qn04_simhash_pairs")(
        Dedup.simhashNearDupPairs(docs, "doc_id", "text").count())
      addOp("qn24_incremental") {
        val cut = n / 2
        val old = docs.where(col("doc_id") < cut)
        val fresh = docs.where(col("doc_id") >= cut)
        val sig0 = Dedup.shingleSignatures(old, "doc_id", "text")
        Dedup.dedupIncremental(fresh, sig0, "doc_id", "text",
          prevShingleFreqs = Some(Dedup.shingleDocFreqs(sig0))).count()
      }
      addOp("qn26_dedup_routed")(
        // The ROUTED entry point (what a caller actually gets): exact
        // block-grid below DefaultExactCosineRows, cell-pruned adaptive
        // SemDeDup above — the r7 artifact's fixed-SRP 41×-at-3× cliff
        // row is retired because the router no longer reaches that path.
        Similarity.dedupByCosine(emb, "vec_id", "embedding", threshold = 0.9)
          .count())
      addOp("qn38_boilerplate")(
        graft.ops.TextOps.removeBoilerplate(docs, "doc_id", "text").count())
      addOp("qn46_keep_best")(
        // Same detector as qn02's row; the delta measures the keep-best
        // tail (pair-sized join + component-partitioned window) vs the
        // plain detector count.
        Dedup.applyComponentsKeepBest(docs,
          Dedup.ngramJaccardPairs(docs, "doc_id", "text"),
          "doc_a", "doc_b", "doc_id", "n_chars").count())
      addOp("qn49_cross_neardup") {
        val cut = n / 2
        Dedup.crossCorpusNearDupPairs(
          docs.where(col("doc_id") >= cut), docs.where(col("doc_id") < cut),
          "doc_id", "text").count()
      }
      // The O(delta) claim behind qn110_corpus_build_incremental: one
      // ingest's timed cost with the DELTA FIXED (250k docs) while the
      // prior corpus state grows with n. The state artifacts
      // (signatures + freqs — what a real pipeline reads back from the
      // store) build OUTSIDE the timed window, eagerly forced; the
      // timed section is exactly the per-ingest work (incremental
      // dedup of the fixed batch against the grown state). The wall
      // must track the delta and the state-join, not the corpus: a
      // rescan-shaped regression shows up as ~n growth here.
      if (opFilter.forall(_.findFirstIn("qn110_delta_ingest").isDefined)) {
        val ingestN = math.min(n / 4, 250000L)
        val stateD = docs.where(col("doc_id") < n - ingestN)
        val deltaD = docs.where(col("doc_id") >= n - ingestN)
        // The state lives in the STORE and reads back as parquet — the
        // production shape (qn24 / dedupBatchAgainstStore). The first
        // harness draft localCheckpoint'ed the ~70M-row state table
        // instead: the heap-pinned blocks pressured the op's own
        // execution memory (reproducible calibration inflation 5.7 s vs
        // 0.7 s, borderline 8 GB spill) — a measurement artifact, not
        // the op. Writes land outside the timed window.
        val st = new graft.store.Store(spark,
          graft.TempDirs.create("graft_sb_delta_"))
        val sig = Dedup.shingleSignatures(stateD, "doc_id", "text")
        // r15: signatures persist BUCKETED by shingle — the ingest's
        // state joins storage-partition (state scans in place, no
        // Exchange/shuffle-sort of the state side; only the fixed delta
        // shuffles). The r14 row-versioned layout measured 1.93× wall
        // per 2× state at fixed delta from exactly that state shuffle.
        val sigRoot = st.statePath("state/sigs")
        graft.store.BucketedState.write(sig, sigRoot, "b0", "s",
          numBuckets = 32)
        st.load(Dedup.shingleDocFreqs(sig), "state/freqs", externalKey = "b0")
        st.load(Dedup.shingleSignatureCounts(sig), "state/sigcounts",
          externalKey = "b0")
        val sigSlices = graft.store.BucketedState.slices(spark, sigRoot)
        val freqState = st.get("state/freqs", useLast = true)
        val countState = st.get("state/sigcounts", useLast = true)
        addOp("qn110_delta_ingest")(
          Dedup.dedupIncrementalSliced(deltaD, sigSlices, "doc_id", "text",
            prevShingleFreqs = Some(freqState),
            prevSigCounts = Some(countState)).count())
      }
      // Watermark-fold latency envelope (r17): the slice-count
      // watermark folds the FULL accumulated state inside one
      // micro-batch at batch start; this op times exactly that fold —
      // all three bucketed surfaces, 4 slices → 1 — at the point's
      // state size, so the injected stall is a measured number an
      // operator can size maxSlices against (per-batch overhead =
      // fold/maxSlices amortized, or ~zero when compactDedupState runs
      // the fold out-of-band). Slice builds land outside the timing.
      if (opFilter.forall(_.findFirstIn("qn110_state_fold").isDefined)) {
        val st = new graft.store.Store(spark,
          graft.TempDirs.create("graft_sb_fold_"))
        val kSlices = 4
        val sigRoot = st.statePath("fold/sigs")
        val freqRoot = st.statePath("fold/freqs")
        val cntRoot = st.statePath("fold/sigs-counts")
        (0 until kSlices).foreach { i =>
          val part = docs.where(pmod(col("doc_id"), lit(kSlices)) === i)
          val sig = Dedup.shingleSignatures(part, "doc_id", "text")
          graft.store.BucketedState.write(sig, sigRoot, s"b$i", "s",
            numBuckets = 32)
          graft.store.BucketedState.write(Dedup.shingleDocFreqs(sig),
            freqRoot, s"b$i", "s", numBuckets = 32)
          graft.store.BucketedState.write(Dedup.shingleSignatureCounts(sig),
            cntRoot, s"b$i", "id", numBuckets = 32)
        }
        addOp("qn110_state_fold") {
          graft.streaming.DocStreams.compactDedupState(spark, st, "m0",
            sigTable = "fold/sigs", freqTable = "fold/freqs")
          graft.store.BucketedState.versions(spark, sigRoot).size.toLong
        }
      }
      // Store layout migration (qs15's 100 TB claim): the SOURCE table
      // loads outside the timed window; the timed section is exactly
      // one rekey — full read + partition-clustered staged write +
      // rename publish. The wall must track data size (~2x per 2x
      // docs); bucket width is sized so dir count stays O(10) and the
      // measurement is migration throughput, not tiny-file creation.
      if (opFilter.forall(_.findFirstIn("qs15_rekey").isDefined)) {
        val st = new graft.store.Store(spark,
          graft.TempDirs.create("graft_sb_rekey_"), idBucketWidth = 500000L)
        st.load(docs, "mig/src", externalKey = "v1")
        addOp("qs15_rekey") {
          // rekey is eager (each version copies through load); the
          // destination read-back verifies OUTSIDE the timed window —
          // the r14 runs before this fix timed migration + one full
          // read-back (walls overstated by the extra scan).
          st.rekey("mig/src", "mig/dst",
            Map("doc_id" -> graft.store.Store.KeyId))
          1L
        }
        require(st.get("mig/dst", Some("v1")).count() == n,
          "rekey destination row-count mismatch")
      }
      addOp("qn49_fixedref")(
        // The deployment shape (see fixedRefCensus above): reference
        // pinned at 250k docs across points, target grows with n —
        // the wall must track the fixed-ref capped census (linear in
        // target), not the both-halves fixture law.
        Dedup.crossCorpusNearDupPairs(
          docs.where(col("doc_id") >= fixedRefN),
          docs.where(col("doc_id") < fixedRefN), "doc_id", "text").count())
      addOp("qn40_semdedup") {
        // DEFAULT (corpus-adaptive) nlist — THE SemDeDup scale lever
        // (cells hold ~2500 rows at any corpus size; fixed nlist is
        // quadratic: 129 s vs 9.4 s at 60k vecs for the SAME 619
        // detected pairs). Since r8 this is the no-hint default; the
        // bench exercises exactly what a caller gets.
        val pairs = Similarity.semDedupPairs(emb, "vec_id", "embedding",
          threshold = 0.9, assignProbes = 3)
        Dedup.applyComponents(emb, pairs, "id_a", "id_b", "vec_id").count()
      }
      // The learned-quality SERVING pass (qn105's 100 TB claim): the
      // model trains on a bounded sample OUTSIDE the timed window (a
      // fit does not grow with the corpus — trainQualityModel
      // hash-samples past maxTrainRows; forcing it before addOp keeps
      // the fit out of the wall); the timed section is the corpus-scale
      // scoring scan through HashedTokenLogitExpr — one shuffle-free
      // pass whose wall must track the tokenize scan (the qn82/qn86
      // family), with zero spill.
      if (opFilter.forall(_.findFirstIn("qn105_score").isDefined)) {
        val qualityModel = graft.ops.TextOps.trainQualityModel(docs, "text")
        addOp("qn105_score")(
          docs.select(graft.ops.TextOps
              .qualityModelScore(col("text"), qualityModel).as("p"))
            .where(col("p") >= 0.5).count())
      }
      // Rejection-funnel attribution (qn111): the full curation
      // composition (per-row quality flags → capped-candidate dedup →
      // broadcast decontam) plus the two id-keyed attribution joins
      // and a sources×stages aggregate. The components are measured
      // solo elsewhere (qn26/qn40/qn52 families); this point pins the
      // COMPOSITION's overhead — the wall should read like dedup +
      // decontam, the joins and census being id/metadata-sized.
      addOp("qn111_funnel")(
        graft.ops.TextOps.rejectionFunnel(
          docs.where(pmod(col("doc_id"), lit(50L)) =!= 3L),
          docs.where(pmod(col("doc_id"), lit(50L)) === 3L),
          "doc_id", "text")
          .groupBy("source", "stage").count().count())
      // The multiclass DOMAIN serving pass (qn112's 100 TB claim):
      // same protocol as qn105_score — the fit (bounded sample) runs
      // OUTSIDE the timed window; the timed section is the corpus scan
      // through HashedTokenMultiLogitExpr (K logit lanes per token vs
      // the binary kernel's one — the wall should stay scan-tracking,
      // K× the per-token adds being arithmetic, not memory).
      if (opFilter.forall(_.findFirstIn("qn112_score").isDefined)) {
        val domainModel =
          graft.ops.TextOps.trainDomainModel(docs, "text", "lang")
        addOp("qn112_score")(
          docs.select(graft.ops.TextOps
              .domainPredict(col("text"), domainModel).as("p"))
            .where(col("p.prob") >= 0.5).count())
      }
      // Routed bitext mining (qn113): two IVF candidate searches over
      // the even/odd embedding halves + the margin tail (id-keyed
      // DECIMAL-sum joins, per-source top-1 over <= k rows). The wall
      // should read like two qn12-family searches; the tail is
      // id/metadata-sized.
      addOp("qn113_bitext")(
        Similarity.marginBitextPairs(
          emb.where(pmod(col("vec_id"), lit(2)) === 0),
          emb.where(pmod(col("vec_id"), lit(2)) === 1),
          "vec_id", "embedding", k = 4, threshold = 1.02).count())
      // Multi-benchmark decontamination's scale claim is K-INVARIANCE:
      // 4 suites in one pass should cost ~one corpus shingle scan, vs
      // the 4-sequential-calls baseline paying the scan per suite. Both
      // rows share the same 4 metadata-scale benchmark slices.
      locally {
        // K from SPARK_GRAFT_MULTI_K (default 4, max 16). The corpus
        // always excludes ALL 16 candidate residues so one-pass walls
        // are comparable ACROSS K — only the broadcast suite set grows.
        val rawK = sys.env.getOrElse("SPARK_GRAFT_MULTI_K", "4")
        val k116 = math.max(1, math.min(16,
          try rawK.trim.toInt
          catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"SPARK_GRAFT_MULTI_K must be an integer in [1,16], got '$rawK'")
          }))
        val mods16 = (0 until 16).map(i => (i * 7 + 3) % 50)
        val isBench = mods16.map(m => pmod(col("doc_id"), lit(50)) === m)
          .reduce(_ || _)
        val corpus = docs.where(!isBench)
        // Each suite capped at ~500 docs (id < 25000, 1-in-50 residue):
        // real benchmarks are metadata-scale next to the corpus, and the
        // K-invariance claim is about the CORPUS side — uncapped slices
        // made suite shingling itself grow with K and drowned it.
        val benches = mods16.take(k116).map(m => s"bench_$m" ->
          docs.where(pmod(col("doc_id"), lit(50)) === m &&
            col("doc_id") < 25000))
        addOp("qn116_multi_onepass")(
          graft.ops.TextOps.contaminationOverlapMulti(corpus, benches,
            "doc_id", "text").count())
        addOp(s"qn116_single_x$k116")(
          benches.map { case (_, b) =>
            graft.ops.TextOps.contaminationOverlap(corpus, b,
              "doc_id", "text").count()
          }.sum)
      }
      addOp("qn117_ppl_buckets") {
        // lmFluency train+score passes plus the skinny (id, by, score)
        // tercile window; wall should track qn45's LM joins (the text
        // never enters the sort shuffle).
        val cut = n / 2
        graft.ops.TextOps.perplexityBuckets(
          docs.where(col("doc_id") >= cut), "doc_id", "text", "source",
          lm = Some(docs.where(col("doc_id") < cut))).count()
      }
      // Binary-quantized ANN vs the exact float scan on the SAME query
      // set: the hamming pass reads 16× fewer candidate bytes, so the
      // pair of rows measures what the packed scan actually buys on a
      // memory-bound corpus (plus the rerank's candidate-sized tail).
      addOp("qn118_hamming_ann")(
        Similarity.hammingTopK(emb, emb.where(col("vec_id") < 64),
          "vec_id", "embedding", k = 10, oversample = 4).count())
      addOp("qn118_brute_float")(
        Similarity.topKPerQuery(emb, emb.where(col("vec_id") < 64),
          "vec_id", "embedding", k = 10).count())
      addOp("qn122_int8_ann")(
        Similarity.int8TopK(emb, emb.where(col("vec_id") < 64),
          "vec_id", "embedding", k = 10, oversample = 4).count())
      // The qn120 artifact claim, measured: serving from STORED packed
      // signatures vs qn118's re-pack-per-call — the delta is the
      // packing scan of the float corpus the artifact amortizes away.
      // Build lands outside the timed window (it's a once-per-corpus
      // cost, like the delta-ingest state builds above).
      if (opFilter.forall(_.findFirstIn("qn120_hamming_stored").isDefined)) {
        val st = new graft.store.Store(spark,
          graft.TempDirs.create("graft_sb_bq_"))
        graft.ops.VectorIndex.buildHamming(st, emb, "vec_id", "embedding",
          "ann/bq", externalKey = "v1")
        addOp("qn120_hamming_stored")(
          graft.ops.VectorIndex.searchHamming(st, "ann/bq", emb,
            emb.where(col("vec_id") < 64), "vec_id", "embedding",
            k = 10, oversample = 4).count())
      }
      // Storage-bound claim behind qn120/qn123 (r15 verdict item #4):
      // on a page-cached corpus the quantized artifacts TIE the re-pack
      // path, so the N×-fewer-candidate-scan-bytes deployment claim was
      // unmeasured. This block defeats the cache (sync + drop_caches
      // before every op — root-only; loud note and uncooled reps
      // otherwise), reads the float corpus and both stored artifacts
      // from PARQUET, prunes the rerank float fetch to candidate ids
      // (pruneRerank — without it the rerank re-scans every float byte
      // and the artifact's whole byte advantage vanishes by
      // construction), and records per-op task input bytes next to the
      // walls. Opt-in ONLY: the filter PATTERN must literally name the
      // block — a broad regex ('.*', 'qn1.*|s.*') that merely MATCHES
      // the token must not trigger it, because it drops the host's
      // whole page cache and pollutes every op measured after it.
      // SPARK_GRAFT_SCALE_OPS=storage_bound.
      if (opFilter.exists(_.regex.contains("storage_bound"))) {
        // Two instruments, both REAL quantities (the task-metrics
        // bytesRead listener was tried first and discarded: on the
        // local file scheme it reported ~100× under the file sizes and
        // ranked the tiers backwards):
        //  - artifact bytes on disk (du of each dir) — the exact scan-
        //    bytes ratio a 100 TB deployment pays per candidate pass;
        //  - /proc/self/io read_bytes deltas around each cold op — the
        //    JVM's actual block-device reads, which is precisely what a
        //    cold-cache wall is made of (includes the rerank's float
        //    fetch, so the residual IO story is visible, not assumed).
        val dir = graft.TempDirs.create("graft_sb_storage_")
        val floatPath = s"$dir/floats"
        emb.write.mode("overwrite").parquet(floatPath)
        def floats = spark.read.parquet(floatPath)
        val st = new graft.store.Store(spark, s"$dir/store")
        graft.ops.VectorIndex.buildHamming(st, floats, "vec_id",
          "embedding", "ann/bq", externalKey = "v1")
        graft.ops.VectorIndex.buildInt8(st, floats, "vec_id",
          "embedding", "ann/sq", externalKey = "v1")
        def dirBytes(p: String): Long = {
          val root = java.nio.file.Paths.get(p)
          if (!java.nio.file.Files.exists(root)) -1L
          else {
            val s = java.nio.file.Files.walk(root)
            try s.filter(java.nio.file.Files.isRegularFile(_))
              .mapToLong(java.nio.file.Files.size(_)).sum()
            finally s.close()
          }
        }
        opBytes("artifact_floats") = dirBytes(floatPath)
        opBytes("artifact_hamming") = dirBytes(s"$dir/store/ann/bq")
        opBytes("artifact_sq8") = dirBytes(s"$dir/store/ann/sq")
        // Queries as a LOCAL relation so every timed byte is corpus-side.
        val q0 = floats.where(col("vec_id") < 64)
        val queries = spark.createDataFrame(
          java.util.Arrays.asList(q0.collect(): _*), q0.schema)
        def procReadBytes(): Long = {
          val src = scala.io.Source.fromFile("/proc/self/io")
          try src.getLines().collectFirst {
            case l if l.startsWith("read_bytes:") =>
              l.split(":")(1).trim.toLong
          }.getOrElse(-1L)
          finally src.close()
        }
        def dropCaches(): Unit = {
          Runtime.getRuntime.exec(Array("sync")).waitFor()
          try java.nio.file.Files.write(
            java.nio.file.Paths.get("/proc/sys/vm/drop_caches"),
            "3".getBytes)
          catch { case e: Exception =>
            System.err.println(s"[storage_bound] drop_caches failed " +
              s"(reps NOT cold): $e")
          }
        }
        def cold(name: String)(f: => Long): Unit = {
          dropCaches()
          val b0 = procReadBytes()
          addOp(name)(f)
          opBytes(name) = procReadBytes() - b0
        }
        cold("qn118_storage_bound_brute")(
          Similarity.topKPerQuery(floats, queries, "vec_id", "embedding",
            k = 10).count())
        cold("qn120_storage_bound_hamming")(
          graft.ops.VectorIndex.searchHamming(st, "ann/bq", floats,
            queries, "vec_id", "embedding", k = 10, oversample = 4,
            pruneRerank = true).count())
        cold("qn123_storage_bound_sq8")(
          graft.ops.VectorIndex.searchInt8(st, "ann/sq", floats,
            queries, "vec_id", "embedding", k = 10, oversample = 4,
            pruneRerank = true).count())
        // The candidate SCAN in isolation (an aggregate over each
        // stored artifact / the float parquet): the pure scan-bytes
        // story with no rerank in the frame.
        // head().getLong forces the hash of every row — a .count() over
        // the ungrouped aggregate let Catalyst prune the hash column
        // and the "scan" read only footers (caught in the first run's
        // numbers: 6-7 MB "scans" of 13/208 MB files).
        cold("qn120_storage_bound_sigscan")(
          st.get("ann/bq/signatures")
            .agg(max(xxhash64(col("vec_id"), col("words"))))
            .head().getLong(0))
        cold("qn118_storage_bound_floatscan")(
          floats.agg(max(xxhash64(col("vec_id"), col("embedding"))))
            .head().getLong(0))
        // Deployment-shaped rerank layout (r17, VERDICT #1): the r16
        // numbers above honestly recorded that at a 32-file fixture the
        // pruned rerank still reads ~every float byte — each file is
        // ONE row group, and 2560 uniform candidate ids touch all 32.
        // The quantized tiers' deployment claim is that the float fetch
        // reads candidate-touched ROW GROUPS only, which needs (a) the
        // corpus id-SORTED across many files/groups so each group owns
        // a narrow id range, and (b) candidates sparse against the
        // group count. This leg builds exactly that: floats
        // range-partitioned + sorted by id into ~512 files with small
        // row groups (the granule count stands in for a 100 TB
        // corpus's 10⁵–10⁶ groups of 128 MB — granularity scales, the
        // skip ARITHMETIC is what's measured), 4 queries → ≤160
        // candidate ids. r17 additionally raised the parquet
        // In-pushdown threshold past the candidate count (stock Spark
        // rewrites big INs to a min/max RANGE, which prunes nothing for
        // uniform candidates) — a session-global conf the VERDICT
        // flagged as the recipe's blast radius. r18 removed the conf
        // from the recipe: [[graft.ops.Similarity.pruneCorpusToCandidates]]
        // now pushes an or-of-id-ranges next to the exact In, prunable
        // at STOCK conf — this leg runs stock to prove the same bytes
        // (r17 raised-threshold reference: 64.2 MB of 209.5 MB,
        // SCALEBENCH_r17_storage.log). The unsorted control (same
        // files, hash-scattered rows) pins the sort as the ingredient:
        // every group spans the full id range, nothing skips.
        locally {
          val sortedPath = s"$dir/floats_sorted"
          val shuffledPath = s"$dir/floats_shuffled"
          // ~512 files; 256 KB row groups → a few granules per file.
          floats.repartitionByRange(512, col("vec_id"))
            .sortWithinPartitions("vec_id")
            .write.option("parquet.block.size", s"${256 * 1024}")
            .mode("overwrite").parquet(sortedPath)
          floats.repartition(512, xxhash64(col("vec_id")))
            .write.option("parquet.block.size", s"${256 * 1024}")
            .mode("overwrite").parquet(shuffledPath)
          def fsorted = spark.read.parquet(sortedPath)
          def fshuffled = spark.read.parquet(shuffledPath)
          opBytes("artifact_floats_sorted") = dirBytes(sortedPath)
          val q4 = floats.where(col("vec_id") < 4)
          val queries4 = spark.createDataFrame(
            java.util.Arrays.asList(q4.collect(): _*), q4.schema)
          cold("qn128_storage_bound_sorted")(
            graft.ops.VectorIndex.searchHamming(st, "ann/bq", fsorted,
              queries4, "vec_id", "embedding", k = 10, oversample = 4,
              pruneRerank = true).count())
          cold("qn128_storage_bound_shuffled")(
            graft.ops.VectorIndex.searchHamming(st, "ann/bq", fshuffled,
              queries4, "vec_id", "embedding", k = 10, oversample = 4,
              pruneRerank = true).count())
          cold("qn128_storage_bound_sortedscan")(
            fsorted.agg(max(xxhash64(col("vec_id"), col("embedding"))))
              .head().getLong(0))
        }
      }
      addOp("qn51_dedup_spans")(
        // The stride-1 window stream is the heaviest text-op shape
        // (one skinny (id, start, hash) row per token position); the
        // gate is the min-aggregate + later-copies-only coverage
        // staying ~linear in corpus tokens.
        graft.ops.TextOps.removeDuplicatedSpans(docs, "doc_id", "text", k = 20)
          .count())
      addOp("qn52_decontam_routed") {
        // ROUTED entry point (what a caller gets): exact bipartite grid
        // below DefaultExactCosineRows combined rows, union-fit
        // cell-pruned pairs above — the bipartite analog of
        // qn26_dedup_routed, crossing the same 20k crossover between
        // the first and second scale points.
        val cut = nVecs / 2
        Similarity.semanticDecontaminate(
          emb.where(col("vec_id") >= cut), emb.where(col("vec_id") < cut),
          "vec_id", "embedding", threshold = 0.9).count()
      }
      addOp("qn53_source_cap")(
        // Bounded-heap domain cap: the Exchange carries <= cap rows per
        // (partition, source); wall should track the SCAN, not the cap.
        graft.ops.Mixture.capPerSource(docs, "source", "n_chars", "doc_id",
          maxPerSource = 100).count())
      addOp("qn55_label_cohesion")(
        Similarity.labelCohesion(emb, "vec_id", "embedding", "label").count())
      addOp("qn60_novelty") {
        // Distinct-shingle equality join with fanout <= 1 per target
        // shingle (reference side distinct) — the gate is wall tracking
        // the shingle volume, NOT the qn02-style pair fanout.
        val cut = n / 2
        graft.ops.TextOps.ngramNovelty(
          docs.where(col("doc_id") >= cut), docs.where(col("doc_id") < cut),
          "doc_id", "text").count()
      }
      addOp("qn63_routed")(
        // ROUTED entry point (what a caller gets): exact per-label
        // self-join below DefaultExactCosineRows, cell-pruned (cell,
        // label)-keyed probing above — crossing the 20k crossover
        // between the first and second scale points, like qn26/qn52.
        Similarity.positivePairs(emb, "vec_id", "embedding", "label").count())
      addOp("qn69_routed")(
        // ROUTED entry point: exact anchors×corpus BNLJ below the
        // ceiling, IVF probing (√n cells, 8 probes) above — the graded
        // every-5th-vector anchor sampling.
        Similarity.knnLabelAgreement(
          emb.where(pmod(col("vec_id"), lit(5)) === 0), emb,
          "vec_id", "embedding", "label").count())
      addOp("qn74_centroid_assign")(
        // Broadcast-K nearest-centroid assignment: one corpus scan, the
        // argmax folds map-side, shuffle carries one row per vector —
        // wall should track the scan at any K that broadcasts.
        Similarity.assignToCentroids(emb,
          emb.where(col("vec_id") < 8)
            .select(col("vec_id").as("cluster_id"), col("embedding")),
          "vec_id", "embedding", "cluster_id", "embedding",
          carry = Seq("label")).count())
      addOp("qn61_label_outliers")(
        // Bounded-heap bottom-k per label: one narrow centroid shuffle +
        // heap partials; wall should track the scan.
        Similarity.labelOutliers(emb, "vec_id", "embedding", "label", k = 5)
          .count())
      addOp("qn64_bm25")(
        // Query-term filter lands before any shuffle; dl is a per-row
        // projection — wall should track the tokenize scan.
        graft.ops.TextOps.bm25Search(docs, "doc_id", "text",
          query = Seq("table", "vector", "merge"), k = 10).count())
      addOp("qn66_blocking")(
        // Candidate volume is Σ block_size² (length-independent); the
        // gate is wall tracking the block join, not the corpus square.
        Dedup.blockingNearDupPairs(docs, "doc_id", "text").count())
      addOp("qn68_containment")(
        // Shares qn02's capped signature machinery; the delta vs the
        // qn02 row isolates the normalization (min vs union).
        Dedup.containmentNearDupPairs(docs, "doc_id", "text").count())
      addOp("qn82_topgram")(
        // Two map-side-combinable aggregates over the 2x token stream;
        // wall should track the tokenize scan (the qn31/qn51 family),
        // never a join or pair fanout.
        graft.ops.TextOps.topNgramStats(docs, "doc_id", "text").count())
      addOp("qn83_diverse_sample")(
        // assignToCentroids scan + WindowGroupLimit cap: the exchange
        // carries <= perCell rows per (upstream partition, cluster), so
        // wall should track the assignment scan at any corpus size.
        graft.ops.Mixture.clusterBalancedSample(
          Similarity.assignToCentroids(emb,
            emb.where(col("vec_id") < 8)
              .select(col("vec_id").as("cluster_id"), col("embedding")),
            "vec_id", "embedding", "cluster_id", "embedding"),
          "vec_id", "cluster_id", perCell = 10).count())
      addOp("qn84_scene_cuts") {
        // Per-partition decode, no shuffle of media bytes: wall is pure
        // decode CPU and must scale with the video count (n/10 videos,
        // ~10-frame two-scene clips).
        import spark.implicits._
        val media = spark.range(n / 10).map { id =>
          graft.ops.Multimodal.MediaRecord(id,
            graft.ops.Multimodal.syntheticSceneGif(32, 24, sceneLen = 5,
              nScenes = 2, seed = id), "video/gif")
        }
        graft.ops.Multimodal.sceneCuts(media.toDF()).count()
      }
      addOp("qn86_zipf_full")(
        // Exact full-vocab default: the per-source rank sort IS the
        // cost driver — this row is the baseline the head fit beats.
        graft.ops.TextOps.zipfSlope(docs, "text", "source").count())
      addOp("qn86_zipf_head")(
        // Production head fit (maxRank): WindowGroupLimit keeps the
        // per-source sort input at maxRank rows per map task.
        graft.ops.TextOps.zipfSlope(docs, "text", "source", maxRank = 1000).count())
      addOp("qn91_source_jsd")(
        // One corpus scan into a materialized vocab table; the pair
        // replication is |sources|-bounded, so wall should track the
        // token scan like qn86, not the pair count.
        graft.ops.TextOps.unigramJsdMatrix(docs, "text", "source").count())
      addOp("qs07_cdc_merge") {
        val root = graft.TempDirs.create("graft_scale_cdc_")
        val store = new graft.store.Store(spark, root)
        val base = docs.select(col("doc_id"), col("source"), col("n_chars"))
        store.load(base, "t", externalKey = "b0")
        (1 to 3).foreach { i =>
          store.merge(base.where(pmod(col("doc_id"), lit(10)) === i)
              .withColumn("n_chars", col("n_chars") + i),
            "t", Seq("doc_id"), externalKey = s"b$i")
        }
        store.getMerged("t").count()
      }

      // Fixed-SIZE calibration probe (r10, the Bench.scala lesson): the
      // same 50k-doc tokenize+agg at every point and in every run, so
      // cross-run wall comparisons can divide out host/JVM state — the
      // r10 sixth-point run was ~2× the r9 artifact's 1M walls on
      // identical code purely from measurement context, which an
      // artifact-embedded speedometer makes visible instead of arguable.
      val calib = timed {
        val cd = ScaleData.documents(spark, 50000L)
        cd.select(explode(split(col("text"), "\\s+")).as("t"))
          .groupBy("t").count().count()
      }._1
      // Bandwidth speedometer (r11): the compute-bound calibration above
      // cannot see co-tenant DRAM pressure, which is the one variable
      // left standing for the qn63 bimodality — see MemBandwidthProbe.
      val (bw1, bwN) = MemBandwidthProbe.probe(threads = 32)
      val opsJson = ops.map { case (k, (s, rows, off)) =>
        s""""$k":{"sec":${f"$s%.3f"},"rows":$rows,"off":${f"$off%.1f"}}"""
      }.mkString(",")
      val watchJson = bwWatch.map { w =>
        val ss = w.drain().map { case (t, g) => f"[$t%.1f,$g%.2f]" }.mkString("[", ",", "]")
        s""","bw_watch_t1":$ss"""
      }.getOrElse("")
      val taskJson =
        if (opTasks.isEmpty) ""
        else opTasks.map { case (k, v) => s""""$k":$v""" }
          .mkString(""","task_stats":{""", ",", "}")
      // Per-op co-tenant CPU weather (r17): integrated over each op's
      // exact timed window, unlike the point-boundary bandwidth probe —
      // the statistic the fixed-delta acceptance band gates on.
      val weatherJson =
        if (opWeather.isEmpty) ""
        else opWeather.map { case (k, v) => s""""$k":$v""" }
          .mkString(""","cpu_weather":{""", ",", "}")
      val isWarm = warmN > 0 && n == warmN
      val crossJson = crossCensus.map { case (c, r, h) =>
        s""""cross_capped_pairs":$c,"cross_raw_pairs":$r,"cross_hot_dropped":$h,"""
      }.getOrElse("") + fixedRefCensus.map { case (c, r, h) =>
        s""""fixedref_n":$fixedRefN,"fixedref_capped_pairs":$c,""" +
          s""""fixedref_raw_pairs":$r,"fixedref_hot_dropped":$h,"""
      }.getOrElse("")
      val bytesJson =
        if (opBytes.isEmpty) ""
        else opBytes.map { case (k, v) => s""""$k":$v""" }
          .mkString(""","bytes_read":{""", ",", "}")
      println(s"""{"n_docs":$n,"n_vecs":$nVecs,"warmup":$isWarm,""" +
        s""""vocab_mode":"$vocabMode","vocab_size":${vocabOf(n)},""" +
        s""""calibration_sec":${f"$calib%.3f"},""" +
        s""""mem_bw_gbps":{"t1":${f"$bw1%.2f"},"t32":${f"$bwN%.2f"}}$watchJson$taskJson$weatherJson,""" +
        s"""$crossJson"capped_fanout":$cappedFanout,"raw_fanout":$rawFanout$bytesJson""" +
        (if (ops.isEmpty) "}" else s",$opsJson}"))
      docs.unpersist(); emb.unpersist()
      if (freqs != null) freqs.unpersist()
      // Flush stats of ungrouped jobs (cache materialization, fanout
      // census, calibration) so they don't accumulate across points.
      taskStats.foreach { l => l.drainJson(); () }
      (n, cappedFanout, rawFanout, crossCensus, fixedRefCensus, ops.toMap)
    }

    // Ratios over the TIMED points only — the warmup point exists to
    // absorb first-execution costs, not to anchor a growth claim.
    results.drop(if (warmN > 0) 1 else 0).sliding(2).foreach {
      case Seq((n1, c1, r1, x1, f1, ops1), (n2, c2, r2, x2, f2, ops2)) =>
        val scale = n2.toDouble / n1
        val ratios = ops1.keys.map { k =>
          s""""$k":${f"${ops2(k)._1 / math.max(ops1(k)._1, 1e-9)}%.2f"}"""
        }.mkString(",")
        val crossRatio = (x1, x2) match {
          case (Some((cc1, cr1, _)), Some((cc2, cr2, _))) =>
            s""""cross_capped_ratio":${f"${cc2.toDouble / math.max(cc1, 1)}%.2f"},""" +
              s""""cross_raw_ratio":${f"${cr2.toDouble / math.max(cr1, 1)}%.2f"},"""
          case _ => ""
        }
        val fixedRefRatio = (f1, f2) match {
          case (Some((fc1, fr1, _)), Some((fc2, fr2, _))) =>
            s""""fixedref_capped_ratio":${f"${fc2.toDouble / math.max(fc1, 1)}%.2f"},""" +
              s""""fixedref_raw_ratio":${f"${fr2.toDouble / math.max(fr1, 1)}%.2f"},"""
          case _ => ""
        }
        println(s"""{"ratio_of":"$n2/$n1","scale":$scale,""" +
          s""""capped_fanout_ratio":${f"${c2.toDouble / math.max(c1, 1)}%.2f"},""" +
          s""""raw_fanout_ratio":${f"${r2.toDouble / math.max(r1, 1)}%.2f"},""" +
          s"""$crossRatio$fixedRefRatio"wall_ratios":{$ratios}}""")
      case _ => ()
    }
    spark.stop()
  }
}
