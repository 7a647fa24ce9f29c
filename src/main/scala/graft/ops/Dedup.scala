package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators for training-data pipelines, at four levels of
  * fuzziness: exact, n-gram Jaccard, MinHash+LSH, and SimHash. Embedding
  * cosine near-dup lives in [[Similarity]].
  *
  * Scale design (100 TB):
  *   - exact dedup is a single hash aggregate on the dedup key;
  *   - n-gram Jaccard joins on individual shingles — the only quadratic
  *     blowup risk is ultra-common shingles, so [[ngramJaccardPairs]] can
  *     drop shingles above a document-frequency cap (stopword shingles
  *     contribute almost nothing to Jaccard but dominate join fanout);
  *   - MinHash LSH reduces candidate generation to equality joins on
  *     banded signatures (native AND-of-OR amplification, shuffle on
  *     band hash only);
  *   - SimHash packs a document into 64 bits; candidate pairs come from
  *     equality joins on Manku-style multi-block band keys (pigeonhole:
  *     hamming ≤ 3 ⇒ some 4-block combination untouched ⇒ its ~36-bit
  *     key equal — near-linear candidate counts even at billions of
  *     docs), then exact hamming ranks survivors. Everything is
  *     built-in expressions — no UDFs.
  */
object Dedup {

  /** Materialization primitive for the multi-pass dedup pipelines. If the
    * session has a reliable checkpoint directory configured
    * (`sparkContext.setCheckpointDir(...)`), uses `Dataset.checkpoint`:
    * the intermediate lands in fault-tolerant storage with lineage
    * truncated, so an executor loss halfway through a multi-hour 100 TB
    * dedup recomputes nothing and — unlike a lost `localCheckpoint`
    * block, which has no lineage to rebuild from — does not fail the job.
    * Without one (local mode, short jobs) it falls back to lazy
    * `localCheckpoint`, which caches on executors and is cheaper but dies
    * with them. Both are lazy (`eager = false`): constructing the
    * DataFrame (explain, dry planning) runs no job; the first real action
    * materializes, and every later branch reuses the materialized blocks.
    *
    * Reliable-mode snapshots outlive the query (the CC loop deletes its
    * own superseded rounds, but terminal snapshots stay until the
    * checkpoint dir is cleaned — set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` to have
    * Spark GC them with the RDD references).
    */
  private[graft] def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)

  /** Exact dedup (pandas drop_duplicates): keep all columns, first row
    * per key by `orderCol`.
    */
  def exactKeepFirst(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Default hot-shingle cap: a shingle present in more than this many
    * documents is a stopword shingle — it contributes ~nothing to any
    * pair's Jaccard but fans out quadratically through the shingle
    * self-join (one shingle in 1M docs = 10¹² candidate pairs). Capped at
    * 1000 the worst single shingle costs ≤ ~500k local pair increments.
    * Mirrored in the qn02/qn15 oracle SQL so graded semantics stay
    * aligned at every SF.
    */
  val DefaultMaxShingleDocFreq: Long = 1000L

  /** Default edge-count ceiling for [[connectedComponents]]' driver
    * union-find route: 2M (u, v) longs ≈ 32 MB collected — fit-sample
    * scale, far under any driver's memory, while covering the pair
    * graphs real dedup detectors emit (pairs ≪ docs). Above it the
    * alternating-star rounds run distributed.
    */
  val DefaultSmallGraphMaxEdges: Long = 2000000L

  /** All-pairs n-gram Jaccard similarity ≥ threshold. Exact (no hashing)
    * up to the hot-shingle cap: explode distinct shingles, self-join per
    * shingle, count common.
    *
    * @param maxShingleDocFreq drop shingles appearing in more than this
    *        many documents (0 = keep all; exact but skew-prone at scale —
    *        never disable the cap on an open-domain corpus)
    * @param shingleFreqs optional externally-computed `(s, df)` doc
    *        frequencies ([[shingleDocFreqs]] shape) to derive the hot set
    *        from INSTEAD of this input's own counts — the lever that
    *        makes a partial-corpus run (an incremental replay leg, a
    *        per-shard pass) cap against CORPUS-WIDE frequencies, so its
    *        survivor set composes with the one-shot whole-corpus outcome
    *        structurally rather than by fixture luck
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxShingleDocFreq: Long = DefaultMaxShingleDocFreq,
      shingleFreqs: Option[DataFrame] = None): DataFrame = {

    val sh = cappedSignatures(df, idCol, textCol, n, maxShingleDocFreq, shingleFreqs)
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    jaccardThreshold(commonPairCounts(sh), counts, counts, threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Shared-shingle counts per candidate pair — the equality self-join
    * both exact detectors rank by (`doc_a < doc_b` dedups the pair).
    */
  private def commonPairCounts(sh: DataFrame): DataFrame =
    sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("common"))

  /** Hot-capped, materialized `(id, s)` shingle signature stream — the
    * shared candidate machinery of the exact pair detectors
    * ([[ngramJaccardPairs]], [[containmentNearDupPairs]]).
    * The filtered shingle set feeds BOTH self-join sides and the
    * per-doc counts — materialize the skinny rows once (plan-truncating;
    * reliable checkpoint when a checkpoint dir is configured, see
    * [[materialize]]) instead of re-running the explode + hot-filter
    * groupBy/anti-join shuffles 3×.
    */
  private def cappedSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxShingleDocFreq: Long,
      shingleFreqs: Option[DataFrame]): DataFrame = {
    // NOTE (r20, measured and declined): spreading the input to
    // defaultParallelism when the scan's row-group count caps it (~10
    // splits on the bench documents.parquet) makes the pair self-join
    // 3× faster in isolation (1.6 → 0.5 s at 32 tasks, qn02), but the
    // multi-leg lifecycle queries run their detector legs CONCURRENTLY
    // and the widened stages contend — family net was a wash (qn24
    // +0.7 s) for an extra shuffle, so the scan partitioning stands.
    val sh0 = shingleSignatures(df, idCol, textCol, n)
    val shPlan =
      if (maxShingleDocFreq <= 0) sh0
      else {
        // No broadcast() hint on the hot set: it is usually tiny (the
        // distribution head above the cap), but on a 100 TB Zipf corpus
        // it is unbounded — let AQE pick broadcast vs shuffle from the
        // runtime size instead of forcing an OOM path.
        val hot = shingleFreqs
          .map(_.where(col("df") > maxShingleDocFreq).select("s"))
          .getOrElse(
            sh0.groupBy("s").count().where(col("count") > maxShingleDocFreq).select("s"))
        sh0.join(hot, Seq("s"), "left_anti")
      }
    materialize(shPlan)
  }

  /** Containment near-dup pairs — Broder's containment
    * `|A∩B| / min(|A|,|B|)` (how much of the SMALLER shingle set the
    * pair shares): the asymmetric detector for TRUNCATION/SUBSET
    * duplicates, which symmetric Jaccard structurally under-scores — a
    * perfect half-length prefix copy has containment 1.0 but Jaccard
    * ≈ 0.5, below any sane near-dup threshold. Run it NEXT TO
    * [[ngramJaccardPairs]]: Jaccard for mutual near-dups, containment
    * for subset leaks (the decontamination question "is this benchmark
    * doc INSIDE a training doc" is containment, not Jaccard).
    *
    * Same shingle-equality-join machinery, hot-cap, and one-shuffle
    * shape as [[ngramJaccardPairs]] — only the normalization differs.
    */
  def containmentNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.9,
      maxShingleDocFreq: Long = DefaultMaxShingleDocFreq,
      shingleFreqs: Option[DataFrame] = None): DataFrame = {
    val sh = cappedSignatures(df, idCol, textCol, n, maxShingleDocFreq, shingleFreqs)
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    commonPairCounts(sh)
      .join(counts.select(col("id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(counts.select(col("id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("containment",
        col("common").cast("double") / least(col("n_a"), col("n_b")))
      .where(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("containment"), 4).as("containment"))
  }

  /** Cross-corpus near-dup detection: every (target, reference) doc
    * pair whose n-gram Jaccard meets the threshold — decontamination by
    * NEAR-duplicate, where the exact-overlap family (qn22/qn37/qn41)
    * misses a benchmark document that was lightly paraphrased or
    * truncated into the training corpus. The join is target-shingles ⋈
    * reference-shingles on the shingle (equality — never a cross
    * product), so cost is O(shared-shingle pairs), capped by the same
    * hot-shingle mechanism as [[ngramJaccardPairs]]; the cap counts
    * shingle OCCURRENCES across both sides summed (a document present
    * in both corpora contributes twice — deliberately: the join's
    * per-shingle fanout is df_target × df_ref, so the occurrence sum,
    * not a deduplicated doc frequency, is the quantity that bounds the
    * blow-up; a shingle hot in target ∪ reference is stopword mass for
    * this join regardless of which side contributed it). Each side's
    * shingle set materializes once; at
    * 100 TB the reference side is typically benchmark-sized — AQE
    * broadcasts it from runtime stats.
    *
    * Returns (target_id, ref_id, jaccard rounded to 4) — callers drop
    * flagged target ids or route them to review.
    */
  def crossCorpusNearDupPairs(
      target: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxShingleDocFreq: Long = DefaultMaxShingleDocFreq): DataFrame = {
    val tSh0 = shingleSignatures(target, idCol, textCol, n)
    val rSh0 = shingleSignatures(reference, idCol, textCol, n)
    val hot =
      if (maxShingleDocFreq <= 0) None
      else Some(tSh0.union(rSh0).groupBy("s").count()
        .where(col("count") > maxShingleDocFreq).select("s"))
    crossPairsHotFiltered(tSh0, rSh0, hot, threshold)
  }

  /** Shared tail of the cross-corpus detectors (fresh and store-backed
    * entry points run EXACTLY this algebra — the stored path must not
    * be able to drift from the fresh one): anti-join the hot set off
    * both signature sides, materialize the skinny streams once, and
    * threshold the bipartite shingle-equality join's Jaccard.
    */
  private def crossPairsHotFiltered(
      tSh0: DataFrame,
      rSh0: DataFrame,
      hot: Option[DataFrame],
      threshold: Double): DataFrame = {
    val (tPlan, rPlan) = hot match {
      case None => (tSh0, rSh0)
      case Some(h) =>
        (tSh0.join(h, Seq("s"), "left_anti"),
          rSh0.join(h, Seq("s"), "left_anti"))
    }
    val tSh = materialize(tPlan)
    val rSh = materialize(rPlan)
    val tCounts = tSh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val rCounts = rSh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val common = tSh.as("a").join(rSh.as("b"), col("a.s") === col("b.s"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    jaccardThreshold(common, tCounts, rCounts, threshold)
      .select(col("doc_a").as("target_id"), col("doc_b").as("ref_id"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** Persist a reference corpus's shingle-signature artifact — the
    * versioned-store seam applied to DECONTAMINATION references: a
    * benchmark suite is small and STATIC, so its `(id, shingle)`
    * signatures and `(shingle, df)` frequency table are fit-once
    * artifacts exactly like IVF centroids or BPE merges, not something
    * every corpus build should re-derive by re-reading benchmark text.
    * Two tables under `name` (`signatures`, `freqs`), one version per
    * save; `_last` serves the newest suite revision, a pinned
    * `externalKey` makes a 100 TB decontamination run reproducible
    * against the exact suite version it certified against (the suite
    * version belongs in the dataset card — see qn77).
    */
  def saveReferenceShingles(
      store: graft.store.Store,
      name: String,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      externalKey: String = "NOW"): Map[String, String] = {
    val sig = materialize(shingleSignatures(reference, idCol, textCol, n))
    // One resolved label stamps BOTH tables (the saveLanguageModel
    // discipline): a crash between the two loads must read as a torn —
    // loudly rejected — artifact, never as new signatures silently
    // paired with old frequencies (a wrong hot set, no symptom).
    val r = store.load(sig, s"$name/signatures", externalKey = externalKey)
    store.load(shingleDocFreqs(sig), s"$name/freqs",
      externalKey = r("version"))
    r
  }

  /** [[crossCorpusNearDupPairs]] against a [[saveReferenceShingles]]
    * artifact: the target corpus streams fresh; the reference side reads
    * its persisted signatures (no benchmark re-shingling, no reference
    * text anywhere in the plan). The combined hot-shingle set is the
    * target-side frequencies SUMMED with the stored reference
    * frequencies — bit-identical to the fresh path's union census, so
    * detect-with-stored ≡ detect-with-fresh row-for-row (qn109's
    * oracle restates the full fresh semantics over the stored path's
    * output). No `externalKey` → the `_last` suite version; pinning one
    * is run-to-run reproducibility under concurrent suite updates.
    */
  def crossCorpusNearDupPairsStored(
      target: DataFrame,
      store: graft.store.Store,
      name: String,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxShingleDocFreq: Long = DefaultMaxShingleDocFreq,
      externalKey: Option[String] = None): DataFrame = {
    val useLast = externalKey.isEmpty
    if (useLast)
      store.requireConsistentPair(s"$name/signatures", s"$name/freqs",
        s"reference artifact '$name'")
    val rSh0 = store.get(s"$name/signatures", externalKey, useLast = useLast)
    val rFreqs = store.get(s"$name/freqs", externalKey, useLast = useLast)
    val tSh0 = shingleSignatures(target, idCol, textCol, n)
    val hot =
      if (maxShingleDocFreq <= 0) None
      else Some(shingleDocFreqs(tSh0).unionByName(rFreqs)
        .groupBy("s").agg(sum("df").as("df"))
        .where(col("df") > maxShingleDocFreq).select("s"))
    crossPairsHotFiltered(tSh0, rSh0, hot, threshold)
  }

  /** Candidate-volume census for [[crossCorpusNearDupPairs]] — the
    * bipartite counterpart of the self-join fanout census ScaleBench
    * computes from [[shingleDocFreqs]]: the shingle equality join fans
    * out df_target(s) × df_ref(s) rows per shared shingle, so the sum
    * of that product over shingles SURVIVING the hot-cap (combined
    * occurrence count ≤ `maxShingleDocFreq`, exactly the predicate the
    * operator applies) is the exact row count entering the pair
    * aggregation — the quantity a scale wall must track. Computed from
    * the two df tables alone (two vocab-sized aggregates + one shingle
    * equality join; the corpus pair join never runs), it's the audit
    * you run BEFORE committing a decontamination pass at 100 TB: if
    * capped volume grows superlinearly in corpus size, tighten the cap
    * or block the reference side — measured, not discovered in a
    * blown-up shuffle. One output row: (raw_pairs, capped_pairs,
    * n_shared_shingles, n_hot_dropped).
    */
  def crossCorpusCandidateVolume(
      target: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      maxShingleDocFreq: Long = DefaultMaxShingleDocFreq): DataFrame = {
    val tdf = shingleDocFreqs(shingleSignatures(target, idCol, textCol, n))
      .select(col("s"), col("df").as("df_t"))
    val rdf = shingleDocFreqs(shingleSignatures(reference, idCol, textCol, n))
      .select(col("s"), col("df").as("df_r"))
    val prod = (col("df_t") * col("df_r")).cast("decimal(38,0)")
    val hot = col("df_t") + col("df_r") > maxShingleDocFreq
    tdf.join(rdf, "s").agg(
      sum(prod).as("raw_pairs"),
      sum(when(!hot, prod).otherwise(lit(0).cast("decimal(38,0)")))
        .as("capped_pairs"),
      count(lit(1)).as("n_shared_shingles"),
      sum(when(hot, 1L).otherwise(0L)).as("n_hot_dropped"))
  }

  /** Duplicate-cluster size distribution — the first numbers a corpus
    * quality report states ("12% of docs sit in duplicate clusters;
    * the largest cluster holds 40k copies"): cluster the pair list via
    * [[connectedComponents]] and histogram the component sizes. Output
    * is (cluster_size, n_clusters, n_docs), ordered by size — tiny
    * (distinct sizes), safe to collect or join anywhere.
    */
  def dupClusterSizeHistogram(
      pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .groupBy("component").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("cluster_size")).as("n_docs"))
      .orderBy("cluster_size")

  /** Inter-source duplication matrix: how many detected duplicate pairs
    * connect each (unordered) pair of sources — the provenance forensics
    * a multi-source corpus runs before choosing dedup ORDER (which
    * source is upstream of which mirror, which pair of crawls overlap
    * enough to dedup jointly, which are disjoint enough to process
    * independently). `sameSourcePairs` = the diagonal (within-source
    * duplication).
    *
    * Input is any detected pair set ((aCol, bCol) ids) — Jaccard,
    * MinHash, SimHash, or cosine detectors all produce the shape — plus
    * the id→source map. Scale: two joins of the (tiny, post-threshold)
    * pair set against the corpus's (id, source) projection, then an
    * aggregate on the sources-squared-bounded key space. The corpus
    * never self-joins here; cost lives in the upstream detector.
    */
  def sourceOverlapMatrix(
      pairs: DataFrame,
      docs: DataFrame,
      aCol: String,
      bCol: String,
      idCol: String,
      sourceCol: String): DataFrame = {
    val src = docs.select(col(idCol).as("__id"), col(sourceCol).as("__src"))
    pairs
      .join(src.select(col("__id").as(aCol), col("__src").as("__sa")), aCol)
      .join(src.select(col("__id").as(bCol), col("__src").as("__sb")), bCol)
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Attach per-side shingle counts and keep pairs whose Jaccard meets
    * the threshold (raw value in `jaccard` — callers round for display).
    * The ONE place the formula lives: the one-shot and incremental paths
    * must agree exactly or replay ≡ one-shot breaks.
    */
  private def jaccardThreshold(
      pairs: DataFrame, aCounts: DataFrame, bCounts: DataFrame,
      threshold: Double): DataFrame =
    pairs
      .join(aCounts.select(col("id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(bCounts.select(col("id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .where(col("jaccard") >= threshold)

  /** Blocking-key near-dup detection — the record-linkage classic
    * (sorted-neighborhood's shuffle-friendly sibling): docs sharing a
    * BLOCKING KEY (their first `blockTokens` tokens) become candidate
    * pairs, then exact n-gram Jaccard filters. Complementary recall to
    * the shingle families: truncation/templated duplicates share a
    * prefix even when a hot-shingle cap or banding would miss them, and
    * the candidate volume is Σ block_size² — independent of document
    * LENGTH, where shingle joins scale with token count.
    *
    * Shape at scale: one equality self-join on the block key (never a
    * cross product); `maxBlockSize` drops pathological blocks
    * (template-headed corpora) exactly as the shingle hot-cap drops
    * stopword shingles. The Jaccard filter joins each candidate pair to
    * its two per-doc DISTINCT shingle arrays (no shingle-level shuffle
    * at all — the per-pair intersection is a per-row array op, bounded
    * by doc length), so the only corpus-scale exchanges are the block
    * join and the two array lookups.
    */
  def blockingNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockTokens: Int = 3,
      n: Int = 3,
      threshold: Double = 0.8,
      maxBlockSize: Long = 1000L): DataFrame = {
    require(blockTokens >= 1, "blockTokens must be >= 1")
    val keyed = df.select(col(idCol).cast("long").as("id"),
      concat_ws(" ", slice(TextOps.tokens(col(textCol)), 1, blockTokens)).as("bk"))
      .where(col("bk") =!= "")
    val hot = keyed.groupBy("bk").count()
      .where(col("count") > maxBlockSize).select("bk")
    val kept = keyed.join(hot, Seq("bk"), "left_anti")
    val cand = kept.as("a").join(kept.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
    val shArr = df.select(col(idCol).cast("long").as("id"),
      TextOps.shingles(col(textCol), n).as("sh"))
    cand
      .join(shArr.select(col("id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shArr.select(col("id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      // nullif: a blocked pair of sub-n-token docs has two EMPTY shingle
      // sets — union 0 — and ANSI mode makes the bare division an error,
      // not a null. Null jaccard then fails the threshold filter, which
      // is the semantics we want (no shingles → no evidence).
      .withColumn("jaccard", col("common").cast("double") /
        nullif(size(col("sh_a")) + size(col("sh_b")) - col("common"), lit(0)))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** MinHash signature: `numHashes` minimums over the shingle set, hash
    * family g_i = h1 + i·h2 (Kirsch-Mitzenmacher double hashing from two
    * seeded xxhash64 base hashes), computed in a single native-expression
    * call (see [[org.apache.spark.sql.graft.MinHashSignatureExpr]]).
    */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    graft.functions.VectorExpressions.minhashSignature(shingleCol, numHashes)

  /** MinHash+LSH candidate pairs with banded (AND×OR) amplification:
    * signature of `bands·rowsPerBand` minhashes, one hash per band of
    * `rowsPerBand` consecutive values, candidates = equality join on
    * (band index, band hash), similarity estimated as the fraction of
    * matching minhashes, filtered at `simThreshold`.
    *
    * Collision probability for a pair with Jaccard j is
    * 1-(1-j^r)^b — with r=4, b=8: j=0.9 → 0.999, j=0.2 → 0.013, so the
    * candidate join stays tiny even when low-similarity pairs abound
    * (spark.ml's MinHashLSH is OR-only, which floods the verifier at
    * scale; this shape is what survives a 100 TB corpus).
    */
  def minhashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      simThreshold: Double = 0.7,
      bands: Int = 8,
      rowsPerBand: Int = 4): DataFrame = {

    val numHashes = bands * rowsPerBand
    // Signatures feed banding AND both post-dedup fetch joins;
    // materialize the (id, 32-int sig) set once rather than re-shingling
    // and re-hashing the text corpus three times.
    val sig = materialize(df.select(col(idCol).as("id"),
        TextOps.shingles(col(textCol), n).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("id"), minhashSignature(col("sh"), numHashes).as("sig")))

    // Skinny candidate generation: only (id, band hash) rows go through
    // the self-join and pair dedup; the numHashes-long signatures are
    // joined back once per side afterwards instead of being replicated
    // through every band.
    val banded = sig.select(col("id"),
      posexplode(array((0 until bands).map(
        b => hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")

    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .join(sig.select(col("id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sig.select(col("id").as("doc_b"), col("sig").as("sig_b")), "doc_b")

    // Threshold on the RAW estimate, round only for display — the same
    // boundary rule as [[ngramJaccardPairs]]: estimates are multiples of
    // 1/numHashes, and rounding first admits pairs whose true estimate
    // sits just below the threshold (21/32 = 0.65625 rounds to 0.6563).
    candidates
      .withColumn("est_jaccard",
        graft.functions.VectorExpressions.longMatchCount(
          col("sig_a"), col("sig_b")).cast("double") / numHashes)
      .where(col("est_jaccard") >= simThreshold)
      .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** Connected components over an undirected pair list (doc_a, doc_b) via
    * alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). This is the "apply"
    * step of near-dup dedup — pair lists from
    * [[ngramJaccardPairs]]/[[minhashCandidatePairs]]/etc. become dedup
    * groups keyed by their smallest member.
    *
    *   - large-star: each node u connects its strictly-larger neighbors
    *     to m = min(N(u) ∪ {u});
    *   - small-star: each node u connects its smaller neighbors and
    *     itself to the minimum of its smaller neighborhood.
    *
    * Both are one groupBy + one co-partitioned join; the edge set
    * converges to per-component stars in O(log n) rounds (vs O(graph
    * diameter) for min-label propagation — a 10k-long chain of near-dup
    * docs converges in ~14 rounds, not 10k). Convergence is detected with
    * an order-independent hash signature of the (checkpointed) edge set —
    * no extra join against the previous round. Returns (node, component)
    * where component = min id reachable.
    *
    * Routing: near-dup pair graphs are usually TINY relative to their
    * corpus (pairs ≪ docs — the detector already did the reduction), and
    * each star round costs 2 shuffles + a convergence action regardless
    * of size. When the materialized edge list is at most
    * `smallGraphMaxEdges` rows (long-keyed graphs only), the edges are
    * collected — a bounded, fit-sample-sized driver state (≤ ~32 MB at
    * the default cap) — and labeled with union-find-by-min in one pass;
    * identical output by construction (union-by-min makes each set's
    * root its minimum, exactly the distributed fixpoint's label). Above
    * the cap the alternating-star loop runs as before — the 100 TB path
    * never ships the graph to the driver. Pass 0 to force distributed
    * for any non-empty graph ([[graft.Route.fits]]).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30,
      smallGraphMaxEdges: Long = DefaultSmallGraphMaxEdges): DataFrame = {

    def largeStar(e: DataFrame): DataFrame = {
      val und = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = und.groupBy("u").agg(min("v").as("mnv"))
      und.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), least(col("u"), col("mnv")).as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
        greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = oriented.groupBy("u").agg(min("v").as("mnv"))
      oriented.join(mins, "u")
        .select(col("v").as("u"), col("mnv").as("v"))
        .union(mins.select(col("u"), col("mnv").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    /** Order-independent multiset signature (count, sum of row hashes):
      * equal signatures ⇒ equal edge sets w.h.p., so convergence needs no
      * edge-set anti-join. Computed on the canonical orientation.
      */
    def signature(e: DataFrame): (Long, BigDecimal) = {
      // hash sum in DECIMAL(38,0): long sum would ANSI-overflow
      val r = e.agg(
        count(lit(1)).as("c"),
        coalesce(sum(xxhash64(
            greatest(col("u"), col("v")), least(col("u"), col("v")))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))), lit(0L)).as("h"))
        .head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }

    // Materialized distributed per round via [[materialize]] (the
    // signature action forces it); the plan never deepens past one round.
    // Each round drops its predecessor's materialization — a long session
    // running many dedups must not accumulate per-round edge-set blocks
    // (or, in reliable mode, per-round checkpoint snapshots on disk)
    // until GC happens to run.
    def checkpointed(e: DataFrame): DataFrame = materialize(e)
    def unpersistCheckpoint(e: DataFrame): Unit =
      e.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(false)
          // Reliable mode: the superseded round's checkpoint files are
          // dead as soon as the next round is materialized — a 30-round
          // CC must not hoard 30 edge-set snapshots in the checkpoint dir.
          lr.rdd.getCheckpointFile.foreach { f =>
            val p = new org.apache.hadoop.fs.Path(f)
            p.getFileSystem(e.sparkSession.sparkContext.hadoopConfiguration)
              .delete(p, true)
          }
        case _ => ()
      }

    // Materialize the input pair projection ONCE: the pair set usually
    // hangs off an expensive detector subtree (shingle joins, cell
    // joins, k-means assignment), and both the node universe and the
    // working edge set need it — without this, allNodes' two union
    // branches re-ran the whole detector (measured 3× the operator
    // cost on the 60k-vector scale corpus). The block is pair-sized,
    // same magnitude as the terminal edge set that already outlives
    // the loop.
    val rawEdges = materialize(
      pairs.select(col(aCol).as("u"), col(bCol).as("v")))
    // Small-graph route. ONE action does routing AND (when small) the
    // edge fetch ([[graft.Route.collectAtMost]]): the probe forces the
    // materialization every path needs and returns at most cap+1 rows.
    // Above the cap the partial row array is discarded and the star
    // loop runs distributed on the already-materialized edges.
    val longKeyed = rawEdges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val small = if (longKeyed) graft.Route.collectAtMost(rawEdges, smallGraphMaxEdges) else None
    if (small.isDefined) return localComponents(rawEdges.sparkSession, small.get)
    val allNodes = rawEdges.select(col("u").as("node"))
      .union(rawEdges.select(col("v").as("node")))
      .distinct()
    var edges = checkpointed(
      rawEdges
        .where(col("u") =!= col("v"))
        .distinct())
    var sig = signature(edges)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val next = checkpointed(smallStar(largeStar(edges)))
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      unpersistCheckpoint(edges)
      edges = next
      iter += 1
    }
    if (!converged) {
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(pathological graph; raise maxIter)")
    }
    // At fixpoint the edge set is a star forest: every edge is
    // (node, component-min); roots label themselves. Nodes whose only
    // input edges were self-pairs (u,u) have no surviving edge — they are
    // singleton components and label themselves too, so EVERY node in the
    // input pair list appears exactly once in the output.
    val labeled = edges.select(col("u").as("node"), col("v").as("component"))
      .union(edges.select(col("v").as("node"), col("v").as("component")))
      .distinct()
    labeled.union(
      allNodes.join(labeled.select("node"), Seq("node"), "left_anti")
        .select(col("node"), col("node").as("component")))
  }

  /** [[connectedComponents]]' small-graph route: union-find-by-min over
    * the collected edge list. Linking the larger root under the smaller
    * at every union keeps each set's root equal to its minimum member,
    * so `find(node)` IS the component label the distributed fixpoint
    * assigns — no second labeling pass. Self-pairs register their node
    * (singleton components), duplicate edges are no-ops.
    */
  private def localComponents(
      spark: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { row =>
      val (u, v) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru < rv) parent(rv) = ru
      else if (rv < ru) parent(ru) = rv
    }
    val labeled = parent.keysIterator
      .map(nd => org.apache.spark.sql.Row(nd, find(nd))).toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("component",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(labeled,
        math.max(1, labeled.size / 500000)), schema)
  }

  /** Full near-dup dedup: detect pairs (exact n-gram Jaccard), cluster
    * them, keep the smallest id per cluster. Non-clustered docs survive.
    * `shingleFreqs` caps against external (corpus-wide) frequencies —
    * see [[ngramJaccardPairs]].
    */
  def dedupByJaccard(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxShingleDocFreq: Long = DefaultMaxShingleDocFreq,
      shingleFreqs: Option[DataFrame] = None): DataFrame = {
    applyComponents(df,
      ngramJaccardPairs(df, idCol, textCol, n, threshold, maxShingleDocFreq, shingleFreqs),
      "doc_a", "doc_b", idCol)
  }

  /** Apply a detected duplicate-pair set to the corpus: cluster the
    * pairs via [[connectedComponents]], keep the smallest id per
    * cluster, pass non-clustered rows through untouched — the shared
    * tail of every dedup-apply variant.
    */
  def applyComponents(
      df: DataFrame, pairs: DataFrame,
      aCol: String, bCol: String, idCol: String): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    val losers = comps.where(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Apply a detected duplicate-pair set keeping the BEST row per
    * cluster by `scoreCol` (highest wins; ties → smallest id) instead
    * of the smallest id — the representative-selection policy a corpus
    * pipeline deploys when duplicates differ in quality (keep the
    * longest / cleanest copy, drop truncated mirrors of it). Rows in no
    * cluster pass through untouched.
    *
    * Cost over [[applyComponents]]: one hash join of the (pair-sized)
    * membership table against the corpus's skinny (id, score)
    * projection, plus one `row_number` window PARTITIONED BY component —
    * cluster-sized groups, never a global sort; only clustered ids flow
    * through the window, the 100 TB corpus side crosses one anti-join
    * exactly as before.
    */
  def applyComponentsKeepBest(
      df: DataFrame, pairs: DataFrame,
      aCol: String, bCol: String, idCol: String, scoreCol: String): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    val scored = df.select(col(idCol).as("node"), col(scoreCol).as("__score"))
      .join(comps, "node")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component")
      .orderBy(col("__score").desc, col("node").asc)
    val losers = scored
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") > 1)
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Full near-dup dedup over MinHash+LSH candidates — the corpus-scale
    * variant of [[dedupByJaccard]] (banded equality joins instead of the
    * exact shingle self-join): detect candidate pairs at
    * `simThreshold` estimated Jaccard, cluster, keep the smallest id
    * per cluster.
    */
  def dedupByMinhash(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, simThreshold: Double = 0.7,
      bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    applyComponents(df,
      minhashCandidatePairs(df, idCol, textCol, n, simThreshold, bands, rowsPerBand),
      "doc_a", "doc_b", idCol)
  }

  /** The per-document shingle signature table — the state a production
    * corpus pipeline PERSISTS between ingests (e.g. via
    * [[graft.store.Store.load]] under a `dedup/signatures` name, one
    * version per ingest day) so each new batch is deduped against the
    * whole history without ever re-pairing the history with itself
    * (see [[dedupIncremental]]). Skinny (id, shingle) rows; distinct by
    * construction (shingling dedups per doc).
    */
  def shingleSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
      explode(TextOps.shingles(col(textCol), n)).as("s"))

  /** Per-shingle document frequencies `(s, df)` of a signature table —
    * the O(distinct shingles) companion state a pipeline persists NEXT
    * TO the signatures (one version per ingest, summed at read) so each
    * incremental ingest computes the CORPUS-WIDE hot-shingle set from
    * tiny persisted counts instead of re-aggregating the full history's
    * signature rows (see [[dedupIncremental]]'s `prevShingleFreqs`).
    */
  def shingleDocFreqs(signatures: DataFrame): DataFrame =
    signatures.groupBy("s").agg(count(lit(1)).as("df"))

  /** Corpus-wide hot shingles: rows of the prev∪batch doc frequency
    * above the cap. A FULL OUTER zipper join, not union+groupBy: both
    * inputs are one-row-per-shingle (the [[shingleDocFreqs]] shape the
    * `prevShingleFreqs`/`batchShingleFreqs` contracts document), and
    * the join keeps a bucketed-by-`s` frequency state IN PLACE — a
    * union erases the stored partitioning and re-shuffles the whole
    * accumulated vocabulary every ingest, while the join shuffles only
    * the batch side.
    */
  def hotShingles(
      prevFreqs: DataFrame,
      newFreqs: DataFrame,
      maxShingleDocFreq: Long): DataFrame =
    prevFreqs.select(col("s"), col("df").cast("long").as("__pf"))
      .join(newFreqs.select(col("s"), col("df").cast("long").as("__nf")),
        Seq("s"), "full_outer")
      .where(coalesce(col("__pf"), lit(0L)) + coalesce(col("__nf"), lit(0L))
        > maxShingleDocFreq)
      .select("s")

  /** Fold shingle-frequency slices into one `(s, df)` frame — the
    * COMPACTION fold for frequency state ([[graft.store.BucketedState
    * .compact]]'s `fold` param): unlike the signature state, the same
    * shingle appears in many slices, so the fold must SUM to keep the
    * one-row-per-shingle invariant readers assume. One vocabulary
    * shuffle, paid at compaction time (amortized) — per-INGEST reads go
    * through [[graft.store.BucketedState.family]]'s exchange-free
    * bucketed aggregate instead.
    */
  def foldShingleFreqSlices(slices: Seq[DataFrame]): DataFrame = {
    require(slices.nonEmpty, "no frequency slices to fold")
    slices.map(_.select(col("s"), col("df").cast("long").as("df")))
      .reduce(_ unionByName _)
      .groupBy("s").agg(sum("df").as("df"))
  }

  /** Per-doc RAW signature counts `(id, n_sh)` — the O(docs) companion
    * state persisted next to the signatures (one version per ingest,
    * O(batch) to produce at write time) so each later ingest's Jaccard
    * denominators come from tiny persisted counts instead of
    * re-aggregating the full history's signature rows — the last
    * state-sized shuffle in the ingest path (see
    * [[dedupIncrementalSliced]]'s `prevSigCounts`).
    */
  def shingleSignatureCounts(signatures: DataFrame): DataFrame =
    signatures.groupBy("id").agg(count(lit(1)).as("n_sh"))

  /** Incremental near-dup dedup of a NEW batch against an already-deduped
    * corpus — the op a real pipeline runs daily. The quadratic full-corpus
    * re-pair is replaced by exactly two joins:
    *
    *   - CROSS pairs: previous signatures ⋈ new signatures on shingle —
    *     O(|new| × overlap), never corpus × corpus;
    *   - NEW×NEW pairs: the batch self-join (small side squared).
    *
    * plus one linear aggregate over the signature table for per-doc
    * shingle counts (no self-join touches the corpus side). Components
    * are computed over the reduced edge set only; a new doc survives iff
    * it is its component's minimum — since ingest ids grow
    * monotonically, a component touching ANY previous doc has a previous
    * minimum and the whole new contingent drops, and new-only clusters
    * keep their smallest member: precisely the one-shot
    * [[dedupByJaccard]] outcome on (prev ∪ new) whenever no new doc
    * BRIDGES two previously-distinct clusters (previously published
    * survivors are never retracted — the incremental contract).
    *
    * `prevSignatures` must cover ALL previously seen docs (kept and
    * dropped): a new doc similar only to a dropped near-dup must still
    * be dropped.
    *
    * @param prevSignatures (id, s) rows from [[shingleSignatures]],
    *        typically read back from the store
    * @param prevShingleFreqs persisted `(s, df)` rows from
    *        [[shingleDocFreqs]] covering exactly `prevSignatures`. When
    *        supplied, the corpus-wide hot-shingle set costs
    *        O(distinct shingles) + O(batch) — the history's signature
    *        rows are never re-aggregated for the cap, which is what
    *        keeps the per-ingest cap cost O(delta) at 100 TB. When
    *        absent, the cap re-aggregates `prevSignatures` (one linear
    *        pass over the corpus side). Either way the hot set equals
    *        the one a one-shot dedup of (prev ∪ new) would drop, so
    *        incremental survivors of the new batch match the one-shot
    *        outcome exactly (new-doc survival depends only on edges
    *        touching new docs — see above).
    * @param batchShingleFreqs the NEW batch's own `(s, df)` doc
    *        frequencies — must equal
    *        `shingleDocFreqs(shingleSignatures(newDocs, idCol, textCol, n))`
    *        exactly (batch-only counts: passing prev∪batch totals here
    *        double-counts the batch against the cap and silently drops
    *        non-hot shingles). For callers that already aggregated the
    *        batch's frequencies for their own corpus-wide bookkeeping
    *        (the qn24 replay shape), passing the (ideally materialized)
    *        table here removes a second explode+aggregate pass over the
    *        batch. When absent, computed internally.
    */
  def dedupIncremental(
      newDocs: DataFrame,
      prevSignatures: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxShingleDocFreq: Long = DefaultMaxShingleDocFreq,
      prevShingleFreqs: Option[DataFrame] = None,
      batchShingleFreqs: Option[DataFrame] = None): DataFrame =
    dedupIncrementalSliced(newDocs, Seq(prevSignatures), idCol, textCol, n,
      threshold, maxShingleDocFreq, prevShingleFreqs, batchShingleFreqs)

  /** [[dedupIncremental]] with the corpus signature state supplied as
    * SLICES — one DataFrame per persisted ingest version — instead of
    * one pre-unioned frame. This is the shape the bucketed state layout
    * requires ([[graft.store.BucketedState]]): each slice scans with its
    * stored `HashPartitioning(s)` intact, so the state-side Exchange
    * disappears from BOTH state joins (the hot-shingle anti-join and
    * the cross-pair join key on `s`, exactly the bucket column) and
    * only the batch side shuffles per ingest. `Union` would erase that
    * partitioning, so the union happens AFTER the per-slice aggregates,
    * on pair/doc-sized results.
    *
    * Contract: the slices must PARTITION the prior corpus by document —
    * every prev doc's signature rows live entirely in one slice (true
    * for per-batch ingest versions, where each doc arrives exactly
    * once). Then both per-slice aggregates are already complete — a
    * (prev, new) pair's shingle overlap lives in the prev doc's slice,
    * as does its n_sh count — and the slice-wise union is exactly the
    * single-frame computation, bit for bit (DedupSpec pins it). The
    * remaining per-ingest state cost is one in-place scan per slice
    * plus (without `prevSigCounts`) the per-doc count aggregate
    * (map-side combined; its shuffle carries ~min(shingles, buckets)
    * partial rows per doc — close to the signature table itself).
    *
    * `prevSigCounts` removes that last state-sized shuffle: pass the
    * persisted RAW per-doc signature counts (`(id, n_sh)`, one table
    * over all slices — [[shingleSignatureCounts]], written next to each
    * state version at ingest time, O(batch) to produce). The hot-cap
    * adjustment then only aggregates the rows whose shingle IS hot (a
    * per-slice semi-join — the hot set is the Zipf head, tiny next to
    * the table), and capped count = raw − hot hits exactly. DedupSpec
    * pins counts-supplied ≡ counts-derived ≡ single-frame on a
    * cap-active fixture.
    */
  def dedupIncrementalSliced(
      newDocs: DataFrame,
      prevSignatureSlices: Seq[DataFrame],
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxShingleDocFreq: Long = DefaultMaxShingleDocFreq,
      prevShingleFreqs: Option[DataFrame] = None,
      batchShingleFreqs: Option[DataFrame] = None,
      prevSigCounts: Option[DataFrame] = None,
      prevFreqsPartitioned: Boolean = false): DataFrame = {

    val newSig0 = shingleSignatures(newDocs, idCol, textCol, n)
    // No prior state = one empty slice with the right schema (id typed
    // like the caller's idCol, via an empty projection of the batch).
    val slices0 =
      if (prevSignatureSlices.nonEmpty)
        prevSignatureSlices.map(_.select(col("id"), col("s")))
      else Seq(newSig0.limit(0))
    // Hot-shingle cap over prev ∪ new doc frequency — the same stopword
    // shingles the one-shot dedup drops (fanout bound on the cross join).
    val hotOpt: Option[DataFrame] =
      if (maxShingleDocFreq <= 0) None
      else {
        val prevFreq = prevShingleFreqs
          .map(_.select(col("s"), col("df").cast("long").as("df")))
          .getOrElse(slices0.map(_.select("s")).reduce(_ unionAll _)
            .groupBy("s").agg(count(lit(1)).as("df")))
        val newFreq = batchShingleFreqs
          .map(_.select(col("s"), col("df").cast("long").as("df")))
          .getOrElse(newSig0.groupBy("s").agg(count(lit(1)).as("df")))
        // Two plans for the same set, chosen by what the caller's freq
        // frame physically IS (both sides one-row-per-shingle):
        //  - generic frames: union + hash-aggregate — sort-free; the
        //    full-outer join here would SORT the whole vocabulary on
        //    both sides (measured: the 4M fixed-delta ingest read 316 s
        //    vs ~156 s when r16 briefly made the join unconditional —
        //    SCALEBENCH_r16_delta.log);
        //  - a partitioned state frame (the [[graft.store.BucketedState
        //    .family]] aggregate): the [[hotShingles]] zipper join keeps
        //    the vocabulary in place and shuffles only the batch side.
        if (prevFreqsPartitioned)
          Some(hotShingles(prevFreq, newFreq, maxShingleDocFreq))
        else
          Some(prevFreq.union(newFreq).groupBy("s")
            .agg(sum("df").as("df"))
            .where(col("df") > maxShingleDocFreq).select("s"))
      }
    // No broadcast() hint on the hot set: usually tiny, but on a Zipf
    // corpus it is the unbounded distribution head — AQE picks
    // broadcast vs shuffle from the runtime size. Either plan keeps a
    // bucketed slice in place: the anti/semi-join key is the bucket
    // column, so even a sort-merge join shuffles only the hot side.
    val (prevSlices, newSigPlan) = hotOpt match {
      case None => (slices0, newSig0)
      case Some(hot) =>
        (slices0.map(_.join(hot, Seq("s"), "left_anti")),
          newSig0.join(hot, Seq("s"), "left_anti"))
    }
    // The new batch's signatures feed the cross join, the self-join (both
    // sides) and the counts — materialize once. The corpus side streams
    // through each consumer without materialization (it is the 100 TB
    // side).
    val newSig = materialize(newSigPlan)
    val newCounts = newSig.groupBy("id").agg(count(lit(1)).as("n_sh"))

    def jaccardPairs(pairs: DataFrame, aCounts: DataFrame, bCounts: DataFrame) =
      jaccardThreshold(pairs, aCounts, bCounts, threshold).select("doc_a", "doc_b")

    // Per-slice aggregates, unioned on the RESULT side (see scaladoc).
    val crossPairs = prevSlices.map { sl =>
      sl.as("p").join(newSig.as("q"), col("p.s") === col("q.s"))
        .groupBy(col("p.id").as("doc_a"), col("q.id").as("doc_b"))
        .agg(count(lit(1)).as("common"))
    }.reduce(_ unionAll _)
    val prevCounts = (prevSigCounts, hotOpt) match {
      case (Some(raw), Some(hot)) =>
        // Capped count = raw − hot hits, exactly: aggregate ONLY the
        // hot-shingle rows of each slice (pre-anti-join — the rows the
        // cap removed). Tiny next to the table: |hot| shingles'
        // occurrences. Docs capped to zero drop (they have no surviving
        // signatures, so they appear in no pair).
        val hotHits = slices0.map(
          _.join(hot, Seq("s"), "left_semi")
            .groupBy("id").agg(count(lit(1)).as("__hot")))
          .reduce(_ unionAll _)
        raw.select(col("id"), col("n_sh").cast("long").as("__raw"))
          .join(hotHits, Seq("id"), "left")
          .select(col("id"),
            (col("__raw") - coalesce(col("__hot"), lit(0L))).as("n_sh"))
          .where(col("n_sh") > 0)
      case (Some(raw), None) =>
        raw.select(col("id"), col("n_sh").cast("long").as("n_sh"))
      case (None, _) => prevSlices.map(_.groupBy("id")
        .agg(count(lit(1)).as("n_sh"))).reduce(_ unionAll _)
    }

    val cross = jaccardPairs(crossPairs, prevCounts, newCounts)
    val newNew = jaccardPairs(
      newSig.as("a").join(newSig.as("b"),
          col("a.s") === col("b.s") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
        .agg(count(lit(1)).as("common")),
      newCounts, newCounts)

    applyComponents(newDocs, cross.union(newNew), "doc_a", "doc_b", idCol)
  }

  /** 64-bit SimHash of the token stream: per token, xxhash64 bits vote
    * +1/-1 per position; fingerprint bit b = sign of vote b. Single
    * native-expression call per row (see
    * [[org.apache.spark.sql.graft.SimHash64Expr]]) — per-row, no shuffle.
    */
  def simhash64(textCol: Column): Column =
    graft.functions.VectorExpressions.simhash64(TextOps.tokens(textCol))

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming, exact by
    * pigeonhole over Manku-style multi-block band keys (see
    * [[simhashCandidatePairs]]).
    */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashCandidatePairs(
      df.select(col(idCol).as("id"), simhash64(col(textCol)).as("fp")),
      maxHamming)
      .where(col("hamming") <= maxHamming)

  /** Candidate (doc_a, doc_b, hamming) pairs from a (id, fp) fingerprint
    * table via Manku-style multi-block band keys (Manku, Jain & Sarma,
    * "Detecting Near-Duplicates for Web Crawling", WWW'07 — the public
    * algorithm; no reference-engine code exists for this op): the 64
    * fingerprint bits split into `maxHamming + 4` blocks, and every
    * combination of 4 blocks becomes one equality-join key. A pair within
    * hamming ≤ maxHamming differs in ≤ maxHamming blocks, so some 4
    * untouched blocks exist and that combination's keys are EQUAL —
    * candidate generation misses nothing (the pigeonhole argument), and
    * the exact `hamming` column re-ranks survivors.
    *
    * Scale: the old 4×16-bit banding bucketed on 16-bit keys — expected
    * candidate fanout O(n²/2¹⁶), ~10¹³ pairs at 10⁹ docs. Here each key
    * covers 4 blocks ≈ 36+ bits (for maxHamming=3: C(7,4)=35 keys of
    * 36-37 bits), so expected bucket collisions are O(n²/2³⁶) —
    * negligible below ~10¹⁰ docs — at the cost of 35 skinny
    * (id, fp, key) rows per doc instead of 4. Keys are xxhash64(combo,
    * blocks...): equal blocks always hash equal (no false negatives);
    * rare hash collisions only add spurious candidates that the exact
    * hamming filter removes.
    */
  def simhashCandidatePairs(fp: DataFrame, maxHamming: Int): DataFrame = {
    // Bounded at 8, not 16: block width is 64/(maxHamming+4), so past 8
    // the 4-block keys collapse below ~20 bits while the per-doc key
    // count C(maxHamming+4, 4) explodes (maxHamming=16 → 4845 keys of
    // 12-16 bits — worse than the old flat banding on BOTH axes). At 8
    // the keys stay >= 20 bits (collisions O(n²/2²⁰)) and 495 keys/doc
    // is the documented fanout ceiling; the near-linear claim in the
    // header holds across the whole admissible range.
    require(maxHamming >= 0 && maxHamming <= 8,
      s"maxHamming must be in [0, 8], got $maxHamming")
    val numBlocks = maxHamming + 4
    val widths = Array.tabulate(numBlocks)(i =>
      64 / numBlocks + (if (i < 64 % numBlocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def blockVal(i: Int): Column =
      shiftrightunsigned(col("fp"), offsets(i))
        .bitwiseAND(lit(if (widths(i) == 64) -1L else (1L << widths(i)) - 1))
    // The C(numBlocks, 4) combinations ride as ONE array-of-structs
    // LITERAL and the per-row work is: numBlocks block extractions +
    // one explode + one element_at-fed xxhash64. Building a literal
    // array of C(nb,4) xxhash64 expressions instead (each re-deriving
    // its four shift/mask blocks) put ~3000 expression nodes on BOTH
    // sides of the self-join — at maxHamming=8 (495 combos) the
    // driver spent seconds per call planning and Janino-compiling the
    // tree while the actual 96-row compute took 0.3 s (qn79, r20).
    // The hash inputs are unchanged (combo index INT, four block
    // values LONG, in combination order), so the band keys — and the
    // candidate set — are bit-identical to the expanded form.
    val combos: Seq[(Int, Int, Int, Int, Int)] =
      (0 until numBlocks).combinations(4).toSeq.zipWithIndex.map {
        case (c, i) => (i, c(0), c(1), c(2), c(3))
      }
    val banded = fp
      .select(col("id"), col("fp"),
        array((0 until numBlocks).map(blockVal): _*).as("__blocks"),
        explode(typedlit(combos)).as("__c"))
      .select(col("id"), col("fp"),
        xxhash64(col("__c._1"),
          element_at(col("__blocks"), col("__c._2") + 1),
          element_at(col("__blocks"), col("__c._3") + 1),
          element_at(col("__blocks"), col("__c._4") + 1),
          element_at(col("__blocks"), col("__c._5") + 1)).as("band_key"))

    banded.as("a").join(banded.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .distinct()
  }
}
