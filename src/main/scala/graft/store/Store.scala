package graft.store

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter
import java.time.{ZoneOffset, ZonedDateTime}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Summary of one stored table, as returned by [[Store.list]]. */
final case class TableInfo(
    name: String,
    versions: Seq[String],
    lastVersion: Option[String],
    columnsKeys: Map[String, String],
    numFiles: Long = 0L,
    sizeBytes: Long = 0L)

/** Versioned, partitioned DataFrame store — the "faithful layer".
  *
  * Re-expresses the capability surface of the reference SDK
  * (`/root/reference/src/pandas_db_sdk/client.py`) Spark-first:
  *
  *   - `load` (client.py:66-137): validate + write a DataFrame under a
  *     hierarchical slash-separated name with optional `Date` / `ID`
  *     partition keys (client.py:105-110) and a version label
  *     (`externalKey`, default server-assigned "NOW", client.py:71).
  *   - `get` (client.py:139-183): read back; no filter → union of ALL
  *     versions (accumulate semantics, README.md:86), `externalKey` → exact
  *     version, `useLast` → newest version via pointer (README.md:217).
  *   - `list` (client.py:185-215): enumerate stored tables by prefix.
  *
  * Divergences from the reference's storage design, on purpose (SURVEY.md
  * §1.4): Parquet + snappy at rest instead of gzipped 100K-row CSV chunks
  * (README.md:20-21) — columnar, splittable, schema-carrying; Hive-style
  * partition directories instead of bespoke date/range dirs
  * (README.md:189-218) so Catalyst partition-prunes version/date/ID-range
  * filters with zero custom code.
  *
  * Layout on disk:
  * {{{
  *   <root>/<name>/__version=v_<label>/[__p_<dateCol>=2024-01-01/]
  *       [__p_<idCol>=from_1000_to_2000/]part-*.parquet
  *   <root>/<name>/_last          # newest version label (pointer file)
  *   <root>/<name>/_meta.json     # columnsKeys used at load time
  * }}}
  *
  * Version labels are stored URL-encoded with a `v_` prefix so the partition
  * directory value is never parseable as a number/date — this pins the
  * inferred partition column type to STRING, keeping `__version = 'v_x'`
  * filters exactly partition-prunable.
  *
  * Scale notes (100 TB): the data path is a plain
  * `DataFrameWriter.partitionBy(...).parquet` / `spark.read.parquet`, so
  * writes parallelize per task and reads prune partitions before listing
  * file footers. The only driver-side work is pointer/metadata upkeep (a
  * few small files per table). `list` does directory listing only — no data
  * reads, no content summaries.
  */
final class Store(
    spark: SparkSession,
    root: String,
    idBucketWidth: Long = 1000L,
    maxRecordsPerFile: Long = 0L,
    /** API-parity no-op slots mirroring the reference ctor's auth context
      * (client.py:45-64: bearer token + region). A local/cluster engine
      * has no Cognito; kept so reference-era call sites type-check.
      */
    region: Option[String] = None,
    authToken: Option[String] = None,
    /** Staleness threshold for sweeping crashed clones' staging temps
      * (see [[clone]]): a `._tmp-clone-*` sibling is deleted only when
      * its newest file is older than this, so a concurrent in-flight
      * clone's live staging dir is never swept. Raise it if single-file
      * copies can take longer than an hour.
      */
    cloneStaleTempMs: Long = 60L * 60 * 1000) {

  import Store._

  private val rootPath = new Path(root)
  private def fs: FileSystem =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Filesystem home for auxiliary NON-row-versioned state artifacts
    * sharing this store's root — e.g. [[BucketedState]] signature state.
    * The `.bstate` suffix is a reserved-by-convention namespace (don't
    * name row tables `*.bstate`); [[list]] never reports these dirs
    * (no MetaFile), so they stay off the catalog surface while living
    * inside the store's lifecycle.
    */
  private[graft] def statePath(name: String): String =
    new Path(rootPath, name + ".bstate").toString

  // ---------------------------------------------------------------- load

  /** Store `df` under `name`. Mirrors `load_dataframe` (client.py:66-137).
    *
    * @param columnsKeys column → key type, key type ∈ {"Date", "ID"}
    *                    (client.py:105-110)
    * @param externalKey version label; "NOW" → timestamp version
    *                    (client.py:71)
    * @param keepLast    true → retain only this version (client.py:72);
    *                    false (default) → accumulate versions
    * @return metadata about the write (name, version, partition keys)
    */
  def load(
      df: DataFrame,
      name: String,
      columnsKeys: Map[String, String] = Map.empty,
      externalKey: String = "NOW",
      keepLast: Boolean = false,
      statsCols: Seq[String] = Nil): Map[String, String] =
    doLoad(df, name, columnsKeys, externalKey, keepLast, statsCols, _ => ())

  /** [[load]] plus a staged-tree hook: `stagedExtras` runs on the staged
    * version dir (only when the write produced one) BEFORE the publish
    * rename, so extra marker files land in the same sidecars-first
    * mergeMove pass as the data. [[merge]] uses this for its `_merge.json`
    * marker — publishing data first and marking after left a crash window
    * where the delta read as a plain append (updated keys duplicated,
    * tombstones resurfacing as live rows).
    */
  private def doLoad(
      df: DataFrame,
      name: String,
      columnsKeys: Map[String, String],
      externalKey: String,
      keepLast: Boolean,
      statsCols: Seq[String],
      stagedExtras: Path => Unit): Map[String, String] = {
    val relPath = validateName(name)
    require(df.schema.nonEmpty, "DataFrame must have at least one column")
    val reserved = df.columns.filter(_.startsWith(InternalPrefix))
    if (reserved.nonEmpty)
      throw new IllegalArgumentException(
        s"Column names starting with '$InternalPrefix' are reserved for the store: " +
          reserved.mkString(", "))
    columnsKeys.foreach { case (c, kt) =>
      if (kt != KeyDate && kt != KeyId)
        throw new IllegalArgumentException(
          s"Invalid key type '$kt' for column '$c': must be '$KeyDate' or '$KeyId'")
      if (!df.columns.contains(c))
        throw new IllegalArgumentException(
          s"Key column '$c' not found in DataFrame columns ${df.columns.mkString("[", ", ", "]")}")
    }
    require(externalKey.nonEmpty, "externalKey must be non-empty")

    val label =
      if (externalKey == NowKey)
        ZonedDateTime.now(ZoneOffset.UTC).format(NowFormat)
      else externalKey

    // Derived partition columns; originals stay in the data files so the
    // schema round-trips losslessly (unlike the reference's JSON wire,
    // client.py:114 — a deliberate improvement, SURVEY.md §7.4).
    val derived: Seq[(String, Column)] = columnsKeys.toSeq.sortBy(_._1).map {
      case (c, KeyDate) => partColName(c) -> date_format(col(c).cast("date"), "yyyy-MM-dd")
      case (c, _) =>
        val lo = floor(col(c).cast("long") / idBucketWidth) * idBucketWidth
        partColName(c) -> concat(lit("from_"), lo, lit("_to_"), lo + idBucketWidth)
    }
    val augmented = derived.foldLeft(df.withColumn(VersionCol, lit(encodeVersion(label)))) {
      case (d, (n, c)) => d.withColumn(n, c)
    }
    val partCols = VersionCol +: derived.map(_._1)

    // KEYED loads cluster rows by their target partition before writing:
    // without this every task opens a file in every partition dir (tasks
    // × dirs tiny files — 25× slower on a date-keyed load and a
    // small-files problem at scale). One shuffle on the write path buys
    // one file per partition dir; a skewed-hot partition still splits via
    // maxRecordsPerFile, and AQE rebalances the shuffle on a real cluster.
    // The exception is rows that already sit on the driver: when the
    // optimized plan is a LocalRelation (the optimizer folds the version
    // and partition-column projection into it) and its estimate fits one
    // target file, ONE task writes them — still one file per partition
    // dir, and no shuffle job in front of the write. That is every SDK
    // upload. The rule is that narrow on purpose: `coalesce(1)` over a
    // COMPUTED input (VectorIndex's cell assignments, say) would run all
    // of that compute in one task.
    //
    // UNPARTITIONED loads size the file count from the DATA (guide §6
    // output sizing): inheriting the input's partitioning writes one
    // file per upstream task, so file count scales with scan splits /
    // core count instead of bytes — a 3-version table on a 32-way scan
    // accumulated ~96 tiny files whose listing, footer and rename costs
    // then dominated every read and vacuum (qs12 measured 6× SLOWER at
    // 32 cores than 8 in the r19 driver bench). `coalesce` to
    // ceil(estimated bytes / target) — a narrow merge, no shuffle; the
    // estimate is the optimizer's driver-side sizeInBytes (no job), an
    // in-memory over-estimate, so files land at-or-under target size.
    // statsCols loads are EXEMPT: a data-skipping caller lays its input
    // out deliberately (range-partitioned slices whose per-file min/max
    // sidecars are the point), and merging those files would erase the
    // ranges the sidecar exists to record.
    //
    // Optimizing the plan can already fail (an ANSI cast folded into a
    // LocalRelation throws in the optimizer), so this runs inside the
    // load's try below and surfaces as a LoadError like a failed write.
    def clustered: DataFrame =
      if (derived.isEmpty && statsCols.isEmpty) {
        val estBytes = augmented.queryExecution.optimizedPlan.stats.sizeInBytes
        val nFiles: BigInt = estBytes / LoadTargetFileBytes + 1
        // A table too large for the cap writes with its input
        // partitioning unchanged — coalesce only ever REDUCES tasks, so
        // past ~16M target files there is nothing left to merge.
        if (nFiles <= (1 << 24)) augmented.coalesce(nFiles.toInt.max(1))
        else augmented
      } else if (derived.isEmpty) augmented
      else augmented.queryExecution.optimizedPlan match {
        case local: LocalRelation if local.stats.sizeInBytes <= LoadTargetFileBytes =>
          augmented.coalesce(1)
        case _ => augmented.repartition(partCols.map(col): _*)
      }

    val tableDir = new Path(rootPath, relPath)
    assertNoTableNesting(relPath, tableDir)
    // Stage each load into its own hidden dir, then file-rename into the
    // live tree. Two things this buys at once:
    //   - CONCURRENT WRITERS: direct appends from two jobs share one
    //     `_temporary` committer dir under the table and clobber each
    //     other's task commits; per-load staging dirs never collide, and
    //     the final merge is per-file renames of task-UUID-unique names —
    //     interleaved loads (even into the same version) both land intact.
    //   - CRASH SAFETY: a load that dies mid-write leaves only a hidden
    //     `.staging_*` dir (invisible to readers — partition discovery
    //     skips dot/underscore paths); the live tree is never half-written.
    // keep_last ("drop ALL prior versions", client.py:72) deletes the
    // existing version subtrees only after the staged write succeeded.
    // Two CONCURRENT keep_last loads are last-writer-wins: both versions
    // can coexist briefly mid-merge, and whichever publishes `_last`
    // second names the survivor — same contract as the reference's
    // S3/DynamoDB backend, which has no cross-writer transaction either.
    val staging = new Path(tableDir, s".staging_${java.util.UUID.randomUUID().toString.take(12)}")
    try {
      var writer = clustered.write
        .partitionBy(partCols: _*)
        .mode(SaveMode.Overwrite)
      if (maxRecordsPerFile > 0)
        writer = writer.option("maxRecordsPerFile", maxRecordsPerFile)
      writer.parquet(staging.toString)
      // File-level min/max sidecar (data skipping, [[FileStats]]): hoist
      // the freshly-written footers' statistics BEFORE the merge — the
      // staged files are final content, and reading them here never
      // races a concurrent writer. O(files this load) driver-side footer
      // reads, paid once at write time.
      val stagedStats =
        if (statsCols.isEmpty) Nil
        else FileStats.collect(fs, spark.sparkContext.hadoopConfiguration, staging, statsCols)
      // Sidecars are written INTO THE STAGED TREE so they publish in the
      // same mergeMove as the data files (underscore files move first —
      // see mergeMove). Publishing data first and sidecars after left a
      // crash window where a version with pre-existing sidecars gained
      // data files carrying columns no sidecar records — sidecarSchema
      // only falls back to mergeSchema when a version has ZERO sidecars,
      // so the new columns would silently vanish from every read.
      val stagedVDir = new Path(staging, s"$VersionCol=${encodeVersion(label)}")
      if (fs.exists(stagedVDir)) {
        // Per-load schema sidecar: accumulate reads union these tiny
        // driver-side files instead of mergeSchema-sweeping every data
        // file's footer (at 100 TB × many versions the footer sweep IS
        // the relation-build cost). One uniquely-named file per load —
        // concurrent loads into one version never contend — recording
        // the DATA schema (partition columns live in dir names).
        writeSmall(new Path(stagedVDir,
          s"$SchemaFilePrefix${java.util.UUID.randomUUID().toString.take(12)}.json"),
          df.schema.json)
        val versionPrefix = s"$VersionCol=${encodeVersion(label)}/"
        val inVersion = stagedStats.collect {
          case (rel, m) if rel.startsWith(versionPrefix) && m.nonEmpty =>
            rel.stripPrefix(versionPrefix) -> m
        }
        if (inVersion.nonEmpty)
          writeSmall(new Path(stagedVDir,
            s"$StatsFilePrefix${java.util.UUID.randomUUID().toString.take(12)}.tsv"),
            FileStats.encode(inVersion))
        stagedExtras(stagedVDir)
      }
      if (keepLast)
        versionsOf(tableDir).foreach { v =>
          fs.delete(new Path(tableDir, s"$VersionCol=${encodeVersion(v)}"), true)
        }
      mergeMove(staging, tableDir)
      // A 0-row input creates no __version subtree (partitioned writes
      // materialize directories per actual row); advancing the pointer
      // would leave `_last` naming a version that does not exist and
      // break every use_last read. Metadata still lands so the table is
      // listable.
      val publishedVDir = new Path(tableDir, s"$VersionCol=${encodeVersion(label)}")
      if (fs.exists(publishedVDir)) {
        // Crash window (r19 fuzzer, documented contract): a kill between
        // mergeMove above and this pointer write leaves the version
        // PUBLISHED but `_last` stale. Data-first is the only safe
        // order — pointer-first would dangle `_last` at an unpublished
        // version for every use_last reader. Recovery is pointer repair
        // ([[rollback]] to the published label), NOT a re-load: load is
        // accumulate, so re-loading published data appends a second copy.
        writeSmall(new Path(tableDir, LastFile), label)
      } else if (keepLast)
        // keep_last with 0 rows wiped every version: a surviving pointer
        // would dangle at the pre-overwrite label.
        fs.delete(new Path(tableDir, LastFile), false)
      writeSmall(new Path(tableDir, MetaFile), metaJson(columnsKeys))
    } catch {
      case e: Exception =>
        fs.delete(staging, true)
        throw new Store.LoadError(s"Error loading DataFrame '$name': ${e.getMessage}", e)
    }

    Map(
      "name" -> name,
      "version" -> label,
      "keep_last" -> keepLast.toString,
      "partition_keys" -> columnsKeys.toSeq.sortBy(_._1).map { case (c, t) => s"$c:$t" }.mkString(","))
  }

  // ----------------------------------------------------------------- get

  /** Read a stored table. Mirrors `get_dataframe` (client.py:139-183).
    *
    * No selector → all versions unioned (accumulate, README.md:86).
    * `externalKey` → that version only (client.py:162-163).
    * `useLast` → version named by the `_last` pointer (client.py:164-165).
    * Internal partition columns are dropped; callers needing date/ID-range
    * partition pruning use [[getPartitioned]] and filter on `__p_*`.
    */
  def get(
      name: String,
      externalKey: Option[String] = None,
      useLast: Boolean = false): DataFrame = {
    val withParts = getPartitioned(name, externalKey, useLast)
    val internal = withParts.columns.filter(_.startsWith(InternalPrefix))
    withParts.drop(internal: _*)
  }

  /** Like [[get]] but retains `__version` / `__p_*` partition columns so
    * filters on them partition-prune (e.g.
    * `.where(col("__p_l_shipdate") >= "1996-01-01")` reads only those
    * directories — the 100 TB fast path).
    */
  def getPartitioned(
      name: String,
      externalKey: Option[String] = None,
      useLast: Boolean = false): DataFrame = {
    val relPath = validateName(name)
    val tableDir = new Path(rootPath, relPath)
    if (!fs.exists(tableDir))
      throw new Store.GetError(s"DataFrame '$name' not found under $root", null)
    // Every read surface funnels through here (get/getMerged/history
    // callers included): refuse to serve a table one of whose versions
    // is hidden in a killed compactor's swap staging — silently
    // returning fewer rows is the failure mode the fuzzer flagged.
    requireNoCrashedSwap(tableDir)
    // Version known up front → open only that version's subtree
    // (basePath keeps the partition columns). This skips footer reads for
    // every other version — with mergeSchema on a whole 100 TB table the
    // relation build itself would touch every file. Accumulate reads (no
    // selector) span versions, which are independent uploads with
    // re-inferred schemas (client.py:114/176), so they merge schemas to
    // union by name with nulls instead of projecting to one footer.
    def versionScan(label: String): DataFrame = {
      val vDir = new Path(tableDir, s"$VersionCol=${encodeVersion(label)}")
      if (!fs.exists(vDir))
        throw new Store.GetError(s"Version '$label' of '$name' not found", null)
      val base = spark.read.option("basePath", tableDir.toString)
      sidecarSchema(Seq(vDir)) match {
        case Some(schema) => base.schema(schema).parquet(vDir.toString)
        case None => base.option("mergeSchema", "true").parquet(vDir.toString)
      }
    }
    externalKey match {
      case Some(k) => versionScan(k)
      case None if useLast =>
        val last = lastVersion(name).getOrElse(
          throw new Store.GetError(s"No '$LastFile' pointer for '$name'", null))
        versionScan(last)
      case None =>
        val vDirs = versionsOf(tableDir)
          .map(l => new Path(tableDir, s"$VersionCol=${encodeVersion(l)}"))
        sidecarSchema(vDirs) match {
          case Some(schema) => spark.read.schema(schema).parquet(tableDir.toString)
          case None => spark.read.option("mergeSchema", "true").parquet(tableDir.toString)
        }
    }
  }

  /** Union of the per-load `_schema_*.json` sidecars across the given
    * version dirs — the driver-side replacement for parquet
    * `mergeSchema`'s per-FILE footer sweep: O(loads) tiny JSON reads
    * instead of O(data files) footer fetches at relation-build time.
    * Merge semantics are parquet's own ([[SchemaBridge.merge]] calls the
    * same `StructType.merge`); the union is forced nullable because a
    * column absent from one version reads as nulls. Returns None — and
    * the caller falls back to the legacy mergeSchema sweep — when any
    * version predates sidecars or a sidecar fails to parse/merge (a
    * genuine type conflict then surfaces as parquet's standard
    * mergeSchema error at read time).
    */
  private def sidecarSchema(vDirs: Seq[Path]): Option[StructType] =
    try {
      if (vDirs.isEmpty) None
      else {
        val perVersion = vDirs.map { v =>
          fs.listStatus(v).filter(st =>
            !st.isDirectory && st.getPath.getName.startsWith(SchemaFilePrefix))
        }
        if (perVersion.exists(_.isEmpty)) None
        else {
          val merged = perVersion.flatten
            .map(st => org.apache.spark.sql.graft.SchemaBridge.fromJson(readSmall(st.getPath)))
            .reduce(org.apache.spark.sql.graft.SchemaBridge.merge)
          Some(StructType(merged.map(_.copy(nullable = true))))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Version log — DESCRIBE-HISTORY-style operability view: one row per
    * version in recency order (oldest first), with merge-delta metadata,
    * data-file counts/bytes, and which version `_last` names. Directory
    * listing + tiny marker reads only; never touches data content.
    */
  def history(name: String): Seq[Store.VersionInfo] = {
    val tableDir = new Path(rootPath, validateName(name))
    if (!fs.exists(tableDir))
      throw new Store.GetError(s"DataFrame '$name' not found under $root", null)
    // Same crashed-swap guard as the data reads: an operability view
    // silently missing a version would misinform the operator deciding
    // what to vacuum or roll back to.
    requireNoCrashedSwap(tableDir)
    val last = lastVersion(name)
    versionsByRecency(tableDir).map { case (label, mtime) =>
      val vDir = new Path(tableDir, s"$VersionCol=${encodeVersion(label)}")
      var (files, bytes) = (0L, 0L)
      walkFiles(vDir) { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) { files += 1; bytes += st.getLen }
      }
      val marker = new Path(vDir, MergeFile)
      val mergeKeys =
        if (!fs.exists(marker)) Nil
        else Store.parseMeta(readSmall(marker))
          .getOrElse("keys", "").split(",").filter(_.nonEmpty).toSeq
          .map(URLDecoder.decode(_, UTF_8))
      Store.VersionInfo(label, mtime, files, bytes,
        isMerge = mergeKeys.nonEmpty, mergeKeys = mergeKeys,
        isLast = last.contains(label))
    }
  }

  /** Repoint the `_last` pointer at an existing version — instant
    * time-travel undo for use_last readers after a bad load or merge
    * (versions are immutable snapshots; rollback is a one-file publish,
    * no data moves). Accumulate reads are unaffected; pair with
    * [[vacuum]]/[[dropVersion]] to actually discard the bad version.
    */
  def rollback(name: String, label: String): Unit = {
    val tableDir = new Path(rootPath, validateName(name))
    val vDir = new Path(tableDir, s"$VersionCol=${encodeVersion(label)}")
    if (!fs.exists(vDir))
      throw new Store.GetError(s"Version '$label' of '$name' not found", null)
    writeSmall(new Path(tableDir, LastFile), label)
  }

  /** Layout migration: republish every version of `name` under `asName`
    * with NEW partition keys — what a 100 TB deployment runs when its
    * read pattern changes (a Date-partitioned table starts serving
    * per-customer reads → Date×ID layout makes those reads prune). Each
    * source version is copied through the ordinary [[load]] path under
    * the SAME version label, so the copy inherits staged-write crash
    * safety (a killed migration leaves complete published versions plus
    * at most one invisible staging dir — re-running RESUMES, skipping
    * labels already published, because a published version is complete
    * by the rename discipline and a same-label re-load would append
    * duplicates). The `_last` pointer is re-pointed at the source's
    * `_last` version at the end, so selector semantics (pinned key /
    * accumulate / use_last — including a source that was rolled back)
    * survive the migration unchanged. Contents are row-identical per
    * version; only the directory layout, and therefore the pruning
    * behavior, changes.
    *
    * Merge-delta versions are refused (their rows are CDC ops, not
    * snapshots — a key-blind copy would republish tombstones as data);
    * run [[materializeMerged]] first and migrate the materialized
    * snapshot.
    */
  def rekey(
      name: String,
      asName: String,
      columnsKeys: Map[String, String],
      statsCols: Option[Seq[String]] = None): Unit = {
    require(validateName(name) != validateName(asName),
      "rekey requires a distinct destination table (published versions " +
        "are immutable; an in-place rekey would be a silent no-op)")
    val versions = history(name)
    require(versions.forall(!_.isMerge),
      s"'$name' has merge-delta versions; materializeMerged first, then rekey the snapshot")
    // statsCols: None = CARRY the source's data-skipping columns
    // (detected from its `_stats_*` sidecars — a migration must not
    // silently downgrade stats-pruned reads to full scans); Some(cols)
    // overrides, Some(Nil) drops stats deliberately.
    val carryStats: Seq[String] = statsCols.getOrElse {
      val tableDir = new Path(rootPath, validateName(name))
      versions.flatMap { v =>
        val vDir = new Path(tableDir, s"$VersionCol=${encodeVersion(v.label)}")
        fs.listStatus(vDir)
          .filter(st => !st.isDirectory && st.getPath.getName.startsWith(StatsFilePrefix))
          .flatMap(st => FileStats.parse(readSmall(st.getPath)).values.flatMap(_.keys))
      }.distinct.sorted
    }
    val already: Set[String] =
      if (fs.exists(new Path(rootPath, validateName(asName))))
        history(asName).map(_.label).toSet
      else Set.empty
    // history() is oldest-first (versionsByRecency sorts ascending by
    // (mtime, label)); replay in that order so the migrated dirs'
    // mtimes preserve load recency — vacuum/history on the new table
    // must see the same recency the source had.
    versions.foreach { v =>
      if (!already.contains(v.label))
        load(get(name, Some(v.label)), asName, columnsKeys,
          externalKey = v.label, statsCols = carryStats)
    }
    lastVersion(name).foreach { srcLast =>
      if (!lastVersion(asName).contains(srcLast)) rollback(asName, srcLast)
    }
  }

  /** Retention: delete all but the newest `keepVersions` versions (by
    * version-label sort, same ordering `lastVersion` uses). Generalizes
    * the reference's binary keep_last (client.py:72) into a policy; the
    * `_last` pointer is preserved. Directory operations only.
    */
  def vacuum(name: String, keepVersions: Int): Seq[String] = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    val tableDir = new Path(rootPath, validateName(name))
    if (!fs.exists(tableDir))
      throw new Store.GetError(s"DataFrame '$name' not found under $root", null)
    // Recency = load order (directory mtime, label tiebreak) — NOT
    // lexicographic label order, which would rank 'v10' < 'v2' and
    // delete the newest data.
    val byRecency = versionsByRecency(tableDir)
    val doomed = byRecency.dropRight(keepVersions).map(_._1)
    doomed.foreach { v =>
      fs.delete(new Path(tableDir, s"$VersionCol=${encodeVersion(v)}"), true)
    }
    // Re-point _last if it referenced a deleted version.
    val pointer = new Path(tableDir, LastFile)
    if (fs.exists(pointer) && doomed.contains(readSmall(pointer)))
      byRecency.takeRight(keepVersions).lastOption
        .foreach { case (label, _) => writeSmall(pointer, label) }
    doomed
  }

  // --------------------------------------------------------------- merge

  /** CDC upsert: write `df` as a MERGE DELTA version of an existing
    * table. A delta row REPLACES the current row with the same key (or
    * inserts, if the key is new); rows flagged true in `deleteCol` are
    * tombstones that delete their key. Nothing is rewritten at merge
    * time — this is the merge-on-read half of the Hudi/Iceberg pattern:
    * [[getMerged]] resolves newest-wins-per-key at read time, and
    * [[materializeMerged]] is the copy-on-write step that folds the
    * delta chain back into one version when read amplification warrants.
    * The daily-corpus-update shape at 100 TB: each day's merge writes
    * O(delta), never O(table).
    *
    * Ordering contract: resolution orders versions by LABEL (ascending,
    * on the encoded label — same total order for alphanumeric labels).
    * `NOW` labels are timestamp-formatted and sort in ingest order;
    * explicit labels must be chosen to sort in ingest order (v1 < v2).
    * Within one delta batch keys must be unique — two rows with one key
    * in the same version resolve arbitrarily.
    *
    * The delta inherits the table's partition keys (its batch must carry
    * those columns) so delta files co-locate with base files per
    * partition. Key columns may not change partition-key values for an
    * existing key's row unless the key itself is the partition column —
    * resolution is global per key either way; pruned reads
    * ([[getPartitioned]]) do not resolve merges.
    *
    * Retention: do NOT [[vacuum]] away the BASE of a live merge chain —
    * keys never touched by a delta live only there. Fold the chain with
    * [[materializeMerged]] first; [[compact]] of individual versions is
    * safe (delta markers survive the rewrite).
    */
  def merge(
      df: DataFrame,
      name: String,
      keyCols: Seq[String],
      externalKey: String = NowKey,
      deleteCol: Option[String] = None): Map[String, String] = {
    val relPath = validateName(name)
    val tableDir = new Path(rootPath, relPath)
    if (!fs.exists(new Path(tableDir, MetaFile)))
      throw new Store.GetError(s"Cannot merge into '$name': table not found under $root", null)
    require(keyCols.nonEmpty, "merge requires at least one key column")
    keyCols.foreach { k =>
      if (!df.columns.contains(k))
        throw new IllegalArgumentException(
          s"Merge key column '$k' not found in DataFrame columns ${df.columns.mkString("[", ", ", "]")}")
    }
    deleteCol.foreach { d =>
      if (!df.columns.contains(d))
        throw new IllegalArgumentException(
          s"Delete column '$d' not found in DataFrame columns ${df.columns.mkString("[", ", ", "]")}")
    }
    val columnsKeys = Store.parseMeta(readSmall(new Path(tableDir, MetaFile)))
    columnsKeys.keys.foreach { c =>
      if (!df.columns.contains(c))
        throw new IllegalArgumentException(
          s"Merge batch must carry the table's partition key column '$c'")
    }
    val sortedKeys = keyCols.sorted
    mergeMarkers(tableDir).foreach { case (label, keys, del) =>
      if (keys != sortedKeys)
        throw new IllegalArgumentException(
          s"Merge keys ${sortedKeys.mkString(",")} conflict with version '$label' " +
            s"merged on ${keys.mkString(",")}")
      // Re-merging into an EXISTING version label shares that version's
      // single marker — the delete column must match too, or the second
      // delta's marker would silently rewrite the first delta's
      // tombstone semantics. (Distinct labels may differ: getMerged
      // unions delete columns across versions.)
      if (externalKey != NowKey && label == externalKey && del != deleteCol)
        throw new IllegalArgumentException(
          s"Merge delete column ${deleteCol.getOrElse("<none>")} conflicts with " +
            s"version '$label' merged with delete column ${del.getOrElse("<none>")}")
    }

    // Column names are URL-encoded into the marker: a legal Spark column
    // name may contain a comma (corrupting the key list) or a quote
    // (truncating the regex-parsed JSON). The marker is written INTO THE
    // STAGED TREE and publishes in mergeMove's sidecars-first pass: a
    // marker-less published delta would read as a plain append (updated
    // keys duplicated, tombstones live), so the marker must never trail
    // the data files across a crash window. 0-row deltas publish no
    // version dir and the hook never runs — nothing to mark.
    val enc = (s: String) => URLEncoder.encode(s, UTF_8)
    val del = deleteCol.map(d => s""","delete_col":"${enc(d)}"""").getOrElse("")
    val markerJson = s"""{"keys":"${sortedKeys.map(enc).mkString(",")}"$del}"""
    val info = doLoad(df, name, columnsKeys, externalKey, keepLast = false, statsCols = Nil,
      stagedExtras = vDir => writeSmall(new Path(vDir, MergeFile), markerJson))
    info + ("merge_keys" -> sortedKeys.mkString(","))
  }

  /** Read `name` with merge resolution: one row per key, from the
    * highest-labeled version containing that key; tombstoned keys are
    * absent; tombstone columns are dropped. Tables with no merge deltas
    * read as plain accumulate.
    *
    * One map-side-combined aggregate shuffle resolves the whole chain
    * regardless of how many delta versions exist (`max_by(row, version)`
    * partial-aggregates inside each task — repeated updates to one key
    * collapse before crossing the wire), vs. a per-delta anti-join chain
    * (N shuffles) or a global rank window (full sort, no partial).
    */
  def getMerged(name: String): DataFrame = {
    val relPath = validateName(name)
    val tableDir = new Path(rootPath, relPath)
    val markers = mergeMarkers(tableDir)
    val withParts = getPartitioned(name)
    val internal = withParts.columns.filter(_.startsWith(InternalPrefix))
    if (markers.isEmpty) return withParts.drop(internal: _*)

    val keySets = markers.map(_._2).distinct
    if (keySets.size > 1)
      throw new Store.GetError(
        s"Inconsistent merge keys across versions of '$name': " +
          keySets.map(_.mkString(",")).mkString(" vs "), null)
    val keys = keySets.head
    keys.foreach { k =>
      if (!withParts.columns.contains(k))
        throw new Store.GetError(s"Merge key column '$k' missing from '$name' schema", null)
    }
    val delCols = markers.flatMap(_._3).distinct.filter(withParts.columns.contains)
    val dataCols = withParts.columns.filterNot(_.startsWith(InternalPrefix)).toSeq

    val resolved = withParts
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct((dataCols :+ VersionCol).map(col): _*), col(VersionCol)).as("__mrg"))
      .select(col("__mrg.*"))
      .drop(VersionCol)
    delCols
      .foldLeft(resolved)((d, c) => d.where(!coalesce(col(c).cast("boolean"), lit(false))))
      .drop(delCols: _*)
  }

  /** Row-level DIFF between two stored versions, keyed by `keyCols`:
    * one row per key whose membership or content changed —
    * `added` (key only in `toKey`), `removed` (key only in `fromKey`),
    * `changed` (key in both, any shared non-key column differs under
    * null-safe equality). Output: the key columns + `change`. The
    * version-audit primitive behind "what did yesterday's ingest
    * actually do" — the batch complement of the CDC merge path
    * ([[merge]] applies deltas; this RECOVERS the delta between two
    * published snapshots).
    *
    * Shape at scale: each side is one version subtree scan (zero footer
    * reads with sidecars, see [[getPartitioned]]); the only shuffle is
    * the full-outer equality join on the key columns. Non-key columns
    * compare with `<=>` (exact, null-safe) — a 100 TB caller diffing
    * very wide rows should pre-project the columns they care about when
    * calling, or accept the wide shuffle; a hash fingerprint is NOT
    * used because Spark's null-skipping struct hash collides e.g.
    * (null, x) with (x, null).
    */
  def versionDiff(
      name: String,
      fromKey: String,
      toKey: String,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "versionDiff needs at least one key column")
    val from = get(name, externalKey = Some(fromKey))
    val to = get(name, externalKey = Some(toKey))
    keyCols.foreach { c =>
      if (!from.columns.contains(c) || !to.columns.contains(c))
        throw new Store.GetError(
          s"versionDiff key column '$c' missing from '$name' versions", null)
    }
    // Only columns PRESENT IN BOTH versions can differ; a column that
    // exists on one side only is a schema change, reported as 'changed'
    // for every shared key (its values differ from absent-as-null).
    val shared = from.columns.toSet.intersect(to.columns.toSet)
    val nonKey = (from.columns ++ to.columns).distinct
      .filterNot(keyCols.contains)
    val sharedNonKey = nonKey.filter(shared)
    // Keys-only table: no payload to differ on — compare a constant.
    def payload = if (sharedNonKey.isEmpty) lit(0)
      else struct(sharedNonKey.map(col).toSeq: _*)
    val f = from.select(keyCols.map(col) :+ payload.as("__f"): _*)
      .withColumn("__inF", lit(true)).as("__df")
    val t = to.select(keyCols.map(col) :+ payload.as("__t"): _*)
      .withColumn("__inT", lit(true)).as("__dt")
    val schemaChanged = from.columns.toSet != to.columns.toSet
    // Null-safe key join: a using-column full outer never matches null
    // keys, which would report an unchanged null-keyed row as BOTH
    // 'added' and 'removed' — the same null-safety the payload compare
    // already has.
    val keyCond = keyCols
      .map(c => col(s"__df.$c") <=> col(s"__dt.$c"))
      .reduce(_ && _)
    val keyOut = keyCols.map(c =>
      coalesce(col(s"__df.$c"), col(s"__dt.$c")).as(c))
    f.join(t, keyCond, "full_outer")
      .withColumn("change",
        when(col("__inF").isNull, lit("added"))
          .when(col("__inT").isNull, lit("removed"))
          .when(lit(schemaChanged) || !(col("__f") <=> col("__t")), lit("changed")))
      .where(col("change").isNotNull)
      .select(keyOut :+ col("change"): _*)
  }

  // --------------------------------------------------------- data skipping

  /** Read `name` restricted to `lower <= colName <= upper`, scanning ONLY
    * the data files whose [[FileStats]] min/max range intersects the
    * predicate — file-level data skipping on NON-partition columns, the
    * complement to `__p_*` directory pruning. The surviving file list is
    * decided driver-side from the per-load `_stats_*.tsv` sidecars
    * (O(loads) small reads — never a footer fetch per data file), then
    * the exact predicate is applied on top, so the result equals
    * `get(...).where(between)` row-for-row. Files with no recorded range
    * for the column are always scanned.
    *
    * Skipping quality is a LAYOUT property: after an append-heavy
    * history, ranges overlap and little skips; [[compact]] with
    * `zorderBy` rewrites the version so each file owns a tight range on
    * every z-ordered column. Reads raw version contents — like
    * [[getPartitioned]], merge deltas are NOT resolved (use
    * [[materializeMerged]] first on a merge-managed table).
    */
  def getStatsPruned(
      name: String,
      colName: String,
      lower: Any,
      upper: Any,
      externalKey: Option[String] = None,
      useLast: Boolean = false): DataFrame = {
    val relPath = validateName(name)
    val tableDir = new Path(rootPath, relPath)
    if (!fs.exists(tableDir))
      throw new Store.GetError(s"DataFrame '$name' not found under $root", null)
    val labels = externalKey match {
      case Some(k) => Seq(k)
      case None if useLast =>
        Seq(lastVersion(name).getOrElse(
          throw new Store.GetError(s"No '$LastFile' pointer for '$name'", null)))
      case None => versionsOf(tableDir)
    }
    val vDirs = labels.map { l =>
      val d = new Path(tableDir, s"$VersionCol=${encodeVersion(l)}")
      if (!fs.exists(d))
        throw new Store.GetError(s"Version '$l' of '$name' not found", null)
      d
    }
    val (kept, total) = prunedDataFiles(vDirs, colName, lower, upper)
    val predicate = col(colName) >= lit(lower) && col(colName) <= lit(upper)
    val base = spark.read.option("basePath", tableDir.toString)
    val reader = sidecarSchema(vDirs) match {
      case Some(schema) => base.schema(schema)
      case None => base.option("mergeSchema", "true")
    }
    // All files skipped → nothing can match; an empty path list cannot
    // be planned, so scan the (cheap) directory tree and let the
    // predicate return the empty result with the right schema.
    val df =
      if (kept.isEmpty || kept.size == total)
        reader.parquet(vDirs.map(_.toString): _*)
          .where(if (kept.isEmpty) lit(false) else predicate)
      else reader.parquet(kept.map(_.toString): _*).where(predicate)
    val internal = df.columns.filter(_.startsWith(InternalPrefix))
    df.drop(internal: _*)
  }

  /** (surviving files, total data files) for a range predicate on
    * `colName` under the given version dirs — the data-skipping decision
    * itself, exposed so tests and capacity tooling can assert skipping
    * rates without running a scan.
    */
  def prunedDataFiles(
      vDirs: Seq[Path],
      colName: String,
      lower: Any,
      upper: Any): (Seq[Path], Int) = {
    val kept = Seq.newBuilder[Path]
    var total = 0
    vDirs.foreach { vDir =>
      val ranges = fs.listStatus(vDir)
        .filter(st => !st.isDirectory && st.getPath.getName.startsWith(StatsFilePrefix))
        .map(st => FileStats.parse(readSmall(st.getPath)))
        .foldLeft(Map.empty[String, Map[String, FileStats.ColRange]])(_ ++ _)
      val vBase = fs.makeQualified(vDir).toString
      walkFiles(vDir) { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          total += 1
          val rel = fs.makeQualified(st.getPath).toString.stripPrefix(vBase).stripPrefix("/")
          val keep = ranges.get(rel).flatMap(_.get(colName))
            .forall(_.intersects(lower, upper))
          if (keep) kept += st.getPath
        }
      }
    }
    (kept.result(), total)
  }

  /** Copy-on-write materialization: rewrite [[getMerged]]'s resolution as
    * a single keep-last version, superseding the base + delta chain (and
    * their merge markers — the table reads as a plain table again).
    * Run when the delta chain's read amplification outweighs a table
    * rewrite, like [[compact]] for small files.
    */
  def materializeMerged(name: String, externalKey: String = NowKey): Map[String, String] = {
    val resolved = getMerged(name)
    val tableDir = new Path(rootPath, validateName(name))
    val columnsKeys = Store.parseMeta(readSmall(new Path(tableDir, MetaFile)))
      .filter { case (c, _) => resolved.columns.contains(c) }
    load(resolved, name, columnsKeys, externalKey, keepLast = true)
  }

  /** Morton code of the given numeric columns: each value min/max-scaled
    * to 16 bits (ranges from one driver-side aggregate over the input —
    * compaction is already a full rewrite, the extra pass is footer-cheap
    * relative to it), bits interleaved so sorting by the code clusters
    * rows that are close in EVERY dimension. Nulls sort first (bucket 0).
    */
  private def zorderValue(df: DataFrame, cols: Seq[String]): Column = {
    require(cols.nonEmpty && cols.size <= 8, s"zorderBy supports 1-8 columns, got ${cols.size}")
    // The Morton code must fit one long: Spark's shiftleft masks the
    // shift amount mod 64, so an unchecked 16 bits × 5 columns would
    // silently wrap bit 79 onto bit 15 and garble the ordering.
    val bits = math.min(16, 64 / cols.size)
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("double")).as(s"mn_$c"), max(col(c).cast("double")).as(s"mx_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      // All-null / empty input: min and max come back null; any constant
      // range works (every row lands in bucket 0 via the null coalesce).
      val (mn, mx) =
        if (row.isNullAt(2 * i)) (0d, 1d)
        else (row.getDouble(2 * i), row.getDouble(2 * i + 1))
      val range = if (mx > mn) mx - mn else 1d
      coalesce(
        floor((col(c).cast("double") - lit(mn)) / lit(range) * lit((1 << bits) - 1))
          .cast("long"),
        lit(0L))
    }
    val n = cols.size
    (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      scaled.zipWithIndex.foldLeft(acc) { case (a, (s, i)) =>
        a.bitwiseOR(shiftleft(shiftrightunsigned(s, b).bitwiseAND(lit(1L)), b * n + i))
      }
    }
  }

  /** (label, sorted merge keys, delete column) for each version carrying
    * a `_merge.json` marker, in encoded-label order.
    */
  private def mergeMarkers(tableDir: Path): Seq[(String, Seq[String], Option[String])] =
    versionsOf(tableDir).sortBy(encodeVersion).flatMap { label =>
      val marker = new Path(tableDir, s"$VersionCol=${encodeVersion(label)}/$MergeFile")
      if (!fs.exists(marker)) None
      else {
        val m = Store.parseMeta(readSmall(marker))
        Some((label,
          m.getOrElse("keys", "").split(",").filter(_.nonEmpty).toSeq
            .map(URLDecoder.decode(_, UTF_8)),
          m.get("delete_col").map(URLDecoder.decode(_, UTF_8))))
      }
    }

  /** Compact a version's data files: rewrite the version subtree so each
    * partition directory holds one file (or `ceil(bytes/targetFileBytes)`
    * files for unpartitioned tables). Every accumulate-mode [[load]] into
    * the same version appends one file set; at scale the store's read
    * cost becomes listing/footer-bound long before it is data-bound —
    * compaction is the OPTIMIZE step that keeps old versions scannable.
    *
    * Runs per version: SNAPSHOT the version's data-file list, read
    * exactly those files (schema-merged across appends), cluster by the
    * derived partition columns (one shuffle), write to a hidden sibling
    * dir, then swap via two renames.
    *
    * Concurrency contract vs [[load]]:
    *   - A `.compact_lease_*` marker file (atomic create-exclusive)
    *     serializes compactors: two concurrent compacts of one version
    *     would double-swap and strand each other's output. A lease older
    *     than [[Store.CompactLeaseTtlMs]] is presumed abandoned (crashed
    *     compactor) and stolen.
    *   - A load PUBLISHING INTO THE SAME VERSION mid-compact is safe:
    *     the compacted output contains precisely the snapshot's files,
    *     so before the old subtree is deleted, any data file that landed
    *     in it after the snapshot (a racing [[load]]'s per-file rename
    *     publish) is salvaged into the new subtree — rows are neither
    *     lost nor duplicated, whichever side of the swap the publish
    *     lands on. [[mergeMove]] retries renames through the sub-second
    *     swap window (the version dir briefly does not exist), and if a
    *     load recreates the dir inside that window the compacted files
    *     merge in per-file instead of dir-renaming.
    * A concurrent READER can still observe the brief swap window (same
    * as the reference's plain-directory storage, README.md:189-218):
    * making the swap atomic for readers would need a directory-pointer
    * indirection the layout doesn't have. The `_last` pointer and
    * `_meta.json` are untouched; directory-mtime recency fallback may be
    * perturbed (the pointer is authoritative).
    *
    * @param externalKey only this version (default: all versions)
    * @param targetFileBytes target file size for unpartitioned tables
    * @param zorderBy numeric columns to Z-ORDER the rewrite by: rows are
    *        sorted by the interleaved-bit Morton code of the (min/max
    *        scaled) columns, so each output file owns a tight min/max
    *        range on EVERY listed column simultaneously, and a fresh
    *        [[FileStats]] sidecar is written from the compacted footers —
    *        [[getStatsPruned]] then skips most files for a range
    *        predicate on any one of them. The OPTIMIZE ZORDER step of a
    *        Delta-style maintenance cycle.
    * @return (filesBefore, filesAfter) summed over compacted versions
    */
  def compact(
      name: String,
      externalKey: Option[String] = None,
      targetFileBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Nil): (Long, Long) = {
    val relPath = validateName(name)
    val tableDir = new Path(rootPath, relPath)
    if (!fs.exists(tableDir))
      throw new Store.GetError(s"DataFrame '$name' not found under $root", null)
    val labels = externalKey match {
      case Some(k) => Seq(k)
      case None => versionsOf(tableDir)
    }
    var (beforeTotal, afterTotal) = (0L, 0L)
    labels.foreach { label =>
      val vDir = new Path(tableDir, s"$VersionCol=${encodeVersion(label)}")
      val marker = swapMarkerPath(tableDir, label)
      if (!fs.exists(vDir) && !fs.exists(marker))
        throw new Store.GetError(s"Version '$label' of '$name' not found", null)
      val (lease, leaseToken) = acquireCompactLease(tableDir, label, name)
      try {
        // Heal a PREVIOUS compactor's crashed swap of this label before
        // touching anything (no-op without a marker; the lease we now
        // hold serializes the heal against live compactors — a stale
        // crashed lease was stolen by the acquire above). Found by the
        // r19 crash-schedule fuzzer: a process kill between the two swap
        // renames left the version invisible to every reader with no
        // automated recovery — the in-process catch-rollback below never
        // runs after a kill.
        healCompactSwap(tableDir, label)
        if (!fs.exists(vDir))
          throw new Store.GetError(s"Version '$label' of '$name' not found", null)
        // Snapshot the input file set FIRST, then read exactly those
        // files: the compacted output then holds precisely the
        // snapshot's rows, and any file landing in the version dir after
        // this point (a concurrent accumulate load publishing
        // mid-compact) is salvaged from the old subtree before deletion
        // — no lost rows, no duplicated rows.
        val snapshot = scala.collection.mutable.ArrayBuffer.empty[Path]
        // Stats sidecars present at snapshot time describe snapshot files
        // and die with them; one landing AFTER (a racing load's) describes
        // salvaged files and must be salvaged too — remember which is
        // which, and which COLUMNS they tracked (stats are recomputed for
        // those from the rewritten footers).
        val preStats = scala.collection.mutable.Set.empty[String]
        val preStatsCols = scala.collection.mutable.LinkedHashSet.empty[String]
        var beforeBytes = 0L
        walkFiles(vDir) { st =>
          val n = st.getPath.getName
          if (!n.startsWith("_") && !n.startsWith(".")) {
            snapshot += st.getPath; beforeBytes += st.getLen
          } else if (n.startsWith(StatsFilePrefix)) {
            preStats += n
            try FileStats.parse(readSmall(st.getPath)).values.foreach(preStatsCols ++= _.keys)
            catch { case scala.util.control.NonFatal(_) => }
          }
        }
        val beforeFiles = snapshot.size.toLong
        val vBase = fs.makeQualified(vDir).toString
        def relOf(p: Path): String =
          fs.makeQualified(p).toString.stripPrefix(vBase).stripPrefix("/")
        val snapRel = snapshot.map(relOf).toSet
        val beforeMtime = fs.getFileStatus(vDir).getModificationTime
        val df = spark.read
          .option("mergeSchema", "true")
          .option("basePath", tableDir.toString)
          .parquet(snapshot.map(_.toString).toSeq: _*)
        val partCols = df.columns.filter(c => c.startsWith(InternalPrefix) && c != VersionCol).toSeq
        val nFiles = math.max(1L, (beforeBytes + targetFileBytes - 1) / targetFileBytes).toInt
        val clustered =
          if (zorderBy.nonEmpty) {
            zorderBy.foreach(c => require(df.columns.contains(c),
              s"zorderBy column '$c' not found in '$name'"))
            val zval = zorderValue(df, zorderBy)
            // Partitioned: keep the one-writer-task-per-dir clustering and
            // z-sort WITHIN it (maxRecordsPerFile then splits the sorted
            // run into consecutive tight-range files — per-partition
            // Z-ORDER, as Delta does). Unpartitioned: range-partition by
            // the Morton code so every task owns a disjoint z-range.
            if (partCols.nonEmpty)
              df.drop(VersionCol).withColumn("__z", zval)
                .repartition(partCols.map(col): _*)
                .sortWithinPartitions((partCols.map(col) :+ col("__z")): _*)
                .drop("__z")
            else
              df.drop(VersionCol).withColumn("__z", zval)
                .repartitionByRange(nFiles, col("__z"))
                .sortWithinPartitions(col("__z"))
                .drop("__z")
          } else if (partCols.nonEmpty) df.drop(VersionCol).repartition(partCols.map(col): _*)
          else df.drop(VersionCol).repartition(nFiles)
        val tmp = new Path(tableDir, s".compact_tmp_${encodeVersion(label)}")
        val old = new Path(tableDir, s".compact_old_${encodeVersion(label)}")
        fs.delete(tmp, true)
        fs.delete(old, true)
        var swapDone = false
        try {
          var writer = clustered.write.mode(SaveMode.Overwrite)
          if (partCols.nonEmpty) writer = writer.partitionBy(partCols: _*)
          if (maxRecordsPerFile > 0)
            writer = writer.option("maxRecordsPerFile", maxRecordsPerFile)
          writer.parquet(tmp.toString)
          // Fresh file-stats sidecar from the compacted footers, INSIDE
          // tmp so the swap publishes data + stats atomically.
          // Pre-compact sidecars die with the old subtree (their file
          // names no longer exist) — so recompute for every column THEY
          // tracked, not just zorderBy: otherwise a routine small-file
          // compact of a statsCols table silently disables data skipping
          // forever.
          val trackedCols = (preStatsCols.toSeq ++ zorderBy).distinct
          if (trackedCols.nonEmpty) {
            val stats = FileStats.collect(
              fs, spark.sparkContext.hadoopConfiguration, tmp, trackedCols)
            if (stats.exists(_._2.nonEmpty))
              writeSmall(new Path(tmp,
                s"$StatsFilePrefix${java.util.UUID.randomUUID().toString.take(12)}.tsv"),
                FileStats.encode(stats.filter(_._2.nonEmpty)))
          }
          // A merge-delta version's `_merge.json` marker is the version's
          // SEMANTICS (these rows replace/delete their keys), not a file
          // map — compacting the delta must not turn it back into a
          // plain append (getMerged would resurrect every overwritten
          // row). Carry the marker into the rewritten tree pre-swap.
          val mergeMarker = new Path(vDir, MergeFile)
          if (fs.exists(mergeMarker))
            writeSmall(new Path(tmp, MergeFile), readSmall(mergeMarker))
          // SWAP MARKER — the crash-recovery record for the two-rename
          // window below (r19 fuzzer finding). Written (atomically,
          // writeSmall is tmp+rename) only after `tmp` is COMPLETE, so
          // its presence means "roll FORWARD is always safe". It carries
          // everything a healer needs to finish what the catch below
          // would have done in-process: the snapshot file set (so
          // racing-load files in the hidden old subtree are salvaged,
          // snapshot files are not resurrected), the pre-compact stats
          // sidecar names (superseded — they die with the old subtree),
          // and the version dir's original mtime (vacuum/lastVersion
          // order by mtime). Deleted on success and on in-process
          // rollback; a kill leaves it for [[healCompactSwap]], which
          // runs at the next compact of this label, and the read
          // surfaces fail LOUDLY on a marker whose version dir is gone
          // ([[requireNoCrashedSwap]]) instead of silently serving a
          // table minus one version.
          writeSmall(marker,
            (Seq("#mtime", beforeMtime.toString) ++
              ("#snap" +: snapRel.toSeq.sorted) ++
              ("#prestats" +: preStats.toSeq.sorted)).mkString("\n"))
          compactTestHook("pre-swap")
          // Last ownership check before the point of no return: if the
          // lease was stolen (this compactor stalled past the TTL), abort
          // with the live tree untouched rather than double-swapping
          // against the stealer.
          verifyLeaseOwned(lease, leaseToken)
          if (!fs.rename(vDir, old))
            throw new java.io.IOException(s"swap rename failed for version '$label'")
          compactTestHook("mid-swap")
          if (fs.exists(vDir)) {
            // A concurrent load recreated the version dir inside the
            // swap window — merge the compacted files in per-file.
            mergeMove(tmp, vDir)
          } else if (!fs.rename(tmp, vDir)) {
            if (fs.exists(vDir)) mergeMove(tmp, vDir)
            else throw new java.io.IOException(s"swap rename failed for version '$label'")
          } else {
            // On filesystems with move-INTO-directory rename semantics
            // (HDFS), a racing load recreating vDir between the exists
            // check and the rename makes the rename "succeed" by nesting
            // tmp under vDir as a dot-directory readers skip — silently
            // hiding every compacted row. (Local FS fails that rename
            // into the mergeMove fallback above, so tests can't catch
            // it.) Detect the nest and merge it out per-file.
            val nested = new Path(vDir, tmp.getName)
            if (fs.exists(nested)) mergeMove(nested, vDir)
          }
          swapDone = true
          // Salvage: any data file that landed under the old subtree
          // after the snapshot (a racing load publish) moves into the
          // new subtree instead of dying with it. Schema sidecars
          // (`_schema_*.json`) are salvaged unconditionally — compaction
          // rewrites files, not schemas, so the per-load sidecars stay
          // the version's schema record (and a racing load's sidecar,
          // which landed after the snapshot, must survive or its new
          // columns would silently read as nulls on accumulate).
          val oldBase = fs.makeQualified(old).toString
          walkFiles(old) { st =>
            val n = st.getPath.getName
            val isSidecar = n.startsWith(SchemaFilePrefix) ||
              (n.startsWith(StatsFilePrefix) && !preStats.contains(n))
            if (isSidecar || (!n.startsWith("_") && !n.startsWith("."))) {
              val r = fs.makeQualified(st.getPath).toString
                .stripPrefix(oldBase).stripPrefix("/")
              if (isSidecar || !snapRel.contains(r)) {
                val dest = new Path(vDir, r)
                fs.mkdirs(dest.getParent)
                if (!fs.rename(st.getPath, dest))
                  throw new java.io.IOException(s"failed to salvage concurrently-loaded file '$r'")
              }
            }
          }
          fs.delete(old, true)
          // Compaction must not rewrite history: vacuum/lastVersion order
          // versions by directory mtime, and a freshly-swapped dir would
          // rank an OLD version as newest — vacuum would then delete the
          // genuinely newest data. Restore the original mtime.
          fs.setTimes(vDir, beforeMtime, -1)
          fs.delete(marker, false)
        } catch {
          case e: Exception =>
            // Roll the swap back only if the new subtree never landed;
            // after a successful swap the compacted data is live and a
            // salvage failure must NOT restore old files next to it
            // (duplication) — the hidden old dir (and the swap marker,
            // so [[healCompactSwap]] finishes the salvage later) is left
            // instead.
            if (!swapDone && fs.exists(old)) {
              // If a racing load recreated vDir and the compacted merge
              // then failed (mergeMove rolls its own partial moves back
              // out), the pre-compact rows are stranded in the hidden
              // old subtree while readers see only the racing load's
              // rows. Merge them back per-file (file names are
              // load-unique, so nothing clobbers) instead of leaving
              // reader-visible data loss behind.
              if (!fs.exists(vDir)) fs.rename(old, vDir)
              else restoreOldInto(old, vDir)
            }
            if (!swapDone) fs.delete(tmp, true)
            // The attempt is abandoned (rolled back, or never swapped):
            // the marker must not outlive it, or readers would block on
            // a swap that is not happening. Delete only when the live
            // tree is back; a swapDone salvage failure KEEPS the marker
            // so the next compact's heal finishes draining `old`.
            if (!swapDone && fs.exists(vDir)) fs.delete(marker, false)
            throw new Store.LoadError(s"Error compacting '$name' version '$label': ${e.getMessage}", e)
        }
        afterTotal += dataFileStats(vDir)._1
        beforeTotal += beforeFiles
      } finally {
        // Release only a lease this compactor still owns — after a steal
        // the file at this path is the STEALER's lease, and deleting it
        // would strip the active compactor's exclusion.
        val stillOwned =
          try readSmall(lease) == leaseToken catch { case _: Exception => false }
        if (stillOwned) fs.delete(lease, false)
      }
    }
    (beforeTotal, afterTotal)
  }

  /** Failed-swap rollback when the live version dir was recreated by a
    * racing load: drain the hidden pre-swap subtree's data files back
    * into the live dir per-file, best-effort (a file that won't move
    * stays in the hidden dir for manual recovery rather than aborting
    * the rollback — unlike [[mergeMove]], which would DELETE its
    * already-moved files on failure and destroy the only copy). The
    * hidden dir is deleted only once fully drained.
    */
  private def restoreOldInto(old: Path, vDir: Path): Unit = {
    val oldBase = fs.makeQualified(old).toString
    var stranded = 0
    walkFiles(old) { st =>
      val n = st.getPath.getName
      // Sidecars (schema/stats/merge marker) restore WITH their rows:
      // leaving them behind and deleting the old dir would strip the
      // restored rows' schema record — and with the racing load's own
      // sidecar present, sidecarSchema would never fall back to
      // mergeSchema, silently dropping the restored columns from reads.
      val isSidecar = n.startsWith(SchemaFilePrefix) ||
        n.startsWith(StatsFilePrefix) || n == MergeFile
      if (isSidecar || (!n.startsWith("_") && !n.startsWith("."))) {
        val rel = fs.makeQualified(st.getPath).toString
          .stripPrefix(oldBase).stripPrefix("/")
        val dest = new Path(vDir, rel)
        val ok = try { fs.mkdirs(dest.getParent); fs.rename(st.getPath, dest) }
        catch { case _: java.io.IOException => false }
        if (!ok) stranded += 1
      }
    }
    if (stranded == 0) fs.delete(old, true)
  }

  private def swapMarkerPath(tableDir: Path, label: String): Path =
    new Path(tableDir, Store.SwapMarkerPrefix + encodeVersion(label))

  /** Finish (or discard) a compaction swap a killed compactor left
    * behind (r19 crash-schedule fuzzer finding). Caller holds the
    * label's compaction lease. Decision tree on what exists:
    *
    *   - no marker → nothing to heal;
    *   - marker, no hidden `old` subtree → the swap never began (the
    *     marker lands only after `tmp` completes, and `old` is the
    *     FIRST rename) or it fully finished and only the marker delete
    *     was lost: discard staged debris + marker, the live tree is
    *     authoritative;
    *   - marker + `old` → the swap began, and because the marker is
    *     written only after the compacted tree is complete, rolling
    *     FORWARD is always safe: make `tmp` live (whole-dir rename, or
    *     per-file merge if a racing load recreated the version dir),
    *     salvage from `old` everything the snapshot does not cover
    *     (racing-load data files and their sidecars; the pre-compact
    *     stats sidecars named in the marker die with the subtree —
    *     their file maps describe deleted files), restore the recorded
    *     mtime (vacuum/lastVersion order by it), drop `old`, drop the
    *     marker.
    */
  private def healCompactSwap(tableDir: Path, label: String): Unit = {
    val marker = swapMarkerPath(tableDir, label)
    if (!fs.exists(marker)) return
    val enc = encodeVersion(label)
    val vDir = new Path(tableDir, s"$VersionCol=$enc")
    val tmp = new Path(tableDir, s".compact_tmp_$enc")
    val old = new Path(tableDir, s".compact_old_$enc")
    var mtime = -1L
    val snap = scala.collection.mutable.Set.empty[String]
    val preStats = scala.collection.mutable.Set.empty[String]
    var section = ""
    readSmall(marker).split("\n").foreach { l =>
      if (l.startsWith("#")) section = l
      else if (l.nonEmpty) section match {
        case "#mtime" => mtime = l.trim.toLong
        case "#snap" => snap += l
        case "#prestats" => preStats += l
        case _ => ()
      }
    }
    if (!fs.exists(old)) {
      fs.delete(tmp, true)
      fs.delete(marker, false)
      return
    }
    // Roll forward: land the compacted tree (mirroring the live swap's
    // racing-load fallbacks).
    if (!fs.exists(vDir)) {
      if (!fs.exists(tmp))
        throw new java.io.IOException(
          s"crashed compaction of version '$label' left neither a live " +
            s"nor a staged tree under $tableDir — manual recovery from " +
            s"'${old.getName}' required")
      if (!fs.rename(tmp, vDir)) {
        if (fs.exists(vDir)) mergeMove(tmp, vDir)
        else throw new java.io.IOException(
          s"heal: swap rename failed for version '$label'")
      } else {
        val nested = new Path(vDir, tmp.getName)
        if (fs.exists(nested)) mergeMove(nested, vDir)
      }
    } else if (fs.exists(tmp)) mergeMove(tmp, vDir)
    // Salvage: everything under `old` the snapshot does not account for
    // (idempotent — a dest that already exists was salvaged by the
    // crashed attempt or an earlier heal).
    val oldBase = fs.makeQualified(old).toString
    walkFiles(old) { st =>
      val n = st.getPath.getName
      val isSidecar = n.startsWith(SchemaFilePrefix) ||
        (n.startsWith(StatsFilePrefix) && !preStats.contains(n))
      if (isSidecar || (!n.startsWith("_") && !n.startsWith("."))) {
        val rel = fs.makeQualified(st.getPath).toString
          .stripPrefix(oldBase).stripPrefix("/")
        if (isSidecar || !snap.contains(rel)) {
          val dest = new Path(vDir, rel)
          if (!fs.exists(dest)) {
            fs.mkdirs(dest.getParent)
            if (!fs.rename(st.getPath, dest))
              throw new java.io.IOException(
                s"heal: failed to salvage '$rel' of version '$label'")
          }
        }
      }
    }
    fs.delete(old, true)
    if (mtime > 0) fs.setTimes(vDir, mtime, -1)
    fs.delete(marker, false)
  }

  /** Read-surface guard against a crashed compaction swap: a swap
    * marker whose version dir is MISSING means a killed compactor left
    * the version's only copies in hidden staging — serving the table
    * without it would be silent data loss (accumulate reads would just
    * return fewer rows). Fail loudly and name the recovery. A live
    * compactor's swap window (two renames) also passes through this
    * state for sub-millisecond — the brief retry rides that out.
    */
  private def requireNoCrashedSwap(tableDir: Path): Unit = {
    if (!fs.exists(tableDir)) return
    fs.listStatus(tableDir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(Store.SwapMarkerPrefix)) {
        val label = decodeVersion(n.stripPrefix(Store.SwapMarkerPrefix))
        val vDir = new Path(tableDir, s"$VersionCol=${encodeVersion(label)}")
        var tries = 0
        while (!fs.exists(vDir) && fs.exists(st.getPath) && tries < 5) {
          Thread.sleep(100)
          tries += 1
        }
        if (fs.exists(st.getPath) && !fs.exists(vDir))
          throw new Store.GetError(
            s"version '$label' is mid-crashed-compaction-swap (marker " +
              s"'$n' present, version dir missing): run compact(name, " +
              s"Some(\"$label\")) — it heals the swap first — before reading",
            null)
      }
    }
  }

  /** Test-only interposition point for deterministic compact/load race
    * tests (StoreSpec): invoked with "pre-swap" (compacted tmp written,
    * live dir still in place) and "mid-swap" (live dir renamed away, new
    * dir not yet in place). No-op in production.
    */
  private[graft] var compactTestHook: String => Unit = _ => ()

  /** Create the compactor-exclusion lease marker atomically
    * (create-exclusive). A lease older than [[Store.CompactLeaseTtlMs]]
    * belongs to a crashed compactor and is stolen once.
    */
  private def acquireCompactLease(tableDir: Path, label: String, name: String): (Path, String) = {
    val lease = new Path(tableDir, s".compact_lease_${encodeVersion(label)}")
    val token = java.util.UUID.randomUUID().toString
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lease, false)
        try out.write(token.getBytes(UTF_8)) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    def fail() = throw new Store.LoadError(
      s"Version '$label' of '$name' is already being compacted (lease ${lease.getName})", null)
    if (!tryCreate()) {
      val age = try System.currentTimeMillis() - fs.getFileStatus(lease).getModificationTime
      catch { case _: java.io.IOException => 0L } // vanished → racer active
      // Steal a stale lease via atomic RENAME to a stealer-unique name:
      // of N compactors that all observe age > TTL, exactly one rename
      // succeeds. (Delete-then-create is not atomic — a second stealer's
      // delete can remove the first's freshly created lease and both
      // proceed, re-enabling the double-swap the lease exists to
      // prevent.) The winner still has to win tryCreate below; losing
      // that to an even faster third party is a safe, conservative
      // failure.
      if (age <= CompactLeaseTtlMs) fail()
      val claim = new Path(tableDir,
        s".compact_lease_claim_${java.util.UUID.randomUUID().toString.take(8)}")
      val ok = try fs.rename(lease, claim) catch { case _: java.io.IOException => false }
      if (!ok) fail()
      // The rename may have captured not the stale lease but a FRESH one
      // an earlier stealer just re-created (its staleness was observed
      // before that steal completed). Verify what was captured; a fresh
      // lease goes back where it was and this compactor yields — without
      // this check two stealers both proceed and double-swap.
      val claimedAge =
        try System.currentTimeMillis() - fs.getFileStatus(claim).getModificationTime
        catch { case _: java.io.IOException => Long.MaxValue }
      if (claimedAge <= CompactLeaseTtlMs) {
        val restored = try fs.rename(claim, lease) catch { case _: java.io.IOException => false }
        if (!restored) fs.delete(claim, false)
        fail()
      }
      fs.delete(claim, false)
      if (!tryCreate()) fail()
    }
    (lease, token)
  }

  /** Re-read the lease and confirm this compactor still owns it (its
    * token is inside). Called immediately before the version-dir swap —
    * the one operation two concurrent compactors must never both reach.
    */
  private def verifyLeaseOwned(lease: Path, token: String): Unit = {
    val owned = try readSmall(lease) == token catch { case _: Exception => false }
    if (!owned)
      throw new java.io.IOException(
        s"compact lease ${lease.getName} lost (stolen by another compactor) — aborting before swap")
  }

  /** Cheap existence probe: does `name` have at least one PUBLISHED
    * version directory? One directory listing, no per-file walk — the
    * probe a per-micro-batch streaming sink can afford every trigger
    * (unlike [[history]], which walks every file of every version).
    * Deliberately ignores the `_last` pointer: a replayed batch that
    * dropped its own version may leave a dangling pointer behind.
    */
  def hasVersions(name: String): Boolean =
    versionsOf(new Path(rootPath, validateName(name))).nonEmpty

  /** Guard for TWO-table artifacts read through their `_last` pointers
    * (language models, reference shingles — any "pair saved as one
    * logical object"): consistent only when both pointers name the SAME
    * label, which saves guarantee by resolving "NOW" once and stamping
    * both tables. ONE implementation so the invariant and its diagnosis
    * cannot drift across artifact families. A mismatch means either a
    * save crashed between the pair's loads, or the artifact predates
    * paired labels (each half carries its own per-call NOW timestamp) —
    * indistinguishable from here, and both unsafe to serve silently.
    */
  def requireConsistentPair(nameA: String, nameB: String, what: String): Unit = {
    val a = lastVersion(nameA)
    val b = lastVersion(nameB)
    require(a == b,
      s"$what is torn: $nameA _last=$a, $nameB _last=$b — either a save " +
        "crashed between the pair's tables, or this artifact predates " +
        "paired labels (per-call NOW timestamps on each half). Re-save " +
        "the artifact, pass the externalKey of a known-consistent save " +
        "to read it, or — for a legacy pair the operator knows is " +
        "consistent — align the labels once with alignPairLabels")
  }

  /** Rename one version of `name` (its `__version=` subtree) from label
    * `from` to `to`, repointing `_last` if it named `from`. A pure
    * metadata move — no data files are read or rewritten; sidecars
    * (schema/stats) live inside the subtree and travel with it.
    */
  def relabelVersion(name: String, from: String, to: String): Unit = {
    require(from != to, s"relabel of '$name': from and to are both '$from'")
    val tableDir = new Path(rootPath, validateName(name))
    val fromDir = new Path(tableDir, s"$VersionCol=${encodeVersion(from)}")
    val toDir = new Path(tableDir, s"$VersionCol=${encodeVersion(to)}")
    if (!fs.exists(fromDir)) {
      // Crash-replay convergence: a prior relabel that died between the
      // dir rename and the pointer repoint leaves `_last` dangling at
      // `from` with the data already under `to` — finish the pointer
      // half instead of refusing, so re-running the migration heals it.
      if (fs.exists(toDir)) {
        if (lastVersion(name).contains(from))
          writeSmall(new Path(tableDir, LastFile), to)
        return
      }
      throw new Store.GetError(s"Version '$from' of '$name' not found", null)
    }
    require(!fs.exists(toDir),
      s"relabel of '$name': target version '$to' already exists")
    if (!fs.rename(fromDir, toDir))
      throw new java.io.IOException(s"rename $fromDir -> $toDir failed")
    if (lastVersion(name).contains(from))
      writeSmall(new Path(tableDir, LastFile), to)
  }

  /** Migration tooling for [[requireConsistentPair]]: legacy pair saves
    * (pre-r16 language models, reference shingles) stamped each half
    * with its own per-call NOW timestamp, so a genuinely consistent
    * pair fails the torn-pair guard forever. This aligns the two
    * `_last`-named versions under ONE shared label (default: the first
    * table's current label) so the artifact serves again — an explicit
    * operator action, not a silent acceptance: from here the guard
    * cannot tell a legacy pair from a torn save, and only the operator
    * knows the two halves belong together.
    */
  def alignPairLabels(
      nameA: String, nameB: String, label: Option[String] = None): Unit = {
    val target = label.orElse(lastVersion(nameA)).getOrElse(
      throw new Store.GetError(s"'$nameA' has no versions to align", null))
    Seq(nameA, nameB).foreach { n =>
      val cur = lastVersion(n).getOrElse(
        throw new Store.GetError(s"'$n' has no versions to align", null))
      if (cur != target) relabelVersion(n, cur, target)
    }
  }

  /** Newest version label from the `_last` pointer file (README.md:217),
    * falling back to the most recently written version directory.
    */
  def lastVersion(name: String): Option[String] = {
    val tableDir = new Path(rootPath, validateName(name))
    val pointer = new Path(tableDir, LastFile)
    if (fs.exists(pointer)) Some(readSmall(pointer))
    else versionsByRecency(tableDir).lastOption.map(_._1)
  }

  /** Version labels ordered oldest → newest by (dir mtime, label). */
  private def versionsByRecency(tableDir: Path): Seq[(String, Long)] =
    if (!fs.exists(tableDir)) Seq.empty
    else
      fs.listStatus(tableDir)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$VersionCol="))
        .map(st => decodeVersion(st.getPath.getName.drop(VersionCol.length + 1))
          -> st.getModificationTime)
        .sortBy { case (label, mtime) => (mtime, label) }
        .toSeq

  // ---------------------------------------------------------------- list

  /** Enumerate stored tables, optionally by name prefix. Mirrors
    * `list_dataframes` (client.py:185-215). Directory listing only unless
    * `withSizes` (then file counts/bytes are computed per table).
    *
    * The walk is a driver-side O(table dirs) recursion by design — the
    * reference's list is likewise a metadata enumeration (one DynamoDB/S3
    * listing per call, client.py:185-215), and a catalog query should not
    * cost a distributed job. It touches only directory entries plus one
    * `_meta.json` read per table; data files are never listed unless
    * `withSizes` opts in. A store with millions of TABLES (not rows)
    * would want a real catalog service; that is out of scope per
    * SURVEY.md §2.1 and the tradeoff is intentional.
    *
    * A prefix confines the walk to its own path: every table it matches
    * lies in the directory it names, so the walk descends from the root
    * through the prefix's segments only, and lists nothing else. A
    * prefix that is not a valid name (with or without one trailing "/")
    * matches no table and lists nothing.
    */
  def list(prefix: Option[String] = None, withSizes: Boolean = false): Seq[TableInfo] = {
    if (!fs.exists(rootPath)) return Seq.empty
    val prefixSegs: List[String] = prefix match {
      case None => Nil
      case Some(p) =>
        try validateName(p.stripSuffix("/")).split("/").toList
        catch { case _: IllegalArgumentException => return Seq.empty }
    }
    val tables = Seq.newBuilder[TableInfo]
    // `path` is what is left of the prefix's segments below `dir`: the
    // walk enters only the child named by its head, and every child once
    // it is empty. A directory on the way that is a table is handled as
    // in the full walk, so the result is the full walk's.
    def walk(dir: Path, rel: List[String], path: List[String]): Unit = {
      // A directory can vanish between its parent's listing and its own:
      // a table's first load has no `_meta.json` yet, so the walk enters
      // its `.staging_*` tree, which the load's committer and publish
      // delete as they finish. A vanished directory holds no table. (The
      // local filesystem reports a directory deleted mid-listing as a
      // plain IOException, hence the existence re-check.)
      val children =
        try fs.listStatus(dir)
        catch {
          case _: java.io.FileNotFoundException if rel.nonEmpty => return
          case _: java.io.IOException if rel.nonEmpty && !fs.exists(dir) => return
        }
      val isTable = children.exists(_.getPath.getName == MetaFile)
      if (isTable) {
        val name = rel.reverse.mkString("/")
        // Segment-wise prefix match: "proj/a" matches table "proj/a" and
        // "proj/a/x" but not "proj/ab" (hierarchical names, not raw
        // string prefixes). A prefix ending in "/" matches children only.
        def segMatch(p: String): Boolean =
          name == p || name.startsWith(if (p.endsWith("/")) p else p + "/")
        if (prefix.forall(segMatch)) {
          // File stats are opt-in: recursing every data file turns a
          // cheap metadata listing into O(total files) of LIST calls on
          // a large store.
          val (nFiles, bytes) = if (withSizes) dataFileStats(dir) else (0L, 0L)
          tables += TableInfo(
            name = name,
            versions = versionsOf(dir).sorted,
            lastVersion = {
              val p = new Path(dir, LastFile)
              if (fs.exists(p)) Some(readSmall(p)) else None
            },
            columnsKeys = parseMeta(readSmall(new Path(dir, MetaFile))),
            numFiles = nFiles,
            sizeBytes = bytes)
        }
      } else {
        children.filter(_.isDirectory)
          // In-flight clone staging dirs are not tables yet.
          .filterNot(_.getPath.getName.contains(Store.TmpCloneInfix))
          .filter(st => path.isEmpty || st.getPath.getName == path.head)
          .foreach { st =>
            walk(st.getPath, st.getPath.getName :: rel, path.drop(1))
          }
      }
    }
    try {
      walk(rootPath, Nil, prefixSegs)
    } catch {
      case e: Exception =>
        throw new Store.ListError(s"Error listing DataFrames: ${e.getMessage}", e)
    }
    tables.result().sortBy(_.name)
  }

  /** listStatus-recursion walk over every FILE under `dir`. Always
    * prefer this over `listFiles(recursive)` on metadata paths: the
    * latter's `LocatedFileStatus` entries load permissions eagerly,
    * which on the local filesystem forks an `ls` subprocess per entry
    * (see [[mergeMove]]); `listStatus` defers them and these walks never
    * ask.
    */
  private def walkFiles(dir: Path)(f: org.apache.hadoop.fs.FileStatus => Unit): Unit =
    fs.listStatus(dir).foreach { st =>
      if (st.isDirectory) walkFiles(st.getPath)(f) else f(st)
    }

  /** Recursive (files, bytes) under a table dir — listing only. */
  private def dataFileStats(dir: Path): (Long, Long) = {
    var n = 0L
    var b = 0L
    walkFiles(dir) { st =>
      if (!st.getPath.getName.startsWith("_")) { n += 1; b += st.getLen }
    }
    (n, b)
  }

  /** Delete a stored table (test/housekeeping helper; no reference analog). */
  def drop(name: String): Boolean =
    fs.delete(new Path(rootPath, validateName(name)), true)

  /** Clone a table: copy every version subtree, schema sidecar, merge
    * marker, and the `_last` pointer under a new name — the
    * "zero-risk branch" a pipeline takes before a risky backfill:
    * writes to either name never touch the other, and the clone reads
    * with full version semantics (accumulate / `use_last` / rollback)
    * frozen at clone time. Plain file copy by design: parquet data
    * files are immutable once published, so there is no shared mutable
    * state to reason about. The copy runs as ONE SPARK JOB over the
    * file list (the distcp shape) — a 100 TB clone moves with cluster
    * bandwidth, not driver bandwidth, and on object stores each task's
    * copy is server-side. Fails if the target exists (a clone never
    * silently merges).
    *
    * CRASH-SAFE PUBLISH (r10, closing the r9 advice): files copy into
    * a hidden temp sibling (`<asName>._tmp-clone-<uuid>`, skipped by
    * [[list]]'s walk and unreachable through [[get]]'s name space), and
    * the target name appears only via one directory rename at the end —
    * readers can never observe a partial clone (in particular, the tiny
    * `_last` pointer can no longer land before data files), and a retry
    * after a mid-copy crash first sweeps any stale temp for this target
    * instead of tripping over it. The rename is atomic on HDFS/POSIX;
    * an object-store deployment substitutes its native atomic-publish
    * primitive (manifest commit) at exactly this one seam.
    */
  def clone(name: String, asName: String): Unit = {
    val src = new Path(rootPath, validateName(name))
    val dst = new Path(rootPath, validateName(asName))
    if (!fs.exists(src))
      throw new Store.GetError(s"DataFrame '$name' not found under $root", null)
    if (fs.exists(dst))
      throw new Store.LoadError(s"DataFrame '$asName' already exists", null)
    assertNoTableNesting(validateName(asName), dst)
    // Sweep stale temps from earlier CRASHED clones of this target —
    // but only temps whose newest file is older than the staleness
    // threshold. A concurrent IN-FLIGHT clone of the same target also
    // matches the name prefix, and deleting its live staging dir would
    // drop files it already copied, letting it later publish a PARTIAL
    // table; an active copy job keeps creating files, so its newest
    // mtime stays fresh, while a crashed job's temp goes stale. (A
    // deployment whose single-file copies can exceed the threshold
    // should raise `cloneStaleTempMs` accordingly.)
    val parent = dst.getParent
    val now = System.currentTimeMillis()
    if (fs.exists(parent))
      fs.listStatus(parent).foreach { st =>
        if (st.isDirectory &&
            st.getPath.getName.startsWith(dst.getName + Store.TmpCloneInfix)) {
          var newest = st.getModificationTime
          walkFiles(st.getPath)(f => newest = math.max(newest, f.getModificationTime))
          if (now - newest > cloneStaleTempMs) fs.delete(st.getPath, true)
        }
      }
    val tmp = new Path(parent, dst.getName + Store.TmpCloneInfix +
      java.util.UUID.randomUUID().toString.take(8))
    // Qualify both roots: walkFiles returns scheme-qualified paths
    // (file:/...), and the relative strip must match that exact form.
    val srcStr = fs.makeQualified(src).toString
    val rels = scala.collection.mutable.ArrayBuffer.empty[String]
    walkFiles(src) { st =>
      val p = st.getPath.toString
      require(p.startsWith(srcStr + "/"), s"unexpected path $p outside $srcStr")
      rels += p.stripPrefix(srcStr + "/")
    }
    val tmpStr = fs.makeQualified(tmp).toString
    val sc = spark.sparkContext
    val confB = org.apache.spark.graft.ConfBridge.broadcast(
      sc, sc.hadoopConfiguration)
    val slices = math.max(1, math.min(rels.size, sc.defaultParallelism * 2))
    try {
      sc.parallelize(rels.toSeq, slices).foreach { rel =>
        val c = confB.value.value
        val s = new Path(s"$srcStr/$rel")
        val d = new Path(s"$tmpStr/$rel")
        if (!org.apache.hadoop.fs.FileUtil.copy(
            s.getFileSystem(c), s, d.getFileSystem(c), d, false, c))
          throw new java.io.IOException(s"clone copy failed for $rel")
      }
      // Rename-semantics-aware commit: on HDFS, rename(tmp, dst) with
      // dst already present moves tmp INSIDE dst (returning true)
      // rather than failing, so "rename returned false" is NOT a
      // reliable lost-race signal across filesystems. Check-then-rename
      // narrows the window; the post-rename nesting check closes it —
      // if dst/<tmp.name> exists, the FS nested our temp inside a
      // concurrently published dst, and we must undo that pollution and
      // report the lost race instead of leaving a foreign subtree in
      // the winner's table.
      if (fs.exists(dst))
        throw new Store.LoadError(
          s"DataFrame '$asName' already exists (clone publish lost the race)",
          null)
      val renamed = fs.rename(tmp, dst)
      val nested = new Path(dst, tmp.getName)
      if (renamed && fs.exists(nested)) {
        try fs.delete(nested, true) catch { case _: Exception => () }
        throw new Store.LoadError(
          s"DataFrame '$asName' already exists (clone publish lost the race)",
          null)
      }
      if (!renamed)
        throw new Store.LoadError(
          s"DataFrame '$asName' already exists (clone publish lost the race)",
          null)
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, true) catch { case _: Exception => () }
        throw e
    }
  }

  /** Delete one version's subtree, if present. Idempotent — the replay
    * guard for exactly-once streaming ingest (see
    * [[graft.streaming.EventStreams.writeToStore]]): a micro-batch that
    * re-runs after a crash first drops its own batch-keyed version, so
    * re-writing it cannot double rows.
    */
  def dropVersion(name: String, label: String): Boolean = {
    val tableDir = new Path(rootPath, validateName(name))
    fs.delete(new Path(tableDir, s"$VersionCol=${encodeVersion(label)}"), true)
  }

  /** At-rest-compat export: gzip CSV chunks of ≤`maxRecords` rows
    * (README.md:20-21's `chunk_uuid.csv.gz`, 100K rows/chunk). The store
    * itself stays Parquet; this is the interchange path for reference-era
    * consumers.
    */
  def exportCsvGz(
      name: String,
      outDir: String,
      externalKey: Option[String] = None,
      useLast: Boolean = false,
      maxRecords: Long = 100000L): Unit =
    get(name, externalKey, useLast).write
      .option("compression", "gzip")
      .option("header", "true")
      .option("maxRecordsPerFile", maxRecords)
      .mode(SaveMode.Overwrite)
      .csv(outDir)

  /** Re-import a gzip-CSV export (schema re-inferred, like the
    * reference's JSON wire — lossy by design on the compat path).
    */
  def importCsvGz(dir: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(dir)

  /** Columnar ORC export with the same version-selection semantics as
    * [[get]] and the same 100K-row chunking contract as the gzip-CSV
    * path. Where CSV is the reference's lossy wire-compat format, ORC
    * is the TYPE-PRESERVING interchange path for ORC-native warehouses
    * (Hive/Trino): schema travels in file metadata, so [[importOrc]]
    * reads back bit-identical columns with no inference step.
    */
  def exportOrc(
      name: String,
      outDir: String,
      externalKey: Option[String] = None,
      useLast: Boolean = false,
      maxRecords: Long = 100000L): Unit =
    get(name, externalKey, useLast).write
      .option("maxRecordsPerFile", maxRecords)
      .mode(SaveMode.Overwrite)
      .orc(outDir)

  /** Re-import an ORC export (schema from ORC metadata — lossless). */
  def importOrc(dir: String): DataFrame = spark.read.orc(dir)

  // ------------------------------------------------------------- helpers

  /** A table may not live inside another table's directory (reading the
    * parent would hit conflicting partition layouts and listing would
    * hide the child), nor may it contain an existing table.
    */
  private def assertNoTableNesting(relPath: String, tableDir: Path): Unit = {
    val segs = relPath.split("/")
    segs.init.inits.toSeq.init.foreach { ancestor =>
      val p = new Path(rootPath, ancestor.mkString("/"))
      if (fs.exists(new Path(p, MetaFile)))
        throw new IllegalArgumentException(
          s"Cannot store '$relPath' inside existing DataFrame '${ancestor.mkString("/")}'")
    }
    if (fs.exists(tableDir) && !fs.exists(new Path(tableDir, MetaFile))) {
      walkFiles(tableDir) { st =>
        if (st.getPath.getName == MetaFile)
          throw new IllegalArgumentException(
            s"Cannot store '$relPath': it would contain the existing DataFrame at '${st.getPath.getParent}'")
      }
    }
  }

  private def versionsOf(tableDir: Path): Seq[String] =
    if (!fs.exists(tableDir)) Seq.empty
    else
      fs.listStatus(tableDir)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$VersionCol="))
        .map(st => decodeVersion(st.getPath.getName.drop(VersionCol.length + 1)))
        .toSeq

  /** Move every staged data file into the live table tree, preserving
    * relative layout. Per-file renames: directories are created as
    * needed and each file keeps its task-UUID-unique name, so merges
    * from concurrent loads interleave without clobbering and a reader
    * never observes a torn file (rename is atomic per file). Committer
    * markers (`_SUCCESS`) stay behind and die with the staging dir.
    *
    * Walks with `listStatus` recursion, NOT `listFiles(recursive)`:
    * the latter materializes `LocatedFileStatus` entries whose
    * permissions load EAGERLY — on the local filesystem that forks an
    * `ls` subprocess per entry (~13ms each; profiled at 4.9s of a 366-dir
    * date-keyed load, the same disease `FastLocalFileSystem` cures on
    * the write side). `listStatus` defers permission loading and this
    * walk never asks for it.
    */
  private[store] def mergeMove(stagingDir: Path, destDir: Path): Unit = {
    val base = fs.makeQualified(stagingDir).toString
    // Track moved files so a mid-merge failure (disk full, permissions)
    // rolls the already-published files back out — a half-merged version
    // must not become visible to accumulate/externalKey readers. File
    // names are load-unique, so the rollback deletes only this load's
    // files even when appending into an existing version.
    val moved = scala.collection.mutable.ArrayBuffer.empty[Path]
    def moveOne(st: org.apache.hadoop.fs.FileStatus): Unit = {
      val rel = st.getPath.toString.stripPrefix(base).stripPrefix("/")
      val dest = new Path(destDir, rel)
      fs.mkdirs(dest.getParent)
      // Retry through a concurrent compact's sub-second swap window:
      // the version dir (dest's parent) can vanish between mkdirs
      // and rename while the compactor's two renames are in flight.
      // Re-mkdirs + retry lands the file in the NEW subtree; without
      // the retry, a publish racing a compact swap would fail.
      // A second merge delta into the SAME version label stages a marker
      // the version already publishes. When the contents AGREE the
      // staged copy is redundant — drop it and KEEP the published one.
      // Never delete-then-replace the live marker: a crash between the
      // two would leave delta-1's data reading as a plain append (the
      // exact window the staged-marker design closes), and the published
      // marker must also never join the rollback list (it predates this
      // load). Data files never collide (task-UUID-unique names).
      // Contents CAN disagree despite merge()'s precheck: the check is
      // check-then-act (two concurrent merges to one explicit label can
      // both pass before either publishes) and NowKey labels skip it
      // entirely (two merges colliding at millisecond resolution).
      // Silently discarding a DIFFERING staged marker would rewrite this
      // delta's tombstone semantics to the winner's — fail instead; the
      // catch below rolls this load's already-moved files back out.
      if (dest.getName == MergeFile && fs.exists(dest)) {
        val staged = readSmall(st.getPath)
        val published = readSmall(dest)
        if (staged != published)
          throw new java.io.IOException(
            s"merge marker conflict in version '${dest.getParent.getName}': " +
              s"a concurrent merge published $published but this load staged $staged " +
              "(same version label, different merge keys or delete column)")
        fs.delete(st.getPath, false)
      } else {
        var ok = fs.rename(st.getPath, dest)
        var tries = 0
        while (!ok && tries < 50) {
          Thread.sleep(20)
          fs.mkdirs(dest.getParent)
          ok = fs.rename(st.getPath, dest)
          tries += 1
        }
        if (!ok)
          throw new java.io.IOException(s"failed to move staged file '$rel'")
        moved += dest
      }
    }
    def isStagedSidecar(name: String): Boolean =
      name.startsWith(SchemaFilePrefix) || name.startsWith(StatsFilePrefix) ||
        name == MergeFile
    // Two passes, sidecars FIRST: a crash mid-merge then leaves schema/
    // stats records without their data files (harmless superset) instead
    // of data files whose columns no sidecar records (sidecarSchema only
    // falls back to mergeSchema when a version has ZERO sidecars, so
    // unrecorded columns would silently vanish from reads).
    def walk(dir: Path, sidecars: Boolean): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) walk(st.getPath, sidecars)
        else if (sidecars && isStagedSidecar(name)) moveOne(st)
        else if (!sidecars && !name.startsWith("_") && !name.startsWith(".")) moveOne(st)
      }
    try { walk(stagingDir, sidecars = true); walk(stagingDir, sidecars = false) }
    catch {
      case e: Exception =>
        moved.foreach(p => try fs.delete(p, false) catch { case _: Exception => () })
        throw e
    }
    fs.delete(stagingDir, true)
  }

  /** Atomic small-file publish: write a hidden temp name, rename over
    * the target. A concurrent reader of `_last` sees either the old or
    * the new pointer — never a torn or empty file. (The rename-refused
    * fallback covers filesystems that won't rename onto an existing
    * file: delete-then-rename leaves a tiny not-exists window but still
    * never partial content.)
    */
  private def writeSmall(p: Path, content: String): Unit = {
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(UTF_8))
    finally out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(p, false)
      if (!fs.rename(tmp, p)) {
        fs.delete(tmp, false)
        throw new java.io.IOException(s"failed to publish '${p.getName}'")
      }
    }
  }

  private def readSmall(p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      bytes.toString(UTF_8)
    } finally in.close()
  }
}

object Store {

  /** Domain errors mirroring the reference's normalized error surface
    * (client.py:132-137, 178-183, 210-215). Validation failures stay
    * IllegalArgumentException (the ValueError analog, client.py:98-110);
    * these wrap I/O-layer causes. GetError extends NoSuchElementException
    * so lookup-miss call sites can catch either.
    */
  final class LoadError(msg: String, cause: Throwable) extends RuntimeException(msg, cause)
  final class GetError(msg: String, cause: Throwable) extends NoSuchElementException(msg) {
    if (cause != null) initCause(cause)
  }
  final class ListError(msg: String, cause: Throwable) extends RuntimeException(msg, cause)

  /** One row of [[Store.history]]. */
  final case class VersionInfo(
      label: String,
      modifiedMs: Long,
      numFiles: Long,
      sizeBytes: Long,
      isMerge: Boolean,
      mergeKeys: Seq[String],
      isLast: Boolean)

  val KeyDate = "Date"
  val KeyId = "ID"
  val NowKey = "NOW"

  /** Target bytes per data file for UNPARTITIONED loads (guide §6:
    * output files in the 128 MB–1 GB range). The divisor is the
    * optimizer's in-memory sizeInBytes estimate — typically 2–4× the
    * parquet-at-rest size — so actual files land comfortably under the
    * target rather than over it.
    */
  val LoadTargetFileBytes: Long = 128L * 1024 * 1024
  val VersionCol = "__version"
  val InternalPrefix = "__"
  val LastFile = "_last"
  val MetaFile = "_meta.json"

  /** Hidden-staging marker for [[Store.clone]]'s crash-safe publish:
    * `<asName>._tmp-clone-<uuid>` siblings hold the in-flight copy and
    * are invisible to [[Store.list]] until the final atomic rename.
    */
  val TmpCloneInfix = "._tmp-clone-"

  /** Per-version merge-delta marker (inside the version dir): records the
    * merge key columns and optional tombstone column. Underscore-prefixed
    * so partition discovery and data-file walks skip it.
    */
  val MergeFile = "_merge.json"

  /** Per-load schema sidecar name prefix (one `_schema_<uuid>.json` per
    * load inside its version dir); underscore-prefixed so partition
    * discovery and data-file walks skip them.
    */
  val SchemaFilePrefix = "_schema_"

  /** Per-load file-statistics sidecar prefix (`_stats_<uuid>.tsv` inside
    * the version dir — see [[FileStats]]); underscore-prefixed so
    * partition discovery and data-file walks skip them.
    */
  val StatsFilePrefix = "_stats_"

  /** Compact-lease staleness horizon: a `.compact_lease_*` marker older
    * than this belongs to a crashed compactor and may be stolen.
    */
  val CompactLeaseTtlMs: Long = 60L * 60 * 1000

  /** Compaction swap-recovery marker: `.compact_swap_<encodedLabel>` in
    * the table dir, present exactly while a swap may be (or may have
    * been, across a crash) in flight. See `healCompactSwap`.
    */
  private[store] val SwapMarkerPrefix = ".compact_swap_"
  private val NowFormat = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmssSSS")

  def partColName(c: String): String = s"__p_$c"

  /** `v_` prefix + URL-encoding pins the partition value to STRING under
    * partition-column type inference and keeps labels path-safe.
    */
  def encodeVersion(label: String): String =
    "v_" + URLEncoder.encode(label, UTF_8)

  def decodeVersion(dirValue: String): String =
    URLDecoder.decode(dirValue.stripPrefix("v_"), UTF_8)

  /** Hierarchical names are slash-separated (client.py:18, README.md:66-72);
    * interpolated into paths, so sanitize hard (SURVEY.md §7.4).
    */
  def validateName(name: String): String = {
    require(name != null && name.nonEmpty, "DataFrame name must be non-empty")
    val segs = name.split("/", -1)
    require(
      segs.forall(s => s.nonEmpty && s.matches("[A-Za-z0-9._-]+") && s != "." && s != ".."),
      s"Invalid DataFrame name '$name': segments must match [A-Za-z0-9._-]+ and not be '.'/'..'")
    // The clone staging marker is reserved: a user table carrying it
    // would be invisible to list() (whose walk skips in-flight clones)
    // and collide with crash-retry temp sweeps.
    require(!segs.exists(_.contains(TmpCloneInfix)),
      s"Invalid DataFrame name '$name': '$TmpCloneInfix' is reserved for clone staging")
    segs.mkString("/")
  }

  private def metaJson(keys: Map[String, String]): String =
    keys.toSeq.sortBy(_._1)
      .map { case (c, t) => s""""${c}":"${t}"""" }
      .mkString("{", ",", "}")

  private[store] def parseMeta(json: String): Map[String, String] = {
    val Pair = """"([^"]+)":"([^"]+)"""".r
    Pair.findAllMatchIn(json).map(m => m.group(1) -> m.group(2)).toMap
  }
}
