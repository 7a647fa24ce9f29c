package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.store.{FileStats, Store}

/** File-level data skipping ([[graft.store.FileStats]]): per-load
  * min/max sidecars hoisted from parquet footers at write time,
  * driver-side file selection at read time, and Z-ordered compaction as
  * the layout step that makes skipping effective on multiple columns at
  * once.
  */
class StoreStatsSpec extends SparkSpec {

  private def freshStore(): (Store, String) = {
    val dir = TempDirs.create("graft_stats_")
    (new Store(spark, dir), dir)
  }

  private def vDir(root: String, name: String, label: String): Path =
    new Path(new Path(root, name), s"${Store.VersionCol}=${Store.encodeVersion(label)}")

  /** Footer-statistics dump for flake diagnosis: a full-suite run has
    * once (r7, unreproduced since) hit missing sidecars / zero pruning,
    * whose only possible cause is written files lacking usable footer
    * stats ([[FileStats.fileRanges]] makes such columns range-unknown
    * and [[Store]] skips empty sidecars). If that ever recurs, the
    * failure message must capture WHAT the footers actually held.
    */
  private def footerDiag(dir: Path): String = {
    import scala.jdk.CollectionConverters._
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st) else Nil
    files(fs.getFileStatus(dir)).map { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
          st, spark.sparkContext.hadoopConfiguration))
      try {
        val blocks = r.getFooter.getBlocks.asScala.map { b =>
          b.getColumns.asScala.map { c =>
            val s = c.getStatistics
            s"${c.getPath.toDotString}{empty=${s == null || s.isEmpty}," +
              s"nulls=${if (s == null) "?" else s.getNumNulls}," +
              s"nonNull=${s != null && s.hasNonNullValue}}"
          }.mkString(s"rows=${b.getRowCount}[", " ", "]")
        }
        s"${st.getPath.getName}: ${blocks.mkString("; ")}"
      } finally r.close()
    }.mkString("\n")
  }

  test("loads with statsCols write sidecars; disjoint ranges skip files") {
    import spark.implicits._
    val (store, root) = freshStore()
    // Three appends with disjoint id ranges -> three file sets whose
    // ranges cannot overlap.
    (0 until 3).foreach { i =>
      store.load(
        (0 until 100).map(j => (i * 1000L + j, s"p$i")).toDF("id", "payload")
          .repartition(2),
        "t", externalKey = "v1", statsCols = Seq("id", "payload"))
    }
    val (kept, total) = store.prunedDataFiles(
      Seq(vDir(root, "t", "v1")), "id", 1000L, 1099L)
    // fail() keeps the footer walk off the passing path (assert's clue
    // argument is evaluated EAGERLY) — the diagnostic must only run,
    // and only be able to throw, when the assertion already failed.
    if (!(total == 6 && kept.size == 2))
      fail(s"kept ${kept.size} of $total\n${footerDiag(vDir(root, "t", "v1"))}")
    // String column skipping works off binary stats.
    val (keptS, _) = store.prunedDataFiles(
      Seq(vDir(root, "t", "v1")), "payload", "p2", "p2")
    assert(keptS.size == 2)
    // And the pruned read returns exactly the predicate rows.
    val got = store.getStatsPruned("t", "id", 1000L, 1099L, externalKey = Some("v1"))
    assert(got.count() == 100L)
    assert(got.agg(min("id"), max("id")).head() == org.apache.spark.sql.Row(1000L, 1099L))
  }

  test("getStatsPruned == get().where(between) including files without stats") {
    import spark.implicits._
    val (store, root) = freshStore()
    store.load((0L to 499L).map(j => (j, j % 7)).toDF("id", "m"),
      "t", externalKey = "v1", statsCols = Seq("id"))
    // A second load WITHOUT stats: its files must never be skipped.
    store.load((500L to 999L).map(j => (j, j % 7)).toDF("id", "m"),
      "t", externalKey = "v1")
    val pruned = store.getStatsPruned("t", "id", 400L, 600L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val full = store.get("t").where(col("id").between(400L, 600L))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(pruned == full && pruned.size == 201)
    // Out-of-range predicate on the stats-covered half: its files skip,
    // the statless files still scan, result stays exact (empty).
    assert(store.getStatsPruned("t", "id", 5000L, 6000L).count() == 0L)
  }

  test("stats-disabled parquet (foreign writer) records no range — never skipped") {
    import spark.implicits._
    val dir = TempDirs.create("graft_nostats_")
    // parquet-mr honors this write option: populated row groups get an
    // EMPTY Statistics object — indistinguishable from a 0-value group by
    // isEmpty alone. Such files must read as range-unknown (always
    // scanned), not as zero-value groups (silently skipped).
    (0L to 99L).map(j => (j, s"r$j")).toDF("id", "payload")
      .coalesce(1).write
      .option("parquet.column.statistics.enabled", "false")
      .parquet(s"$dir/t")
    val p = new Path(s"$dir/t")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val collected = FileStats.collect(
      fs, spark.sparkContext.hadoopConfiguration, p, Seq("id", "payload"))
    assert(collected.nonEmpty)
    collected.foreach { case (rel, ranges) =>
      assert(ranges.isEmpty, s"expected no ranges for stats-less file $rel, got $ranges")
    }
  }

  test("compact(zorderBy) yields per-file tight ranges on BOTH columns") {
    import spark.implicits._
    val (store, root) = freshStore()
    // A uniform 2-d grid, loaded in row-major slices: before z-ordering,
    // x ranges are tight per file but y spans the whole domain in every
    // file. 64 files of 256 rows.
    val rows = for (x <- 0 until 128; y <- 0 until 128) yield (x.toLong, y.toLong)
    store.load(rows.toDF("x", "y").repartitionByRange(64, col("x")),
      "g", externalKey = "v1", statsCols = Seq("x", "y"))
    val dir = Seq(vDir(root, "g", "v1"))
    val (keptY0, total0) = store.prunedDataFiles(dir, "y", 0L, 7L)
    assert(total0 == 64 && keptY0.size == total0, "pre-zorder y-skipping should be impossible")

    // Small target size: the point is MANY tight-range files (the
    // default 128 MB target would legitimately coalesce this toy grid
    // into one file and there would be nothing to skip). 2 KB (not the
    // 8 KB this test ran with through r7): the ~96 KB input then cuts
    // into ~48 z-range slices instead of ~12. At 12, the ½-ratio gates
    // below sat EXACTLY at their pass/fail edge (kept 6 vs 7 of 12) and
    // repartitionByRange's sample-based slice boundaries — seeded by the
    // per-run RDD id — decided the outcome: the suite's one
    // long-unreproducible flake (r7, and once in the r8 full suite:
    // "14 was not less than or equal to 12"). With ~48 files each
    // 8-wide band fragment spans 1–2 files and kept lands ≈ 16–24 —
    // the same property, graded off the knife edge.
    store.compact("g", targetFileBytes = 2L * 1024, zorderBy = Seq("x", "y"))
    val (keptX, totalZ) = store.prunedDataFiles(dir, "x", 0L, 7L)
    val (keptY, _) = store.prunedDataFiles(dir, "y", 0L, 7L)
    assert(totalZ > 8, s"need multiple output files, got $totalZ")
    assert(keptX.size * 2 <= totalZ, s"x-skipping weak: ${keptX.size} of $totalZ")
    assert(keptY.size * 2 <= totalZ, s"y-skipping weak: ${keptY.size} of $totalZ")
    // Content still exact after the z-order rewrite.
    val got = store.getStatsPruned("g", "y", 0L, 7L, externalKey = Some("v1"))
    assert(got.count() == 128L * 8)
    assert(got.where(col("y") > 7L).count() == 0L)
  }

  test("zorder compact preserves partitioned layout and content") {
    import spark.implicits._
    val (store, root) = freshStore()
    val df = (0 until 2000).map(i => (i.toLong, (i % 4).toLong, i % 10))
      .toDF("id", "part", "v")
    store.load(df, "p", Map("part" -> Store.KeyId), externalKey = "v1",
      statsCols = Seq("id"))
    store.compact("p", zorderBy = Seq("id", "v"))
    val back = store.get("p", externalKey = Some("v1"))
    assert(back.count() == 2000L)
    assert(back.columns.sorted.toSeq == Seq("id", "part", "v"))
    assert(back.agg(sum("id")).head().getLong(0) == (0L until 2000L).sum)
    // Partition dirs survived the rewrite.
    val parts = store.getPartitioned("p", externalKey = Some("v1"))
    assert(parts.columns.contains(Store.partColName("part")))
  }

  test("a racing load's stats sidecar survives compact salvage; stale ones die") {
    import spark.implicits._
    val (store, root) = freshStore()
    store.load((0L to 99L).map(j => (j, "a")).toDF("id", "s"),
      "t", externalKey = "v1", statsCols = Seq("id"))
    val dir = vDir(root, "t", "v1")
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def statsFiles() = fsys.listStatus(dir)
      .map(_.getPath.getName).filter(_.startsWith(Store.StatsFilePrefix)).toSet
    val stale = statsFiles()
    if (stale.size != 1) fail(s"no sidecar after load\n${footerDiag(dir)}")
    // Compact swaps in a rewrite; the pre-compact sidecar references
    // dead file names and must be gone, REPLACED by one recomputed from
    // the rewritten footers (same tracked columns).
    store.compact("t")
    val fresh = statsFiles()
    if (!(fresh.size == 1 && (fresh & stale).isEmpty))
      fail(s"expected one fresh sidecar, got $fresh (stale was $stale)\n${footerDiag(dir)}")
    // With zorder, a fresh sidecar lands atomically with the swap and
    // pruning works off the compacted layout.
    store.load((100L to 199L).map(j => (j, "b")).toDF("id", "s"),
      "t", externalKey = "v1", statsCols = Seq("id"))
    store.compact("t", zorderBy = Seq("id"))
    assert(statsFiles().size == 1)
    val (kept, total) = store.prunedDataFiles(Seq(dir), "id", 0L, 10L)
    assert(kept.size <= total)
    assert(store.getStatsPruned("t", "id", 0L, 199L).count() == 200L)
  }

  test("qs08 shape: z-ordered orders skip files for the graded custkey range") {
    val (store, root) = freshStore()
    val orders = Tables.read(spark, sf("sf0.01"), "orders")
    (0 until 3).foreach { i =>
      store.load(orders.where(pmod(col("o_orderkey"), lit(3)) === i),
        "tpch/orders_z", externalKey = "v1",
        statsCols = Seq("o_custkey", "o_totalprice"))
    }
    // 8 KB target: sf0.01 orders is ~0.5 MB — enough files (~30+) for
    // Morton-tile skipping bounds to dominate boundary effects (at 9
    // files a thin slab still touches most z-blocks). The graded query's
    // 256 KB target gives a similar layout at the bench's sf0.1.
    store.compact("tpch/orders_z", targetFileBytes = 8L * 1024,
      zorderBy = Seq("o_custkey", "o_totalprice"))
    val dir = Seq(vDir(root, "tpch/orders_z", "v1"))
    // The graded qs08 predicate covers ~27% of the custkey domain
    // [1, 1500]: with ~9 2-d Morton tiles some skipping must happen; a
    // NARROW band (7% of the domain) must skip at least half — tile
    // geometry, not luck (each file owns a contiguous z-range).
    val (kept, total) = store.prunedDataFiles(dir, "o_custkey", 100L, 500L)
    val (keptNarrow, _) = store.prunedDataFiles(dir, "o_custkey", 100L, 200L)
    info(s"qs08 skipping: kept ${kept.size} of $total files; narrow ${keptNarrow.size}")
    assert(total >= 8, s"compaction produced too few files to skip ($total)")
    assert(kept.size < total, s"no skipping at all: ${kept.size} of $total")
    assert(keptNarrow.size * 2 <= total, s"narrow band skipped too little: ${keptNarrow.size} of $total")
    // And on the second z-dimension too.
    val (keptP, _) = store.prunedDataFiles(dir, "o_totalprice", 0d, 50000d)
    assert(keptP.size < total)
  }

  test("plain compact (no zorder) recomputes stats for previously tracked columns") {
    import spark.implicits._
    val (store, root) = freshStore()
    (0 until 3).foreach { i =>
      store.load((0 until 50).map(j => (i * 1000L + j, i.toDouble)).toDF("id", "v"),
        "t", externalKey = "v1", statsCols = Seq("id"))
    }
    store.compact("t") // routine small-file cleanup, no zorderBy
    val dir = Seq(vDir(root, "t", "v1"))
    val fsys = dir.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsys.listStatus(dir.head)
      .exists(_.getPath.getName.startsWith(Store.StatsFilePrefix)),
      "compaction must re-derive the sidecar it invalidated")
    // Skipping still works off the fresh sidecar (single compacted file
    // set -> at minimum the out-of-range predicate skips everything).
    val (keptNone, totalC) = store.prunedDataFiles(dir, "id", 90000L, 99000L)
    assert(totalC >= 1 && keptNone.isEmpty)
    assert(store.getStatsPruned("t", "id", 0L, 5000L).count() == 150L)
  }

  test("string skipping orders by UTF-8 bytes (supplementary plane vs U+E000)") {
    import spark.implicits._
    val (store, root) = freshStore()
    // One file holding {U+E000, U+1F600}: parquet min=U+E000, max=emoji
    // in UTF-8 order. UTF-16 comparison would call max < U+E000 and
    // wrongly skip the file for an exact U+E000 probe.
    store.load(Seq(("", 1L), ("😀", 2L)).toDF("s", "id").coalesce(1),
      "t", externalKey = "v1", statsCols = Seq("s"))
    val (kept, total) = store.prunedDataFiles(
      Seq(vDir(root, "t", "v1")), "s", "", "")
    assert(total == 1 && kept.size == 1, "file with a matching row was skipped")
    assert(store.getStatsPruned("t", "s", "", "").count() == 1L)
  }

  test("FileStats round-trip: encode/parse and range intersection") {
    val r = FileStats.ColRange("l", "10", "20")
    assert(r.intersects(15L, 30L) && r.intersects(0L, 10L) && !r.intersects(21L, 99L))
    assert(r.intersects("not-a-long", "also-not")) // mistyped -> never skip
    val d = FileStats.ColRange("d", "1.5", "2.5")
    assert(d.intersects(2.0, 9.0) && !d.intersects(2.6, 9.0))
    val s = FileStats.ColRange("s", "apple", "mango")
    assert(s.intersects("banana", "zebra") && !s.intersects("nectarine", "zebra"))
    val enc = FileStats.encode(Seq(
      "p=1/f.parquet" -> Map("a\tweird col" -> FileStats.ColRange("s", "x\ny", "z"))))
    val parsed = FileStats.parse(enc)
    assert(parsed("p=1/f.parquet")("a\tweird col") == FileStats.ColRange("s", "x\ny", "z"))
  }
}
