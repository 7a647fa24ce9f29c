package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.store.Store

/** Property tests (SURVEY.md §5.3): store round-trip is identity, version
  * accumulation is additive, keep_last is idempotent — over randomly
  * generated frames and key configurations.
  */
object StorePropSpec extends Properties("Store") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSpec.session
  import org.apache.spark.sql.functions.col

  private val genRow: Gen[(Long, String, Double, String)] = for {
    id <- Gen.choose(0L, 5000L)
    date <- Gen.oneOf("2024-01-01", "2024-01-02", "2024-02-15", "2024-03-31", "2024-12-31")
    value <- Gen.choose(-1000000L, 1000000L).map(_ / 100.0)
    tag <- Gen.alphaNumStr.map(_.take(8))
  } yield (id, date, value, tag)

  private val genFrame: Gen[Seq[(Long, String, Double, String)]] =
    Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, genRow))

  private val genKeys: Gen[Map[String, String]] = Gen.oneOf(
    Map.empty[String, String],
    Map("id" -> Store.KeyId),
    Map("date" -> Store.KeyDate),
    Map("date" -> Store.KeyDate, "id" -> Store.KeyId))

  private def toDf(rows: Seq[(Long, String, Double, String)]) = {
    import spark.implicits._
    rows.toDF("id", "date", "value", "tag")
  }

  private def freshStore() =
    new Store(spark, TempDirs.create("graft_prop_"))

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id"), col("date"), col("value"), col("tag"))
      .collect().map(_.toSeq).sortBy(_.toString())

  property("write-read round trip is identity") =
    Prop.forAllNoShrink(genFrame, genKeys) { (rows, keys) =>
      val store = freshStore()
      val df = toDf(rows)
      store.load(df, "p/t", keys, externalKey = "v1")
      canon(store.get("p/t", useLast = true)).sameElements(canon(df))
    }

  property("version accumulation is additive") =
    Prop.forAllNoShrink(genFrame, Gen.chooseNum(1, 3)) { (rows, k) =>
      val store = freshStore()
      val df = toDf(rows)
      (1 to k).foreach(i => store.load(df, "p/t", externalKey = s"v$i"))
      store.get("p/t").count() == rows.size.toLong * k
    }

  property("keep_last load is idempotent") =
    Prop.forAllNoShrink(genFrame) { rows =>
      val store = freshStore()
      val df = toDf(rows)
      store.load(df, "p/t", externalKey = "a")
      store.load(df, "p/t", externalKey = "b", keepLast = true)
      store.load(df, "p/t", externalKey = "c", keepLast = true)
      canon(store.get("p/t")).sameElements(canon(df)) &&
        store.lastVersion("p/t").contains("c")
    }

  property("schema evolution: accumulate unions by name with nulls; per-version reads keep their own schema") =
    Prop.forAllNoShrink(
      Gen.listOfN(3, Gen.someOf(Seq("tag", "score", "flag"))),
      Gen.chooseNum(2, 3)) { (subsets0, k) =>
      import org.apache.spark.sql.functions.{concat, lit}
      import spark.implicits._
      val store = freshStore()
      val subsets = subsets0.take(k).map(_.toSet)
      subsets.zipWithIndex.foreach { case (cols, i) =>
        var df = Seq((i.toLong * 10 + 1, s"v$i"), (i.toLong * 10 + 2, s"v$i"))
          .toDF("id", "src")
        if (cols("tag")) df = df.withColumn("tag", concat(lit("t"), col("id")))
        if (cols("score")) df = df.withColumn("score", col("id") * 1.5)
        if (cols("flag")) df = df.withColumn("flag", col("id") % 2 === 0)
        store.load(df, "p/t", externalKey = s"v$i")
      }
      // Accumulate read: union-by-name over every version's schema,
      // nulls where a version lacked the column.
      val all = store.get("p/t")
      val expectedCols = (Seq("id", "src") ++ subsets.flatten.distinct).sorted
      val colsOk = all.columns.sorted.toSeq == expectedCols
      val nullPatternOk = all.collect().forall { r =>
        val i = r.getString(r.fieldIndex("src")).drop(1).toInt
        Seq("tag", "score", "flag").filter(all.columns.contains).forall { c =>
          r.isNullAt(r.fieldIndex(c)) == !subsets(i)(c)
        }
      }
      // Per-version read: exactly that version's own columns, no
      // phantom nulls from sibling versions.
      val perVersionOk = subsets.zipWithIndex.forall { case (cols, i) =>
        store.get("p/t", externalKey = Some(s"v$i")).columns.sorted.toSeq ==
          (Seq("id", "src") ++ cols).sorted
      }
      val countOk = all.count() == 2L * k
      colsOk && nullPatternOk && perVersionOk && countOk
    }

  property("schema evolution: compact schema-merges mixed-schema appends losslessly") =
    Prop.forAllNoShrink(Gen.someOf(Seq("tag", "score")), Gen.someOf(Seq("score", "flag"))) {
      (colsA0, colsB0) =>
        import org.apache.spark.sql.functions.{concat, lit}
        import spark.implicits._
        val store = freshStore()
        val (colsA, colsB) = (colsA0.toSet, colsB0.toSet)
        def frame(ids: Range, cols: Set[String]) = {
          var df = ids.map(i => (i.toLong, s"r$i")).toDF("id", "src")
          if (cols("tag")) df = df.withColumn("tag", concat(lit("t"), col("id")))
          if (cols("score")) df = df.withColumn("score", col("id") * 1.5)
          if (cols("flag")) df = df.withColumn("flag", col("id") % 2 === 0)
          df
        }
        // Two appends with different schemas into ONE version.
        store.load(frame(1 to 5, colsA), "p/t", externalKey = "v1")
        store.load(frame(6 to 10, colsB), "p/t", externalKey = "v1")
        def canonAll(df: org.apache.spark.sql.DataFrame) =
          df.select(df.columns.sorted.map(col): _*)
            .collect().map(_.toSeq).sortBy(_.toString())
        val before = canonAll(store.get("p/t"))
        store.compact("p/t")
        val after = canonAll(store.get("p/t"))
        before.sameElements(after) && before.length == 10
    }

  property("compact preserves content for any key config and split count") =
    Prop.forAllNoShrink(genFrame, genKeys, Gen.chooseNum(1, 3)) { (rows, keys, nLoads) =>
      val store = freshStore()
      val df = toDf(rows)
      // split the frame across nLoads appends into ONE version
      (0 until nLoads).foreach { i =>
        store.load(df.where(col("id") % nLoads === i), "p/t", keys, externalKey = "v1")
      }
      val before = canon(store.get("p/t"))
      val (nb, na) = store.compact("p/t")
      canon(store.get("p/t")).sameElements(before) && na <= math.max(nb, 1L)
    }

  // Random CDC chains: a base load plus N key-unique delta batches (some
  // rows tombstoned) must resolve exactly like an in-memory map replay —
  // newest version wins per key, tombstoned keys absent. Also checked
  // after materializeMerged (copy-on-write fold).
  private val genDelta: Gen[Seq[(Long, String, Double, String, Boolean)]] =
    Gen.chooseNum(1, 15).flatMap(n => Gen.listOfN(n, for {
      (id, date, value, tag) <- genRow
      del <- Gen.frequency(4 -> Gen.const(false), 1 -> Gen.const(true))
    } yield (id, date, value, tag, del)))
      .map(_.groupBy(_._1).map(_._2.head).toSeq) // key-unique per batch

  // Data skipping must be invisible to results: for ANY load history
  // (split counts, stats on/off per load, optional z-order compact) and
  // ANY range predicate, the pruned read equals the full read + filter.
  property("getStatsPruned == get().where(between) for any history and range") =
    Prop.forAllNoShrink(
      genFrame, Gen.chooseNum(1, 3), Gen.oneOf(true, false),
      Gen.chooseNum(-1000L, 6000L), Gen.chooseNum(0L, 4000L)) {
      (rows, nLoads, zorder, lo0, span) =>
        val store = freshStore()
        val df = toDf(rows)
        (0 until nLoads).foreach { i =>
          store.load(df.where(col("id") % nLoads === i), "p/t",
            externalKey = "v1",
            statsCols = if (i % 2 == 0) Seq("id", "value") else Nil)
        }
        if (zorder) store.compact("p/t", targetFileBytes = 4L * 1024,
          zorderBy = Seq("id", "value"))
        val (lo, hi) = (lo0, lo0 + span)
        val pruned = canon(store.getStatsPruned("p/t", "id", lo, hi))
        val full = canon(store.get("p/t").where(col("id").between(lo, hi)))
        pruned.sameElements(full)
    }

  property("merge chain == in-memory replay (+ materialize)") =
    Prop.forAllNoShrink(genFrame, Gen.listOfN(3, genDelta), genKeys, Gen.oneOf(true, false)) {
      (base0, deltas, keys, materialize) =>
        import org.apache.spark.sql.functions.lit
        val store = freshStore()
        // key-unique base too: merge semantics are per unique key
        val base = base0.groupBy(_._1).map(_._2.head).toSeq
        store.load(toDf(base).withColumn("del", lit(false)), "p/t", keys, externalKey = "v1")
        deltas.zipWithIndex.foreach { case (d, i) =>
          import spark.implicits._
          store.merge(d.toDF("id", "date", "value", "tag", "del"),
            "p/t", Seq("id"), externalKey = s"v${i + 2}", deleteCol = Some("del"))
        }
        val replay = scala.collection.mutable.Map[Long, (Long, String, Double, String)]()
        base.foreach(r => replay(r._1) = r)
        deltas.foreach(_.foreach { case (id, date, value, tag, del) =>
          if (del) replay.remove(id) else replay(id) = (id, date, value, tag)
        })
        if (materialize) store.materializeMerged("p/t", externalKey = "vz")
        val got = canon(store.getMerged("p/t"))
        val want = canon(toDf(replay.values.toSeq))
        got.sameElements(want)
    }
}
