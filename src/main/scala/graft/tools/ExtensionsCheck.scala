package graft.tools

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.store.Store

/** Cluster-deployment-path check for
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`,
  * meant to run in a FRESH JVM (ExtensionsSpec forks one): the extensions
  * conf is static — a session built over an already-running SparkContext
  * ignores it, so an in-suite session can never exercise this path.
  *
  * Asserts the two things the extension injects, with zero `register()`
  * / `extraOptimizations` calls anywhere:
  *   1. the SQL function surface resolves (`vec_dot`, `word_shingles`);
  *   2. the ID-range pruning rule fires (10-bucket store table, range
  *      predicate → 2 files scanned).
  * Exits nonzero on any failure.
  */
object ExtensionsCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.localSession("graft-extensions-check", conf = Map(
      "spark.sql.extensions" -> "org.apache.spark.sql.graft.GraftExtensions",
      "spark.sql.adaptive.enabled" -> "false"))
    try {
      val d = spark.sql("SELECT vec_dot(array(1.0d,2.0d), array(3.0d,4.0d)) AS d")
        .head().getDouble(0)
      require(d == 11.0, s"vec_dot returned $d")
      val sh = spark.sql("SELECT size(word_shingles(array('a','b','c'), 2)) AS n")
        .head().getInt(0)
      require(sh == 2, s"word_shingles returned $sh")

      import spark.implicits._
      val store = new Store(spark, graft.TempDirs.create("graft_ext_"))
      store.load((0L until 10000L).map(i => (i, s"r$i")).toDF("id", "payload"),
        "t", Map("id" -> Store.KeyId), externalKey = "v1")
      val q = store.getPartitioned("t")
        .where(col("id") >= 7500L && col("id") < 8200L)
      q.collect()
      val files = q.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f.metrics("numFiles").value
      }.head
      require(files == 2L, s"pruning rule did not fire: scanned $files files, expected 2")
      require(q.count() == 700L, "wrong row count after pruning")

      // 3. Date-partition pruning rule injected too (10 date dirs → 3).
      store.load((0 until 1000).map(i =>
          (i.toLong, java.sql.Date.valueOf(f"2024-01-${i % 10 + 1}%02d"))).toDF("id", "d"),
        "td", Map("d" -> Store.KeyDate), externalKey = "v1")
      val qd = store.getPartitioned("td").where(col("d") >= "2024-01-08")
      qd.collect()
      val dFiles = qd.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f.metrics("numFiles").value
      }.head
      require(dFiles == 3L, s"date pruning rule did not fire: scanned $dFiles files, expected 3")
      require(qd.count() == 300L, "wrong row count after date pruning")
      println("[extcheck] OK")
    } finally spark.stop()
  }
}
