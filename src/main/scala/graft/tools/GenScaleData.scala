package graft.tools

/** Writes a [[ScaleData]] synthetic corpus as `documents.parquet` +
  * `embeddings.parquet` in TESTDATA.md layout, so the existing dir-driven
  * tools ([[RecallAudit]], `graft.Bench` north-star subset; the dedup
  * phase profile that also read it is recorded in NOTES_r6.md) can run
  * at scales the driver fixtures stop short of. The driver's own
  * `/root/testdata` is read-only and never touched.
  *
  * Usage: `sbt 'runMain graft.tools.GenScaleData /tmp/graft_sf1 50000 20000'`
  */
object GenScaleData {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/graft_sf1"
    val nDocs = if (args.length > 1) args(1).toLong else 50000L
    val nVecs = if (args.length > 2) args(2).toLong else 20000L
    val spark = graft.Graft.localSession("graft-gen-scale-data")
    ScaleData.documents(spark, nDocs).repartition(8)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    ScaleData.embeddings(spark, nVecs).repartition(8)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[gen] wrote $nDocs docs + $nVecs vecs under $out")
    spark.stop()
  }
}
