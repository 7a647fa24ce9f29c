package graft

/** Local smoke runner mirroring the driver's t1 gate: builds a session,
  * runs [[SparkEntry.entry]], prints the result. Also probes the Store's
  * validation surface (bad key type / bad name / missing table) so the
  * error contract stays observable end-to-end.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Graft.localSession("graft-smoke")

    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"[smoke] $r"))

    // Probe the store's validation error surface.
    val store = new graft.store.Store(spark, TempDirs.create("graft_smoke_"))
    val li = Tables.read(spark, "/root/testdata/sf0.001", "lineitem")
    def expectFail(label: String)(f: => Any): Unit =
      try { f; println(s"[smoke] $label: NO ERROR (unexpected)") }
      catch { case e: Exception => println(s"[smoke] $label: ${e.getClass.getSimpleName}: ${e.getMessage.linesIterator.next()}") }
    expectFail("bad key type")(store.load(li, "t1", Map("l_orderkey" -> "Hash")))
    expectFail("missing key column")(store.load(li, "t1", Map("nope" -> "ID")))
    expectFail("bad name")(store.load(li, "../escape", Map.empty))
    expectFail("empty name")(store.load(li, ""))
    expectFail("missing table")(store.get("does/not/exist"))
    expectFail("use_last w/o pointer")(store.get("alsonothere", useLast = true))

    // list() surface
    store.load(li.limit(10), "proj/a/t1", Map("l_orderkey" -> "ID"), externalKey = "x1")
    store.load(li.limit(10), "proj/b/t2")
    println(s"[smoke] list()=${store.list().map(i => s"${i.name}{v=${i.versions.mkString("|")},last=${i.lastVersion.orNull},keys=${i.columnsKeys}}").mkString("; ")}")
    println(s"[smoke] list(prefix=proj/a)=${store.list(Some("proj/a")).map(_.name).mkString(",")}")

    // Streaming surface: tumbling-window counts from a file-source stream
    // drained into the memory sink.
    val streamDir = TempDirs.create("graft_smoke_stream_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      java.nio.file.Paths.get(streamDir, "events.parquet"))
    val stream = graft.streaming.EventStreams.readEvents(spark, streamDir)
    val windowed = graft.streaming.EventStreams.runToMemory(
      spark, graft.streaming.EventStreams.tumblingCounts(stream, "1 hour", "10 minutes"),
      "smoke_tumble")
    println(s"[smoke] streaming tumbling windows=${windowed.count()} rows, " +
      s"total events=${windowed.agg(org.apache.spark.sql.functions.sum("n")).collect().head.get(0)}")
    spark.stop()
  }
}
