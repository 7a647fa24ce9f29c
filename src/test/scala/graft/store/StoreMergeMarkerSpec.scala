package graft.store

import org.apache.hadoop.fs.Path

import graft.TempDirs

/** The merge-marker conflict window ([[Store.mergeMove]]): merge()'s
  * delete-column precheck is check-then-act and skips NowKey labels, so
  * two concurrent merges landing on one version label with DIFFERENT
  * markers can both reach publish. The second's staged marker must fail
  * loudly — silently discarding it would rewrite that delta's tombstone
  * semantics to the winner's.
  */
class StoreMergeMarkerSpec extends graft.SparkSpec {

  private def setup(): (Store, Path, Path) = {
    import spark.implicits._
    val root = TempDirs.create("graft_marker_")
    val store = new Store(spark, root)
    store.load(Seq((1L, "a")).toDF("id", "v"), "t", externalKey = "v1")
    store.merge(Seq((1L, "b")).toDF("id", "v"), "t", Seq("id"), externalKey = "m1")
    val vDir = new Path(new Path(root, "t"),
      s"${Store.VersionCol}=${Store.encodeVersion("m1")}")
    (store, new Path(root, "t"), vDir)
  }

  private def stageMarker(content: String): Path = {
    val staging = new Path(TempDirs.create("graft_marker_stage_"))
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vRel = s"${Store.VersionCol}=${Store.encodeVersion("m1")}"
    val out = fs.create(new Path(new Path(staging, vRel), Store.MergeFile), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    staging
  }

  test("a conflicting staged merge marker fails the publish, keeping the live one") {
    val (store, tableDir, vDir) = setup()
    val fs = vDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(vDir, Store.MergeFile)
    def readMarker(): String = {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val published = readMarker()
    val conflicting = """{"keys":"id","delete_col":"v"}"""
    assert(conflicting != published, "fixture marker unexpectedly matches")
    val staging = stageMarker(conflicting)
    val e = intercept[java.io.IOException](store.mergeMove(staging, tableDir))
    assert(e.getMessage.contains("merge marker conflict"), e.getMessage)
    assert(readMarker() == published, "live marker must survive the failed publish")
  }

  test("an identical staged merge marker is dropped and the publish succeeds") {
    val (store, tableDir, vDir) = setup()
    val fs = vDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(vDir, Store.MergeFile)
    val in = fs.open(marker)
    val published = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val staging = stageMarker(published)
    store.mergeMove(staging, tableDir) // no throw: redundant marker dropped
    assert(fs.exists(marker))
    assert(!fs.exists(staging), "staging dir must be cleaned up on success")
  }
}
