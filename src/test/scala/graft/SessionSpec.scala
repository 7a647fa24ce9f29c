package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

/** The suite runs the production session, and [[Graft.localSession]] is
  * the only place under `src/` that builds one.
  */
class SessionSpec extends SparkSpec {

  test("the shared test session carries the production single-JVM conf") {
    Graft.singleJvmScaleConfs.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    assert(hadoopConf.get("fs.file.impl") == classOf[graft.hadoop.FastLocalFileSystem].getName)
    assert(new Path("file:///").getFileSystem(hadoopConf)
      .isInstanceOf[graft.hadoop.FastLocalFileSystem])
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("Graft.localSession is the only session builder under src/") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repository root, not ${src.toAbsolutePath}")
    // Split so this file does not match its own scan.
    val needle = "SparkSession" + ".builder"
    val walk = Files.walk(src)
    val builders =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && Files.readString(p).contains(needle))
        .map(p => src.relativize(p).toString).toList
      finally walk.close()
    assert(builders == List("main/scala/graft/Graft.scala"))
  }
}
