package graft.server

import org.apache.spark.sql.SparkSession

import graft.store.Store

/** Standalone façade entry point: `sbt 'runMain graft.server.Serve
  * [storeRoot] [port]'` starts [[StoreServer]] over a local Spark
  * session and blocks — the process a reference-era client points its
  * `api_url` at (see `clients/python/pandas_db_client.py` for the
  * drop-in Python caller).
  *
  * Sized from the host: `local[nproc]` and nproc shuffle partitions
  * (`SPARK_GRAFT_CPUS` overrides both), with the single-JVM scale confs
  * ([[graft.Graft.tuneForScale]]).
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0) else graft.TempDirs.create("graft_serve_")
    val port = if (args.length > 1) args(1).toInt else 8765
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-serve")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.hadoop.FastLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Graft.tuneForScale(spark)
    val server = new StoreServer(spark, new Store(spark, root), port)
    val bound = server.start()
    println(s"[serve] listening on http://127.0.0.1:$bound store=$root")
    Thread.currentThread().join()
  }
}
