package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpec {
  /** The production session ([[Graft.localSession]]), pinned to 4
    * cores: recorded partition counts in the specs depend on it. */
  lazy val session: SparkSession = Graft.localSession("graft-test", cpus = 4,
    conf = Map("spark.sql.warehouse.dir" -> TempDirs.create("graft_wh_")))
}
