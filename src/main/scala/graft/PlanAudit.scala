package graft

/** Dumps formatted physical plans for representative queries so the
  * shuffle/pushdown/broadcast/codegen story can be audited per round
  * (the `.explain("formatted")` loop the build plan calls for).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSet else Set.empty[String]
    val spark = Graft.localSession("graft-plan-audit")
    SparkEntry.queries
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
      .foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"(failed: ${e.getMessage})") }
      }
    spark.stop()
  }
}
