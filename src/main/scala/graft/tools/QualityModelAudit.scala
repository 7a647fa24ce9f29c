package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Prints the learned-quality-scorer audit numbers (ROC-AUC, TPR/TNR at
  * 0.5, balanced accuracy) behind qn105's contract booleans at a given
  * fixture SF — the tool that sets (and re-justifies) the contract
  * thresholds with real margins instead of hope.
  *
  * Usage: `sbt 'runMain graft.tools.QualityModelAudit <sfDir> [dim]'`
  */
object QualityModelAudit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QualityModelAudit <sfDir> [dim]")
    val sfDir = args(0)
    val dim = if (args.length > 1) args(1).toInt else 512
    val iters = if (args.length > 2) args(2).toInt else 50
    val spark = graft.Graft.localSession("graft-quality-model-audit", cpus = 8)
    val d = graft.Tables.read(spark, sfDir, "documents")
    val t0 = System.nanoTime()
    val model = TextOps.trainQualityModel(
      d.where(pmod(col("doc_id"), lit(2)) === 0), "text", dim = dim, maxIter = iters)
    val trainSec = (System.nanoTime() - t0) / 1e9
    val scored = d.where(pmod(col("doc_id"), lit(2)) === 1)
      .select(when(TextOps.qualityRules(col("text")).keep, 1d).otherwise(0d).as("y"),
        TextOps.qualityModelScore(col("text"), model).as("p"))
    val auc = TextOps.binaryAuc(scored, "p", "y").head().getDouble(0)
    val r = scored.agg(
      count(lit(1)).as("n"), sum("y").as("np"),
      avg(when(col("y") === 1d, when(col("p") >= 0.5, 1d).otherwise(0d))).as("tpr"),
      avg(when(col("y") === 0d, when(col("p") < 0.5, 1d).otherwise(0d))).as("tnr")).head()
    println(f"""{"sf":"$sfDir","dim":$dim,"iters":$iters,"train_sec":$trainSec%.2f,""" +
      f""""n_test":${r.getLong(0)},"n_pos":${r.getDouble(1)}%.0f,""" +
      f""""auc":$auc%.4f,"tpr":${r.getDouble(2)}%.4f,"tnr":${r.getDouble(3)}%.4f,""" +
      f""""bal_acc":${(r.getDouble(2) + r.getDouble(3)) / 2}%.4f}""")
    spark.stop()
  }
}
