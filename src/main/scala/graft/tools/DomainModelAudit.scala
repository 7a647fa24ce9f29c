package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Prints the learned DOMAIN-classifier audit numbers behind qn112's
  * contract booleans (holdout top-1 accuracy vs chance, per the
  * fixture's class count) at a given fixture SF and label column — the
  * [[QualityModelAudit]] discipline applied to the multiclass model:
  * thresholds get set from measured margins, not hope. Also
  * cross-checks the primitive-loop serving expression against
  * `spark.ml`'s own `transform` argmax row-for-row (train/serve
  * layout-drift canary), and (r20) audits the driver-local fit route
  * ([[graft.ops.LocalLogit]] — what qn112 actually serves at fixture
  * scale) against the same gate plus its argmax agreement with the
  * distributed fit.
  *
  * Usage: `sbt 'runMain graft.tools.DomainModelAudit <sfDir> [labelCol] [dim] [iters]'`
  */
object DomainModelAudit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DomainModelAudit <sfDir> [labelCol] [dim] [iters]")
    val sfDir = args(0)
    val labelCol = if (args.length > 1) args(1) else "lang"
    val dim = if (args.length > 2) args(2).toInt else 512
    val iters = if (args.length > 3) args(3).toInt else 50
    val spark = graft.Graft.localSession("graft-domain-model-audit", cpus = 8)
    val d = graft.Tables.read(spark, sfDir, "documents")
    val train = d.where(pmod(col("doc_id"), lit(4)) =!= 1)
    val test = d.where(pmod(col("doc_id"), lit(4)) === 1)
    val t0 = System.nanoTime()
    val (model, mlModel) = TextOps.trainDomainModelWithMl(
      train, "text", labelCol, dim = dim, maxIter = iters)
    val trainSec = (System.nanoTime() - t0) / 1e9
    val k = model.numClasses
    // Serving-expression predictions on the holdout.
    val scored = test
      .select(col("doc_id"), col(labelCol).as("y"),
        TextOps.domainPredict(col("text"), model).as("p"))
      .select(col("doc_id"), col("y"),
        TextOps.domainLabel(col("p.pred"), model).as("yhat"),
        col("p.pred").as("pred"), col("p.prob"))
    // spark.ml transform on the same holdout, same featurization.
    import org.apache.spark.ml.functions.array_to_vector
    val mlPred = mlModel.transform(
      test.select(col("doc_id"),
        array_to_vector(TextOps.domainFeatures(
          col("text"), dim, model.charDim, model.charN)).as("features")))
      .select(col("doc_id"), col("prediction"))
    val agree = scored.join(mlPred, "doc_id")
      .agg(avg(when(col("pred").cast("double") === col("prediction"), 1d)
        .otherwise(0d)).as("agree")).head().getDouble(0)
    val r = scored.agg(
      count(lit(1)).as("n"),
      avg(when(col("y") === col("yhat"), 1d).otherwise(0d)).as("acc"),
      avg("prob").as("mean_prob")).head()
    // Local fit route (the default below TextOps.DefaultLocalFitMaxRows,
    // i.e. what qn112 serves at fixture scale): same gate, plus argmax
    // agreement with the distributed model's holdout predictions.
    val t1 = System.nanoTime()
    val localModel = TextOps.trainDomainModel(
      train, "text", labelCol, dim = dim, maxIter = iters)
    val localSec = (System.nanoTime() - t1) / 1e9
    val scoredL = test
      .select(col(labelCol).as("y"),
        TextOps.domainPredict(col("text"), localModel).getField("pred").as("predL"),
        TextOps.domainPredict(col("text"), model).getField("pred").as("predD"))
      .agg(
        avg(when(TextOps.domainLabel(col("predL"), localModel) === col("y"),
          1d).otherwise(0d)).as("accL"),
        avg(when(col("predL") === col("predD"), 1d).otherwise(0d)).as("routeAgree"))
      .head()
    println(f"""{"sf":"$sfDir","label":"$labelCol","dim":$dim,""" +
      f""""char_dim":${model.charDim},"char_n":${model.charN},"iters":$iters,""" +
      f""""k":$k,"train_sec":$trainSec%.2f,"n_test":${r.getLong(0)},""" +
      f""""acc":${r.getDouble(1)}%.4f,"chance":${1d / k}%.4f,""" +
      f""""acc_over_chance":${r.getDouble(1) * k}%.2f,""" +
      f""""mean_prob":${r.getDouble(2)}%.4f,"ml_agree":$agree%.4f,""" +
      f""""local_train_sec":$localSec%.2f,"acc_local":${scoredL.getDouble(0)}%.4f,""" +
      f""""route_agree":${scoredL.getDouble(1)}%.4f}""")
    spark.stop()
  }
}
