package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Dedup, Similarity}

/** Measures the approximate operators' recall at an arbitrary fixture SF
  * (RecallSpec pins the sf0.01 numbers in CI; this audits whether the
  * same configurations hold as the corpus grows — e.g. the PQ shortlist
  * is 10% of a 500-vector corpus but 1% at 5000).
  *
  * Usage: `sbt 'runMain graft.tools.RecallAudit /root/testdata/sf0.1'`
  */
object RecallAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Graft.localSession("graft-recall-audit", cpus = 8)
    val emb = Tables.read(spark, dir, "embeddings")
    val docs = Tables.read(spark, dir, "documents")
    val queries = emb.where(col("vec_id") < 8)

    def pairSet(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
      df.select(col(a).cast("long"), col(b).cast("long")).collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)))).toSet
    def topkSet(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id").cast("long"), col("vec_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def report(name: String, truth: Set[(Long, Long)], cand: Set[(Long, Long)]): Unit =
      println(f"[recall] $name%-12s truth=${truth.size}%6d cand=${cand.size}%6d " +
        f"recall=${(truth & cand).size.toDouble / math.max(1, truth.size)}%.4f")

    val exactTopk = topkSet(Similarity.topKPerQuery(emb, queries, "vec_id", "embedding", k = 5))
    report("minhash",
      pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.7), "doc_a", "doc_b"),
      pairSet(Dedup.minhashCandidatePairs(docs, "doc_id", "text", 3, 0.7), "doc_a", "doc_b"))
    report("srp",
      pairSet(Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.35), "id_a", "id_b"),
      pairSet(Similarity.srpNeighbors(emb, "vec_id", "embedding", 64, 0.35, 30, 10), "id_a", "id_b"))
    report("ivf", exactTopk,
      topkSet(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5, nlist = 8, nProbe = 6)))
    report("ivf-p7", exactTopk,
      topkSet(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5, nlist = 8, nProbe = 7)))
    val n = Tables.parquetRowCount(spark, s"$dir/embeddings.parquet")
    val sl = math.max(50L, n / 10).toInt
    report("pq", exactTopk,
      topkSet(Similarity.pqTopK(emb, queries, "vec_id", "embedding", 64, 5,
        m = 16, ksub = 16, shortlist = 50)))
    report(s"pq-sl$sl", exactTopk,
      topkSet(Similarity.pqTopK(emb, queries, "vec_id", "embedding", 64, 5,
        m = 16, ksub = 16, shortlist = sl)))
    report("ivfpq", exactTopk,
      topkSet(Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", 64, 5,
        nlist = 8, nProbe = 7, m = 16, ksub = 16,
        shortlist = math.max(50L, n / 8).toInt, corpusRows = Some(n))))
    val semTruth = pairSet(Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.4),
      "id_a", "id_b")
    report("semdedup-p1", semTruth,
      pairSet(Similarity.semDedupPairs(emb, "vec_id", "embedding", 0.4,
        nlist = 8, assignProbes = 1), "id_a", "id_b"))
    report("semdedup-p3", semTruth,
      pairSet(Similarity.semDedupPairs(emb, "vec_id", "embedding", 0.4,
        nlist = 8, assignProbes = 3), "id_a", "id_b"))
    spark.stop()
  }
}
