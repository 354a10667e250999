package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spec-only forms of the PQ family: the recall graders of the PQ and
  * IVF-PQ indexes, and the distributed PQ encode the in-row
  * [[Similarity.pqEncode]] is pinned against. Nothing in the engine
  * calls them.
  */
object SimilarityTwins {

  /** PQ/ADC index graded against the exact ranking —
    * [[Similarity.annRecallAtK]] with s07's index under evaluation.
    */
  def pqRecallAtK(embeddings: DataFrame, queries: DataFrame,
                  k: Int, iters: Int = 1): DataFrame =
    Similarity.recallAtK(Similarity.cosineTopK(embeddings, queries, k),
      Similarity.pqTopK(embeddings, queries, k, iters = iters),
      queries.select(col("vec_id").as("query_id")))

  /** IVF-PQ index graded against the exact ranking —
    * [[Similarity.annRecallAtK]] with s08's composed index under
    * evaluation.
    */
  def ivfPqRecallAtK(embeddings: DataFrame, queries: DataFrame,
                     k: Int, iters: Int = 1,
                     coarseIters: Int = 1): DataFrame =
    Similarity.recallAtK(Similarity.cosineTopK(embeddings, queries, k),
      Similarity.ivfPqTopK(embeddings, queries, k, iters = iters,
        coarseIters = coarseIters),
      queries.select(col("vec_id").as("query_id")))

  /** The distributed (vec_id, sub, cell) encoding under a fresh
    * training run — the exact codes [[Similarity.pqTopK]] scans.
    */
  def pqCodesDistributed(embeddings: DataFrame, m: Int = 8,
                         ksub: Int = 16, dim: Int = 64,
                         iters: Int = 1): DataFrame = {
    val dsub = dim / m
    val e = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val svs = Similarity.pqSubvectors(e, "vec_id", m, dsub)
    Similarity.pqAssign(svs,
      Similarity.pqTrainOn(e, svs, ksub, m, dsub, iters), carry = Nil)
  }
}
