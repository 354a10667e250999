package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spec-only forms of the vector store: the literal-plan in-row encode
  * [[VectorIndex.update]]'s closure encode is pinned against. Nothing
  * in the engine calls it.
  */
object VectorIndexTwins {

  /** Literal-plan in-row encode of `batch` under the store's frozen
    * model: coarse assignment is an in-row argmin over (−round6 cosine,
    * coarse_id) structs of the literal centroid list (identical argmax
    * + tiebreak to the distributed assignment — [[Similarity
    * .ivfPqIndex]]'s max_by), the residual an in-row zip_with against
    * the chosen centroid, and the PQ cells [[Similarity.pqEncode]]'s
    * in-row argmin. The model rides the expression tree.
    */
  def encodeLiteral(spark: SparkSession, store: String,
                    batch: DataFrame): DataFrame = {
    val (meta, centroids, model) = VectorIndex.frozenModel(spark, store)
    val b = batch.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val best = array_min(array(centroids.map { case (cid, cEmb) =>
      struct(
        (-round(Similarity.cosine(col("emb"), typedLit(cEmb.toSeq)), 6))
          .as("nsim"),
        lit(cid).as("coarse_id"),
        typedLit(cEmb.toSeq).as("c_emb"))
    }.toIndexedSeq: _*))
    val encoded = b.withColumn("best", best)
      .withColumn("coarse_id", col("best").getField("coarse_id"))
      .withColumn("resid",
        zip_with(col("emb"), col("best").getField("c_emb"), _ - _))
      .select(col("vec_id"), col("coarse_id"), col("resid"))
    Similarity.pqEncode(encoded, model, meta.m, meta.dim,
        embCol = "resid")
      .select(col("vec_id"),
        posexplode(col("codes")).as(Seq("sub", "cell")),
        col("coarse_id"))
      .select(col("vec_id"), col("sub").cast("int").as("sub"),
        col("cell"), col("coarse_id"))
  }
}
