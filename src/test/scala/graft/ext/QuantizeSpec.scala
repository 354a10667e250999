package graft.ext

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

class QuantizeSpec extends SparkTestBase {

  private lazy val quantized =
    Quantize.int8(Tables.embeddings(spark, sf0001), "embedding")

  test("values stay in the symmetric int8 domain [-127, 127]") {
    val out = quantized
      .select(array_min(col("q_vec")).as("lo"), array_max(col("q_vec")).as("hi"))
      .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"))
      .head()
    assert(out.getInt(0) >= -127 && out.getInt(1) <= 127, out.toString)
  }

  test("reconstruction error is bounded by q_scale/2 per element") {
    // round-off bound: |x - q*scale| <= scale/2 (+ an ulp of slack for
    // the float cast in dequantize)
    val bad = quantized
      .withColumn("recon",
        Quantize.dequantize(col("q_vec"), col("q_scale")))
      .select(col("vec_id"), col("q_scale"),
        aggregate(
          zip_with(col("embedding"), col("recon"),
            (a, b) => abs(a.cast("double") - b.cast("double"))),
          lit(0.0), (acc, e) => greatest(acc, e)).as("max_err"))
      .filter(col("max_err") > col("q_scale") * 0.5 + lit(1e-6))
      .count()
    assert(bad == 0L, s"$bad vectors exceed the scale/2 reconstruction bound")
  }

  test("zero vector quantizes to scale 0 and all-zero q_vec, no NaN") {
    import spark.implicits._
    val df = Seq((1L, Array(0f, 0f, 0f)), (2L, Array(1f, -2f, 0.5f)))
      .toDF("vec_id", "embedding")
    val q = Quantize.int8(df, "embedding").orderBy("vec_id").collect()
    assert(q(0).getDouble(q(0).fieldIndex("q_scale")) == 0.0)
    assert(q(0).getSeq[Int](q(0).fieldIndex("q_vec")) == Seq(0, 0, 0))
    // the max-magnitude element always maps to ±127
    assert(q(1).getSeq[Int](q(1).fieldIndex("q_vec"))(1) == -127)
  }

  test("quantizedTopK with full rerank equals the exact ranking") {
    // rerank covering the whole corpus makes the int8 pass a pure
    // candidate generator — the exact re-rank must then reproduce
    // cosineTopK row for row
    val e = Tables.embeddings(spark, sf0001)
    val qs = e.filter(col("vec_id") < 5)
    val exact = Similarity.cosineTopK(e, qs, 3).collect().toSet
    val viaQ = Similarity.quantizedTopK(e, qs, 3, rerank = Int.MaxValue / 4)
      .collect().toSet
    assert(viaQ == exact)
  }

  test("quantizedTopK recall at sane rerank on the isotropic corpus") {
    val e = Tables.embeddings(spark, sf0001)
    val qs = e.filter(col("vec_id") < 10)
    val exact = Similarity.cosineTopK(e, qs, 3)
      .select("query_id", "neighbor_id").collect().toSet
    val viaQ = Similarity.quantizedTopK(e, qs, 3, rerank = 4)
      .select("query_id", "neighbor_id").collect().toSet
    val recall = exact.intersect(viaQ).size.toDouble / exact.size
    assert(recall >= 0.9, s"int8 ANN recall $recall < 0.9")
  }

  test("integer dot product approximates the float dot within quantization error") {
    val e = Tables.embeddings(spark, sf0001).filter(col("vec_id") < 20)
    val q = Quantize.int8(e, "embedding")
      .select(col("vec_id"), col("embedding"), col("q_vec"), col("q_scale"))
    val a = q.select(col("vec_id").as("ida"), col("embedding").as("ea"),
      col("q_vec").as("qa"), col("q_scale").as("sa"))
    val b = q.select(col("vec_id").as("idb"), col("embedding").as("eb"),
      col("q_vec").as("qb"), col("q_scale").as("sb"))
    val pairs = a.join(b, col("ida") < col("idb"))
      .select(
        aggregate(zip_with(col("ea"), col("eb"),
          (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v).as("exact"),
        Quantize.dotRescaled(col("qa"), col("sa"), col("qb"), col("sb"))
          .as("approx"),
        // error bound: d * (sa*|b|max + sb*|a|max)/2 ~ d*sa*sb*127;
        // use a generous per-dim half-step bound
        (size(col("ea")).cast("double") * col("sa") * col("sb") * 128.0)
          .as("bound"))
    val violations =
      pairs.filter(abs(col("exact") - col("approx")) > col("bound")).count()
    assert(violations == 0L,
      s"$violations quantized dot products outside the error bound")
  }
}
