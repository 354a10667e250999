package graft.functions

import graft.{SparkTestBase, Tables}
import graft.ext.Similarity
import org.apache.spark.sql.functions._

class CosineSimilaritySpec extends SparkTestBase {

  private lazy val pairs = {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    e.as("a").join(e.as("b"),
        col("a.vec_id") < col("b.vec_id") && col("b.vec_id") < 50)
      .select(col("a.emb").as("x"), col("b.emb").as("y"))
  }

  test("native expression is bit-identical to the composed HOF form") {
    val composed = Similarity.dot(col("x"), col("y")) /
      (sqrt(aggregate(col("x"), lit(0.0), (a, v) => a + v * v)) *
        sqrt(aggregate(col("y"), lit(0.0), (a, v) => a + v * v)))
    val diff = pairs.select(
        CosineSimilarity.cosine_similarity(col("x"), col("y")).as("native"),
        composed.as("hof"))
      .filter(col("native") =!= col("hof")) // exact, not approximate
    assert(diff.isEmpty)
  }

  test("interpreted eval agrees with codegen") {
    val row = pairs.limit(1)
      .select(CosineSimilarity.cosine_similarity(col("x"), col("y")))
      .first().getDouble(0)
    // force interpreted path through nullSafeEval
    import org.apache.spark.sql.catalyst.expressions.Literal
    val r = pairs.limit(1).select(col("x"), col("y")).first()
    val x = r.getSeq[Double](0).toArray
    val y = r.getSeq[Double](1).toArray
    val interpreted = CosineSimilarity(
      Literal.create(x, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)),
      Literal.create(y, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)))
      .eval(null).asInstanceOf[Double]
    assert(row == interpreted)
  }

  test("SQL registration exposes cosine_similarity") {
    CosineSimilarity.register(spark)
    val got = spark.sql(
      "SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c," +
        " cosine_similarity(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS o")
      .first()
    assert(got.getDouble(0) == 1.0 && got.getDouble(1) == 0.0)
  }

  test("zero vector yields 0.0, not NaN") {
    CosineSimilarity.register(spark)
    val z = spark.sql(
      "SELECT cosine_similarity(array(0.0d, 0.0d), array(1.0d, 2.0d))")
      .first().getDouble(0)
    assert(z == 0.0)
  }

  test("length mismatch and null elements yield NULL, like the HOF form") {
    CosineSimilarity.register(spark)
    // codegen path (projection over a real plan)
    val rows = spark.sql(
      """SELECT
        |  cosine_similarity(array(1.0d, 2.0d), array(1.0d)) AS mismatch,
        |  cosine_similarity(array(1.0d, cast(null as double)),
        |                    array(1.0d, 2.0d)) AS withnull,
        |  cosine_similarity(cast(null as array<double>),
        |                    array(1.0d)) AS nullinput""".stripMargin)
      .first()
    assert(rows.isNullAt(0) && rows.isNullAt(1) && rows.isNullAt(2))
    // and the HOF form agrees on the mismatch case
    val hof = spark.sql(
      """SELECT aggregate(zip_with(array(1.0d, 2.0d), array(1.0d),
        |  (x, y) -> x * y), 0.0d, (a, v) -> a + v)""".stripMargin).first()
    assert(hof.isNullAt(0))
    // interpreted path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val interp = CosineSimilarity(
      Literal.create(Array(1.0, 2.0), ArrayType(DoubleType)),
      Literal.create(Array(1.0), ArrayType(DoubleType))).eval(null)
    assert(interp == null)
  }
}
