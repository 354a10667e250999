package graft.engine

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SkewJoinSpec extends SparkTestBase {

  test("salted join equals the plain equi-join on a skewed key") {
    import spark.implicits._
    // 90% of rows share one hot key — the pathological shape
    val skewed = (1 to 5000).map { i =>
      (if (i % 10 == 0) i.toLong % 7 else 0L, s"payload$i")
    }.toDF("k", "v")
    val dim = (0L to 6L).map(k => (k, s"dim$k")).toDF("k", "d")

    val plain = skewed.join(dim, Seq("k"))
    val salted = SkewJoin.saltedEquiJoin(skewed, dim, Seq("k"), salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("salted join spreads the hot key even for identical rows") {
    import spark.implicits._
    // all rows content-identical: a content-hash salt would collapse
    // them onto one reducer — the ordinal salt must not
    val skewed = (1 to 2000).map(_ => (0L, "same")).toDF("k", "v")
    val dim = Seq((0L, "d")).toDF("k", "d")
    // pin the implementation's OWN salt derivation, not a copy of it
    val saltCount = SkewJoin.withSalt(skewed, 4)
      .select(countDistinct(col("__graft_salt"))).first().getLong(0)
    assert(saltCount > 1)
    val salted = SkewJoin.saltedEquiJoin(skewed, dim, Seq("k"), salts = 4)
    assert(salted.count() == 2000)
  }
}
