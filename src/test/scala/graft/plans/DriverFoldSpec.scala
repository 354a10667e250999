package graft.plans

import graft.SparkTestBase

class DriverFoldSpec extends SparkTestBase {

  test("a cap of Int.MaxValue or below 0 fails by name: the bounded " +
    "read's cap + 1 would overflow into a negative limit") {
    for (bad <- Seq(Int.MaxValue, -1)) {
      val e = intercept[IllegalArgumentException] {
        DriverFold.withCap(bad)(DriverFold.cap)
      }
      assert(e.getMessage.contains(s"driver-fold cap must be in " +
        s"[0, Int.MaxValue), got $bad"), s"wrong failure: ${e.getMessage}")
      intercept[IllegalArgumentException] {
        DriverFold.collect(spark.range(5), bad)
      }
      intercept[IllegalArgumentException] {
        DriverFold.frame(spark.range(5).toDF(), spark.range(5).schema,
          "overflow", bad)(rows => Some(rows))(spark.range(5).toDF())
      }
    }
    // the largest cap still reads: its limit is Int.MaxValue itself
    val top = DriverFold.withCap(Int.MaxValue - 1) {
      DriverFold.collect(spark.range(5), DriverFold.cap)
    }
    assert(top.map(_.toSeq.map(_.longValue)).contains(0L until 5L))
  }

  test("collect and collectOrFail at the cap ±1, over a typed Dataset") {
    val s = spark
    import s.implicits._
    val ds = Seq("a", "b", "c").toDS()
    assert(DriverFold.collect(ds, 3).map(_.toSeq).contains(Seq("a", "b", "c")))
    assert(DriverFold.collect(ds, 4).map(_.toSeq).contains(Seq("a", "b", "c")))
    assert(DriverFold.collect(ds, 2).isEmpty)
    assert(DriverFold.collectOrFail(ds, 3, "letters").toSeq ==
      Seq("a", "b", "c"))
    val e = intercept[FoldCapExceeded] {
      DriverFold.collectOrFail(ds, 2, "letters")
    }
    assert(e.getMessage.startsWith("letters: more than 2 rows"),
      s"wrong failure: ${e.getMessage}")
    assert(DriverFold.collect(ds.filter(_ => false), 0)
      .exists(_.isEmpty))
  }

  /** A `limit(<expr> + 1)` read — the bounded-collect idiom — in code
    * (comments are stripped first); one level of nested parentheses.
    */
  private val boundedRead = """\blimit\((?:[^()]|\([^()]*\))*\+\s*1\s*\)""".r

  test("every bounded driver read in src/main goes through DriverFold: " +
    "no other file holds a limit(<expr> + 1)") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no source tree at ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val own = new java.io.File(root, "graft/plans/DriverFold.scala")
    val offenders = for {
      f <- files(root) if f.getCanonicalPath != own.getCanonicalPath
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toVector.zipWithIndex
        finally src.close()
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("/*") &&
        !code.startsWith("//")
      if boundedRead.findFirstIn(code.replaceAll("//.*$", "")).isDefined
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: $code"
    assert(offenders.isEmpty,
      "bounded driver reads outside DriverFold.collect:\n" +
        offenders.mkString("\n"))
  }
}
