package graft.ext

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {

  private lazy val docs = Tables.documents(spark, sf0001)

  test("winnowing: detection guarantee, density bound, short docs") {
    import spark.implicits._
    // two docs sharing a (w+n-1)=6-token run amid unrelated text MUST
    // share at least one fingerprint (the MOSS guarantee)
    val shared = "alpha beta gamma delta epsilon zeta"
    val synth = Seq(
      (1L, s"one two three $shared four five six seven eight nine"),
      (2L, s"red orange yellow $shared green blue indigo violet pink"),
      (3L, "totally unrelated words with nothing in common here at all"),
      (4L, "tiny doc"), // < n tokens: no shingles, no fingerprint
      (5L, "just four tokens here")) // 2 shingles < w: global min only
      .toDF("doc_id", "text")
    val fp = Dedup.winnow(synth, n = 3, w = 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((fp(1L) intersect fp(2L)).nonEmpty, "shared run undetected")
    assert((fp(1L) intersect fp(3L)).isEmpty, "false overlap")
    assert(!fp.contains(4L))
    assert(fp(5L).size == 1)
    // density on real corpus: between 1/w and ~3/(w+1) of the shingles
    val w = 4
    val nFp = Dedup.winnow(docs, n = 3, w = w).count().toDouble
    val nSh = docs.select(posexplode_outer(
        when(size(split(col("text"), " ")) >= 3,
          sequence(lit(0), size(split(col("text"), " ")) - 3))
          .otherwise(array().cast("array<int>"))))
      .filter(col("col").isNotNull).count().toDouble
    assert(nFp > nSh / (2 * w) && nFp < nSh * 3 / (w + 1),
      s"fingerprint density $nFp/$nSh outside winnowing bounds")
    // stable under input repartitioning
    val again = Dedup.winnow(docs.repartition(7), n = 3, w = w).count()
    assert(again.toDouble == nFp)
  }

  test("winnow runs statelessly on a document stream == batch result") {
    // the zero-shuffle form is a narrow map, so it must run under
    // Structured Streaming in append mode with NO watermark or state
    val dir = tmpDir("stream-docs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(graft.Tables.path(sf0001, "documents")),
      java.nio.file.Paths.get(dir, "documents.parquet"))
    val schema = docs.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = Dedup.winnow(stream, n = 3, w = 4).writeStream
      .outputMode("append")
      .format("memory").queryName("winnow_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not drain in 120s")
    val streamed = spark.table("winnow_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Dedup.winnow(docs, n = 3, w = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
  }

  test("winnowed overlap pairs match a naive fingerprint self-join") {
    val pairs = Dedup.winnowOverlapPairs(docs, n = 3, w = 4,
      minShared = 2, maxDf = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val fp = Dedup.winnow(docs, n = 3, w = 4)
    val byDf = fp.groupBy("fp").count().filter(col("count").between(2, 50))
    val kept = fp.join(byDf.select("fp"), "fp")
    val naive = kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id"), col("b.doc_id")).count()
      .filter(col("count") >= 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs == naive)
    assert(pairs.nonEmpty) // sf0.001 corpus has seeded near-dups
  }

  test("minhash LSH candidates contain every jaccard>=0.5 pair (recall)") {
    val truth = Dedup.jaccardPairs(docs, n = 3, threshold = 0.5, maxDf = 50)
      .select("doc_a", "doc_b")
    val candidates = Dedup.minhashCandidates(docs, n = 3)
    val missed = truth.except(candidates)
    assert(missed.isEmpty,
      s"LSH missed ${missed.count()} true near-dup pairs")
    // and LSH is selective: far fewer candidates than all pairs
    val n = docs.count()
    assert(candidates.count() < n * (n - 1) / 20)
  }

  test("simhash banded join equals brute-force at hamming<=3 (pigeonhole)") {
    val banded = Dedup.simhashPairs(docs, maxDist = 3)
    val fps = Dedup.simhashFingerprints(docs)
    val brute = fps.as("a").join(fps.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.fp ^ b.fp)").as("hamming"))
      .filter(col("hamming") <= 3)
    assert(banded.except(brute).isEmpty && brute.except(banded).isEmpty)
  }

  test("df cap guards the pair explosion: a stop-shingle in every doc " +
    "cannot go quadratic") {
    import spark.implicits._
    // plant the same 3-token boilerplate prefix on 60 docs: its
    // shingle has df = 60 — far over the cap — and must be dropped
    // BEFORE pair generation, not after
    val base = docs.select("doc_id", "text").limit(60)
      .as[(Long, String)].collect()
    val planted = base.map { case (id, t) =>
      (id, "common boiler prefix " + t) }.toSeq.toDF("doc_id", "text")
    val nPairsAll = 60L * 59 / 2
    val capped = Dedup.jaccardPairs(planted, n = 3, threshold = 0.0,
      maxDf = 10).count()
    assert(capped < nPairsAll / 4,
      s"df cap failed to stop the stop-shingle blowup: $capped pairs")
    // sanity: WITHOUT the cap the boiler shingle really does produce
    // every pair — the guard above is load-bearing, not vacuous
    val uncapped = Dedup.jaccardPairs(planted, n = 3, threshold = 0.0,
      maxDf = 1000).count()
    assert(uncapped == nPairsAll,
      s"expected the full $nPairsAll pairs uncapped, got $uncapped")
  }

  test("containment catches a planted excerpt that jaccard misses") {
    import spark.implicits._
    // plant: the first 20 tokens of a long doc become their own doc —
    // nearly all its shingles are contained in the original, but the
    // union is dominated by the original, so jaccard stays low
    // (~18/97 on a 90+-token host)
    val long = docs
      .filter(size(split(col("text"), " ")) >= 90)
      .orderBy("doc_id").limit(1)
      .select(col("doc_id"), col("text")).as[(Long, String)].head()
    val excerptId = long._1 + 5000000L
    val excerpt = long._2.split(" ").take(20).mkString(" ")
    val planted = docs.select("doc_id", "text")
      .unionByName(Seq((excerptId, excerpt)).toDF("doc_id", "text"))
    val contained = Dedup.containmentPairs(planted, n = 3,
      threshold = 0.8, maxDf = 50)
      .filter(col("src_doc") === excerptId && col("in_doc") === long._1)
      .collect()
    assert(contained.length == 1 &&
      contained.head.getAs[Double]("containment") >= 0.9,
      s"excerpt not caught: ${contained.toSeq}")
    val jacc = Dedup.jaccardPairs(planted, n = 3, threshold = 0.5,
      maxDf = 50)
      .filter((col("doc_a") === long._1 && col("doc_b") === excerptId) ||
        (col("doc_a") === excerptId && col("doc_b") === long._1))
    assert(jacc.isEmpty,
      "jaccard should NOT flag the excerpt (union-dominated) — if it " +
        "does, this test stops demonstrating containment's value")
    // and the reverse direction is not spuriously flagged: the long
    // doc is NOT contained in its 30-token excerpt
    val reverse = Dedup.containmentPairs(planted, n = 3,
      threshold = 0.8, maxDf = 50)
      .filter(col("src_doc") === long._1 && col("in_doc") === excerptId)
    assert(reverse.isEmpty, "containment direction inverted")
  }

  test("clusters: components, min-id survivor, transitivity via chains") {
    import spark.implicits._
    // components: {1,2,3} via a chain (1-2, 2-3 — transitive, no 1-3
    // edge), {10,11}, and a longer chain {20..24} exercising multiple
    // propagation rounds
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got == Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false),
      10L -> (10L, true), 11L -> (10L, false),
      20L -> (20L, true), 21L -> (20L, false), 22L -> (20L, false),
      23L -> (20L, false), 24L -> (20L, false)))
  }

  test("cluster size distribution: planted families of known sizes " +
    "produce the exact histogram (d17 shape)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // families: one of 3 (chain), one of 2, one of 5 (chain), one of 2
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L),
      (30L, 31L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"),
        sum(col("cluster_size") - 1).as("n_removable"))
      .collect()
      .map(r => r.getAs[Long]("cluster_size") ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_removable"))).toMap
    assert(got == Map(
      2L -> (2L, 4L, 2L),   // {10,11}, {30,31}
      3L -> (1L, 3L, 2L),   // {1,2,3}
      5L -> (1L, 5L, 4L)))  // {20..24}
  }

  test("clusters: reliable-checkpoint mode (session checkpoint dir set) " +
    "produces identical output") {
    import spark.implicits._
    // the d08 shape under reliable checkpoint()+cluster-FS semantics
    // instead of localCheckpoint — the mode a long pipeline on spot
    // executors runs in. Output must be bit-identical.
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L))
      .toDF("doc_a", "doc_b")
    val local = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliable = Dedup.clusters(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(reliable == local)
      // the mode really engaged: checkpoint files were written
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "no reliable-checkpoint blocks were written")
    } finally {
      // restore localCheckpoint mode for the rest of the suite
      spark.sparkContext.setCheckpointDir(null)
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir))
    }
  }

  test("clusters on an empty pair set is empty, not an error") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clusters(empty).isEmpty)
  }

  test("cc driver union-find == distributed min-label loop on " +
    "randomized graphs (the r15 valve's two paths)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(421)
    val graphs = (1 to 4).map { _ =>
      val n = 20 + rnd.nextInt(60)
      (1 to 70).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
    } :+ (0L until 40L).map(i => (i, i + 1)) // pathological chain
    // the first graph once more with nullable id columns: the schema
    // both paths return follows the input's nullability
    val inputs = graphs.map(_.toDF("doc_a", "doc_b")) :+
      graphs.head.map { case (a, b) => (Option(a), Option(b)) }
        .toDF("doc_a", "doc_b")
    for (df <- inputs) {
      // public entry: under the edge valve, the driver union-find
      val foldDf = Dedup.clusters(df)
      val fold = foldDf.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      // the past-the-valve path, forced on the same symmetric edges
      val edges = df.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(df.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .repartition(col("src"))
        .localCheckpoint(true)
      val loopDf = Dedup.clustersLoop(edges, maxIters = 25)
      val loop = loopDf.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(foldDf.schema == loopDf.schema,
        s"fold schema ${foldDf.schema} != loop schema ${loopDf.schema}")
      assert(fold == loop,
        s"cc fold diverged from the loop on ${df.take(8).toSeq}…:\n" +
          s"  fold: ${fold.toSeq.sortBy(_._1).take(10)}\n" +
          s"  loop: ${loop.toSeq.sortBy(_._1).take(10)}")
    }
  }

  test("exact dedup groups identical texts deterministically") {
    import spark.implicits._
    val withDups = docs.select("doc_id", "text").unionAll(
      docs.filter($"doc_id" < 5).select($"doc_id" + 1000 as "doc_id", $"text"))
    val groups = Dedup.exact(withDups)
    val dupGroups = groups.filter($"n_docs" > 1)
    assert(dupGroups.count() == 5)
    // survivor is always the minimum doc_id (the original)
    assert(dupGroups.filter($"keep_id" >= 1000).isEmpty)
  }

  test("incremental signatures: delta-maintained pairs == full recompute " +
    "on a grown corpus") {
    import spark.implicits._
    // base corpus = first 200 docs; delta = the rest PLUS planted
    // near-copies of base docs (tail-token edit), so the delta's new
    // pairs genuinely cross the base/delta boundary
    val all = docs.select("doc_id", "text")
    val base = all.filter($"doc_id" < 200)
    val planted = base.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 100000L).as("doc_id"),
        concat($"text", lit(" tail")).as("text"))
    val delta = all.filter($"doc_id" >= 200).unionByName(planted)
    val grown = base.unionByName(delta)

    val store = tmpDir("sigstore")
    Dedup.writeSignatures(base, store)
    val basePairs = Dedup.minhashCandidates(base)
      .as[(Long, Long)].collect().toSet
    val deltaPairs = Dedup.updatePairs(delta, store)
      .as[(Long, Long)].collect().toSet
    val fullPairs = Dedup.minhashCandidates(grown)
      .as[(Long, Long)].collect().toSet

    // the delta path found the planted cross-boundary dups at all
    assert(deltaPairs.exists { case (a, b) => b - a == 100000L },
      "no planted base-vs-delta pair surfaced")
    // old pairs never recompute; delta emits ONLY pairs with a new member
    val newIds = delta.select("doc_id").as[Long].collect().toSet
    assert(deltaPairs.forall { case (a, b) =>
      newIds.contains(a) || newIds.contains(b) },
      "delta emitted an old-vs-old pair")
    // THE contract: union over deltas == full recompute
    assert((basePairs ++ deltaPairs) == fullPairs,
      s"delta-maintained ${basePairs.size}+${deltaPairs.size} != " +
        s"full ${fullPairs.size}")

    // store contents == full-rebuild signatures (ZoneMap.update ==
    // rebuild, applied to d03), and a RETRIED append folds away at read
    Dedup.updateSignatures(planted, store) // duplicate append
    val viaStore = Dedup.readSignatures(spark, store)
      .collect().map(_.toSeq).toSet
    val rebuild = Dedup.signatureRowsWithDl(grown, 3)
      .collect().map(_.toSeq).toSet
    assert(viaStore == rebuild,
      "incrementally-maintained store diverged from a full rebuild")
  }

  test("pre-dl signature stores refuse appends (schema-uniform stores: " +
    "no footer-sample-dependent mixed schemas — r14)") {
    import spark.implicits._
    val all = docs.select("doc_id", "text")
    val base = all.filter($"doc_id" < 100)
    val delta = all.filter($"doc_id" >= 100 && $"doc_id" < 120)
    // a pre-r13 store: the same signature rows WITHOUT the dl column
    val store = tmpDir("sigstore-predl")
    Dedup.signatureRowsWithDl(base, 3).drop("dl")
      .write.mode("overwrite").parquet(store)
    for (append <- Seq(
        () => Dedup.updateSignatures(delta, store),
        () => { Dedup.updatePairs(delta, store); () })) {
      val e = intercept[IllegalArgumentException](append())
      assert(e.getMessage.contains("rebuild"), e.getMessage)
    }
    // nothing leaked into the store: schema still dl-less, row count
    // unchanged (the refusal fired before any append)
    val after = spark.read.parquet(store)
    assert(!after.schema.fieldNames.contains("dl"))
    assert(after.count() == base.count())
    // a rebuild clears the refusal and appends work again
    Dedup.writeSignatures(base, store)
    Dedup.updateSignatures(delta, store)
    assert(Dedup.readSignatures(spark, store).count() ==
      base.count() + delta.count())
  }

  test("incremental jaccard: delta-maintained pairs == full recompute " +
    "when the df cap doesn't bind, with exact jaccard values") {
    import spark.implicits._
    val all = docs.select("doc_id", "text")
    val base = all.filter($"doc_id" < 200)
    val planted = base.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 100000L).as("doc_id"),
        concat($"text", lit(" tail")).as("text"))
    val delta = all.filter($"doc_id" >= 200).unionByName(planted)
    val grown = base.unionByName(delta)
    val (th, cap) = (0.3, 100000) // non-binding cap → exact equivalence

    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val store = tmpDir("shstore") + "/sh"
    Dedup.writeShingleStore(base, store)
    val p1 = toMap(Dedup.jaccardPairs(base, 3, th, cap))
    val p2 = toMap(Dedup.updateJaccardPairs(delta, store, 3, th, cap))
    val full = toMap(Dedup.jaccardPairs(grown, 3, th, cap))
    // delta emits only new-member pairs, including cross-boundary ones
    val newIds = delta.select("doc_id").as[Long].collect().toSet
    assert(p2.keys.forall { case (a, b) =>
      newIds.contains(a) || newIds.contains(b) })
    assert(p2.keys.exists { case (a, b) => b - a == 100000L })
    // union == full recompute, with identical jaccard VALUES (same
    // counting arithmetic on both paths, so exact double equality)
    assert(p1 ++ p2 == full,
      s"delta ${p1.size}+${p2.size} != full ${full.size}")
  }

  test("incremental jaccard: df-cap timing is the documented divergence " +
    "(emitted pairs are not retroactively revoked)") {
    import spark.implicits._
    // 4 docs sharing one boilerplate shingle; cap 3. At bootstrap the
    // shingle has df 2 → pair (1,2) emitted. The delta pushes df to 4
    // (> cap): a FULL recompute now drops every pair, but the
    // maintained union keeps the already-emitted (1,2).
    val base = Seq((1L, "common boiler phrase uniqa"),
      (2L, "common boiler phrase uniqb")).toDF("doc_id", "text")
    val delta = Seq((3L, "common boiler phrase uniqc"),
      (4L, "common boiler phrase uniqd")).toDF("doc_id", "text")
    val store = tmpDir("shstore-cap") + "/sh"
    Dedup.writeShingleStore(base, store)
    val p1 = Dedup.jaccardPairs(base, 3, 0.3, 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val p2 = Dedup.updateJaccardPairs(delta, store, 3, 0.3, 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val full = Dedup.jaccardPairs(base.unionByName(delta), 3, 0.3, 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(p1 == Set((1L, 2L)), s"bootstrap pair missing: $p1")
    assert(p2.isEmpty, s"capped shingle must emit nothing: $p2")
    assert(full.isEmpty, "full recompute should cap the pair away")
    // the union keeps history the recompute cannot see — by design
    assert((p1 ++ p2) != full)
  }

  test("dupSpans merges duplicated windows into maximal spans and " +
    "keeps disjoint shared paragraphs as separate spans") {
    import spark.implicits._
    val para = (0 until 12).map(i => s"shared$i").mkString(" ")
    val p2 = (0 until 6).map(i => s"twin$i").mkString(" ")
    val planted = Seq(
      // para at tokens 3..14 → windows 3..12
      (1L, "alpha beta gamma " + para + " delta epsilon"),
      // para at tokens 5..16 → windows 5..14
      (2L, "one two three four five " + para),
      (3L, "totally unrelated text with no duplicate windows at all"),
      // TWO disjoint shared regions: para at 0..11, p2 at 16..21 —
      // the island merge must NOT bridge the unique middle
      (4L, para + " unique middle tokens here " + p2),
      // p2 at tokens 3..8 → windows 3..6
      (5L, "x y z " + p2)).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(planted, n = 3, minDocs = 2)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(x => (x._1, x._2))
    assert(spans.toSeq == Seq(
      (1L, 3L, 14L, 12L, 10L),
      (2L, 5L, 16L, 12L, 10L),
      (4L, 0L, 11L, 12L, 10L),
      (4L, 16L, 21L, 6L, 4L),
      (5L, 3L, 8L, 6L, 4L)),
      s"unexpected span set: ${spans.toSeq}")
  }

  test("removeDupSpans cuts redundant spans with min-id survivors and " +
    "ragged n-1 boundaries, keeping owners verbatim") {
    import spark.implicits._
    val para = (0 until 12).map(i => s"shared$i").mkString(" ")
    val p2 = (0 until 6).map(i => s"twin$i").mkString(" ")
    val d1 = "alpha beta gamma " + para + " delta epsilon"
    val d3 = "totally unrelated text with no duplicate windows at all"
    val planted = Seq(
      (1L, d1),
      (2L, "one two three four five " + para),
      (3L, d3),
      (4L, para + " unique middle tokens here " + p2),
      (5L, "x y z " + p2)).toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(planted, n = 3, minDocs = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      // doc 1 owns every shared window (min id) → verbatim
      (1L, d1, 17L, 0L),
      // doc 2: run [5,14] hits the doc end → cut tokens 7..16, keep the
      // ragged boundary shared0/shared1
      (2L, "one two three four five shared0 shared1", 17L, 10L),
      (3L, d3, 9L, 0L),
      // doc 4: para's run [0,9] starts at the doc start → cut 0..9;
      // doc 4 OWNS the twin windows (min id vs doc 5) so p2 stays
      (4L, "shared10 shared11 unique middle tokens here " + p2, 22L, 10L),
      // doc 5: twin run [3,6] hits the doc end → cut 5..8
      (5L, "x y z twin0 twin1", 9L, 4L)),
      s"unexpected despan output: ${out.toSeq}")
  }

  test("dupSpans/removeDupSpans agree with a brute-force reference on " +
    "random collision-heavy corpora") {
    import spark.implicits._
    val n = 3
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e")
    // tiny vocab → dense window collisions: islands, doc-edge runs,
    // whole-doc removal, and sub-n docs all occur organically
    val corpus = (0 until 30).map(id => (id.toLong,
      Vector.fill(rnd.nextInt(12) + 1)(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")))
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toVector }
      .toMap
    val winsOf = toks.map { case (id, ts) =>
      id -> (if (ts.length >= n)
        (0 to ts.length - n).map(p => ts.slice(p, p + n).mkString(" "))
      else IndexedSeq.empty[String])
    }
    val docsOf = winsOf.toSeq
      .flatMap { case (id, ws) => ws.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).toSet }

    // brute spans: islands of positions whose window is in >=2 docs
    def runs(ps: Seq[Int]): Seq[(Int, Int)] =
      ps.sorted.foldLeft(List.empty[(Int, Int)]) {
        case ((a, b) :: rest, p) if p == b + 1 => (a, p) :: rest
        case (acc, p) => (p, p) :: acc
      }.reverse
    val expectSpans = (for {
      (id, ws) <- winsOf.toSeq
      dup = ws.zipWithIndex.collect {
        case (w, p) if docsOf(w).size >= 2 => p }
      (a, b) <- runs(dup)
    } yield (id, a.toLong, (b + n - 1).toLong, (b + n - a).toLong,
      (b - a + 1).toLong)).toSet
    val gotSpans = Dedup.dupSpans(corpus.toDF("doc_id", "text"), n, 2)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(gotSpans == expectSpans,
      s"spans diverge: extra=${gotSpans -- expectSpans} " +
        s"missing=${expectSpans -- gotSpans}")

    // brute removal: token j cut iff EVERY covering window is
    // redundant (>=2 docs and this doc is not the min-id owner) —
    // the defining rule, no interval closed form
    val expectClean = corpus.map { case (id, _) =>
      val ts = toks(id); val w = winsOf(id)
      def redundant(p: Int) =
        docsOf(w(p)).size >= 2 && docsOf(w(p)).min != id
      val kept = ts.indices.filter { j =>
        val lo = math.max(0, j - n + 1); val hi = math.min(j, w.size - 1)
        lo > hi || (lo to hi).exists(!redundant(_))
      }
      (id, kept.map(ts).mkString(" "), ts.size.toLong,
        (ts.size - kept.size).toLong)
    }.toSet
    val gotClean = Dedup.removeDupSpans(corpus.toDF("doc_id", "text"), n, 2)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(gotClean == expectClean,
      s"despan diverges: extra=${gotClean -- expectClean} " +
        s"missing=${expectClean -- gotClean}")
  }

  test("minhash estimated jaccard: exact duplicates score 1.0, every " +
    "estimate is a k-th, and estimates track exact jaccard on candidates") {
    import spark.implicits._
    val base = docs.select("doc_id", "text").limit(40)
      .as[(Long, String)].collect()
    // plant an exact duplicate of doc 0 under a fresh id
    val dupId = base.head._1 + 9000000L
    val planted = (base :+ ((dupId, base.head._2))).toSeq
      .toDF("doc_id", "text")
    val est = Dedup.minhashEstimatedPairs(planted, n = 3, minEst = 0.0)
      .as[(Long, Long, Double)].collect()
    val exactDup = est.filter(p =>
      (p._1 == base.head._1 && p._2 == dupId) ||
        (p._1 == dupId && p._2 == base.head._1))
    assert(exactDup.length == 1 && exactDup.head._3 == 1.0,
      s"exact duplicate should estimate 1.0: ${exactDup.toSeq}")
    // every estimate is an exact multiple of 1/16 (k = 16)
    assert(est.forall(p => (p._3 * 16) == math.rint(p._3 * 16)),
      "estimates must be exact sixteenths")
    // banding floor: every candidate agrees on >=1 full band of 4
    assert(est.forall(_._3 >= 4.0 / 16),
      "a candidate cannot match fewer components than one band")
  }

  test("rolling hash is stable and order-sensitive") {
    val h1 = TextAnalysis.rollingHash("the quick brown fox")
    assert(h1 == TextAnalysis.rollingHash("the quick brown fox"))
    assert(h1 != TextAnalysis.rollingHash("quick the brown fox"))
  }

  test("crossContamination flags a lightly-edited eval copy that exact " +
    "n-gram containment would need every gram to catch") {
    import spark.implicits._
    // eval doc + a train copy with ONE token changed mid-doc: jaccard
    // of 3-gram shingle sets stays far above 0.5 (only 3 of ~30
    // shingles differ), while a verbatim-copy detector keyed on any
    // single edited gram can miss. An unrelated train doc must not
    // flag.
    val evalText = (1 to 30).map(i => s"w$i").mkString(" ")
    val editedCopy = (1 to 30)
      .map(i => if (i == 15) "EDITED" else s"w$i").mkString(" ")
    val unrelated = (1 to 30).map(i => s"z$i").mkString(" ")
    val train = Seq((100L, editedCopy), (101L, unrelated)).toDF("doc_id", "text")
    val eval_ = Seq((1L, evalText)).toDF("doc_id", "text")
    val flagged = Dedup.crossContamination(train, eval_, n = 3, minEst = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(flagged.contains(100L), s"edited copy must flag: $flagged")
    assert(flagged(100L) >= 0.5 && flagged(100L) <= 1.0)
    assert(!flagged.contains(101L), "unrelated doc must not flag")
  }

  test("crossContamination is empty when the splits share nothing") {
    import spark.implicits._
    val train = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val eval_ = Seq((2L, "q r s t u v")).toDF("doc_id", "text")
    assert(Dedup.crossContamination(train, eval_, n = 3).isEmpty)
  }

  test("jaccardClusterEdges: clusters == the naive jaccardPairs " +
    "composition row-for-row — replicated corpus, cap-starved family, " +
    "bridge-only groups, randomized corpora") {
    import spark.implicits._
    def pin(d: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val fast = Dedup.clusters(Dedup.jaccardClusterEdges(d, n = 3,
        threshold = 0.5, maxDf = 50)).collect().map(_.toSeq).toSet
      val naive = Dedup.clusters(Dedup.jaccardPairs(d, n = 3,
        threshold = 0.5, maxDf = 50)
        .select(col("doc_a"), col("doc_b"))).collect().map(_.toSeq).toSet
      assert(fast == naive, s"$label: collapsed clustering diverged")
    }
    // the real corpus (has planted near-dups and exact dups)
    pin(docs.select("doc_id", "text"), "corpus")
    // a 5x-replicated shard corpus — the x30 ladder shape where the
    // naive plan pays C(5,2) per family per shingle
    val base = docs.filter(col("doc_id") < 60).select("doc_id", "text")
    val replicated = (0 until 5).map(i => base.select(
      (col("doc_id") + lit(i * 1000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
    pin(replicated, "replicated")
    // cap-starved exact family: 60 copies of one text push every one
    // of its shingles past maxDf=50 — the FULL plan yields NO pairs
    // for it (capped intersection 0), so the collapsed plan must not
    // link the copies either (the member-edge qualification rule)
    val starved = (0 until 60).map(i => (5000L + i, "alpha beta gamma " +
      "delta epsilon zeta eta theta")).toDF("doc_id", "text")
    pin(base.unionByName(starved), "cap-starved family")
    // bridge case: a group whose internal pairs fail the threshold
    // can still be connected THROUGH another group's members
    val shared = "one two three four five six seven eight nine ten"
    val bridge = Seq(
      (1L, shared), (2L, shared), // an exact pair
      (3L, shared + " eleven twelve")) // near-dup of both
      .toDF("doc_id", "text")
    pin(bridge, "bridge")
    // randomized: shuffled vocab soup with planted copies
    val rnd = new scala.util.Random(7)
    val vocab = Vector("red", "blue", "green", "dup", "spark", "scan",
      "merge", "key", "sort", "row")
    val soup = (0 until 120).map { i =>
      val t = (0 until 8 + rnd.nextInt(8))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (i.toLong, t)
    }
    val withCopies = soup ++ soup.take(30)
      .map { case (id, t) => (id + 10000L, t) }
    pin(withCopies.toDF("doc_id", "text"), "randomized+copies")
  }

  test("signature-store tombstones: a deleted doc leaves every read " +
    "and update path, cannot re-enter, and compaction drops it " +
    "physically") {
    val path = tmpDir("sig-tomb") + "/sigs"
    val base = docs.filter(col("doc_id") < 60).select("doc_id", "text")
    Dedup.writeSignatures(base, path)
    val victim = 5L
    Dedup.deleteSignatures(spark, path, Seq(victim))
    assert(Dedup.readSignatures(spark, path)
      .filter(col("doc_id") === victim).count() == 0,
      "tombstoned doc still read from the signature store")
    // a delta that re-presents the victim (plus genuinely new docs):
    // no pair may name the victim, and the store must not re-admit it
    val delta = docs.filter(col("doc_id") >= 60 && col("doc_id") < 90)
      .unionByName(docs.filter(col("doc_id") === victim))
      .select("doc_id", "text")
    val pairs = Dedup.updatePairs(delta, path).collect()
    assert(!pairs.exists(r =>
        r.getLong(0) == victim || r.getLong(1) == victim),
      "updatePairs emitted a pair naming a tombstoned doc")
    assert(Dedup.readSignatures(spark, path)
      .filter(col("doc_id") === victim).count() == 0,
      "a re-presented tombstoned doc re-entered the store")
    Dedup.updateSignatures(docs.filter(col("doc_id") === victim), path)
    assert(Dedup.readSignatures(spark, path)
      .filter(col("doc_id") === victim).count() == 0,
      "updateSignatures re-admitted a tombstoned doc")
    // replayed delete: facts append, reads stable
    val before = Dedup.readSignatures(spark, path)
      .collect().map(_.toSeq).toSet
    Dedup.deleteSignatures(spark, path, Seq(victim))
    assert(Dedup.readSignatures(spark, path)
      .collect().map(_.toSeq).toSet == before,
      "replayed delete changed the readable store")
    // compaction: physical rows == the readable (folded, live) set,
    // reads unchanged
    Dedup.compactSignatures(spark, path)
    val physical = spark.read.parquet(path)
      .collect().map(_.toSeq).toSet
    assert(physical == before,
      "compacted store != the folded tombstone-free row set")
    assert(Dedup.readSignatures(spark, path)
      .collect().map(_.toSeq).toSet == before,
      "compaction changed read results")
    // crash between the compaction swap's renames: every entry point
    // recovers from __old instead of reading the store as missing
    val f = new java.io.File(path).getParentFile
    assert(new java.io.File(f, "sigs")
      .renameTo(new java.io.File(f, "sigs__old")))
    assert(Dedup.storeExists(spark, path),
      "storeExists reported a recoverable store as missing")
    assert(Dedup.readSignatures(spark, path)
      .collect().map(_.toSeq).toSet == before,
      "interrupted compaction swap not recovered")
    assert(!Dedup.storeExists(spark, path + "-nonexistent"))
  }

  test("signature-store drift advisory (s27): store-fed == corpus-scan " +
    "bit for bit, self-report is identity, duplicate mass trips " +
    "pair_delta, doc-length shift trips avgdl, text-distinct growth " +
    "does not trip, pre-baseline stores fail loudly, initIfStale " +
    "rebuilds on a changed corpus only") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, lit}
    val base = docs.filter(col("doc_id") < 300).select("doc_id", "text")
    val path = tmpDir("sig-drift") + "/sigs"
    assert(Dedup.initSignaturesIfStale(base, path), "first build")
    assert(!Dedup.initSignaturesIfStale(base, path),
      "unchanged corpus must not rebuild")
    // identity right after init
    val self = Dedup.sigDriftReportFromStore(spark, path).collect()(0)
    assert(self.getAs[Double]("n_ratio") == 1.0 &&
      self.getAs[Double]("avgdl_ratio") == 1.0 &&
      self.getAs[Double]("pair_delta") == 0.0 &&
      !self.getAs[Boolean]("stale"), s"self-report not identity: $self")
    // store-fed == corpus-scan twin, bit for bit
    val scan = Dedup.sigDriftReportScan(base, path).collect()(0)
    assert(self.toSeq == scan.toSeq,
      s"store-fed != corpus-scan: $self vs $scan")
    // same-DISTRIBUTION growth: word-reversed twins of the base —
    // same lengths, same dup-family structure, but (word-3-gram)
    // shingle sets disjoint from the forward corpus, so pairs-per-doc
    // stays flat and the advisory must NOT trip. (Appending a token
    // to a base doc would NOT qualify: a one-token edit IS a
    // near-duplicate, and the advisory is right to count it.)
    val uniqueGrowth = base.select((col("doc_id") + 500000L).as("doc_id"),
      array_join(reverse(split(col("text"), " ")), " ").as("text"))
    Dedup.updateSignatures(uniqueGrowth, path)
    val g = Dedup.sigDriftReportFromStore(spark, path).collect()(0)
    assert(g.getAs[Long]("n_current") > g.getAs[Long]("n_base") &&
      !g.getAs[Boolean]("stale"),
      s"text-distinct growth misread as drift: $g")
    // ... and still equals the scan twin over the grown set
    val gScan = Dedup.sigDriftReportScan(
      base.unionByName(uniqueGrowth), path).collect()(0)
    assert(g.toSeq == gScan.toSeq,
      s"post-drain store-fed != corpus-scan: $g vs $gScan")
    // duplicate mass (the re-drained corpus failure mode): every base
    // text re-presented under a fresh id — pair_delta trips
    val dupFlood = base.select((col("doc_id") + 900000L).as("doc_id"),
      col("text"))
    Dedup.updateSignatures(dupFlood, path)
    val dup = Dedup.sigDriftReportFromStore(spark, path).collect()(0)
    assert(dup.getAs[Double]("pair_delta") > 0.5 &&
      dup.getAs[Boolean]("stale"),
      s"planted duplicate mass did not trip the advisory: $dup")
    assert(Dedup.resignatureAdvised(spark, path),
      "resignatureAdvised disagreed with the report")
    // doc-length shift on a FRESH store: unique long padding shifts
    // avgdl without adding duplicate mass
    val path2 = tmpDir("sig-drift-dl") + "/sigs"
    Dedup.initSignaturesIfStale(base, path2)
    val longer = base.select((col("doc_id") + 700000L).as("doc_id"),
      concat(col("text"), lit(" "),
        concat_ws(" ", (1 to 60).map(i =>
          concat(lit(s"qq$i"), col("doc_id"))): _*)).as("text"))
    Dedup.updateSignatures(longer, path2)
    val dl = Dedup.sigDriftReportFromStore(spark, path2).collect()(0)
    assert(math.abs(dl.getAs[Double]("avgdl_ratio") - 1.0) > 0.05 &&
      dl.getAs[Boolean]("stale"),
      s"planted doc-length shift did not trip the advisory: $dl")
    // a changed corpus at the same path: initIfStale rebuilds and the
    // baseline re-records (identity again)
    assert(Dedup.initSignaturesIfStale(base.limit(100), path2),
      "a changed corpus must read as stale")
    assert(!Dedup.sigDriftReportFromStore(spark, path2).collect()(0)
      .getAs[Boolean]("stale"), "rebuild did not re-record the baseline")
    // pre-baseline store (the pre-r13 layout): loud failure
    val path3 = tmpDir("sig-drift-old") + "/sigs"
    Dedup.minhashSignatures(base).write.mode("overwrite").parquet(path3)
    val ex = intercept[IllegalArgumentException] {
      Dedup.sigDriftReportFromStore(spark, path3)
    }
    assert(ex.getMessage.contains("predates drift baselines"))
  }

  test("d18 paragraph dedup: global first occurrence wins by " +
    "(doc_id, idx), intra-doc repeats drop, order preserved, " +
    "all-dup docs come back empty, idempotent") {
    import spark.implicits._
    val docs = Seq(
      (5L, "NAV\nunique five\nNAV\nFOOTER"), // intra-doc NAV repeat
      (2L, "NAV\nunique two\nFOOTER"), // smallest doc: wins NAV+FOOTER
      (9L, "NAV\nFOOTER"), // nothing unique → empty clean_text
      (7L, "unique seven\nunique seven")) // self-dup only
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(2L) == ((3, 3, "NAV\nunique two\nFOOTER")),
      "the smallest doc_id must keep every paragraph it leads")
    assert(out(5L) == ((4, 1, "unique five")),
      "later doc kept boilerplate or its own repeat")
    assert(out(9L) == ((2, 0, "")),
      "an all-boilerplate doc must survive as an empty row")
    assert(out(7L) == ((2, 1, "unique seven")),
      "intra-doc repeat survived")
    // idempotent: running again on the cleaned corpus changes nothing
    val cleaned = Dedup.paragraphDedup(docs)
      .select(col("doc_id"), col("clean_text").as("text"))
    val twice = Dedup.paragraphDedup(cleaned).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    // empty docs re-split to one empty para; unique content is stable
    assert(twice(2L) == "NAV\nunique two\nFOOTER")
    assert(twice(5L) == "unique five")
    assert(twice(7L) == "unique seven")
    // corpus scale-shape: every doc row survives, kept <= paras
    val corpus = Html.extractFacts(spark,
      Html.asHtmlPages(spark, Tables.documents(spark, sf0001)))
      .select(col("doc_id"), col("text"))
    val full = Dedup.paragraphDedup(corpus).collect()
    assert(full.length == corpus.count())
    assert(full.forall(r => r.getInt(2) <= r.getInt(1)))
    // the footer repeats every 100 ids → only its first bearer keeps it
    val withFooter = full.count(_.getString(3).contains("© corpus"))
    val distinctFooters = corpus.as[(Long, String)].collect()
      .flatMap(_._2.split("\n").filter(_.startsWith("©"))).distinct
    assert(withFooter == distinctFooters.length,
      "footer boilerplate survived beyond its first bearer")
  }
}
