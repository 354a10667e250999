package graft.ext

import graft.{SparkTestBase, Tables}
import graft.ext.Retrieval.Bm25Model
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Contracts of the BM25 retrieval family (s09 + the deployment
  * scorer): formula correctness from first principles, batch-vs-scorer
  * agreement, streaming statelessness, and the narrow-plan claim.
  */
class RetrievalSpec extends SparkTestBase {

  import spark.implicits._

  private def tiny: DataFrame = Seq(
    (1L, "rare common common"),
    (2L, "common common common common"),
    (3L, "other words only here")).toDF("doc_id", "text")

  /** Scalar BM25 recomputed from first principles — plain Scala, no
    * Spark — so the distributed assembly (tf, df, dl, avgdl, idf) is
    * checked against an independent derivation, not against itself.
    */
  private def scalarBm25(tf: Long, df: Long, dl: Long, nDocs: Long,
                         avgdl: Double, k1: Double = 1.2,
                         b: Double = 0.75): Double = {
    val idf = math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
    val w = idf * ((tf * (k1 + 1.0)) /
      (tf + k1 * ((1.0 - b) + (b * dl) / avgdl)))
    BigDecimal(w).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("bm25TopK matches a hand derivation and ranks rarity over " +
    "repetition") {
    val got = Retrieval.bm25TopK(tiny, Seq("rare", "common"), k = 10)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_terms"), r.getAs[Double]("score"))).toMap
    // corpus stats: N=3, dl = 3/4/4, avgdl = 11/3
    val avgdl = 11.0 / 3.0
    val d1 = BigDecimal(scalarBm25(1, 1, 3, 3, avgdl) +
        scalarBm25(2, 2, 3, 3, avgdl))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d2 = BigDecimal(scalarBm25(4, 2, 4, 3, avgdl))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set(1L, 2L), s"hit set: ${got.keySet}")
    assert(got(1L) == ((2L, d1)), s"doc 1: ${got(1L)} vs $d1")
    assert(got(2L) == ((1L, d2)), s"doc 2: ${got(2L)} vs $d2")
    // the rare term beats four repetitions of the common one — tf
    // saturation plus idf, the two properties BM25 exists to encode
    assert(got(1L)._2 > got(2L)._2)
  }

  test("bm25Score agrees with the oracle-checked batch ranker") {
    val docs = Tables.documents(spark, sf0001)
    val terms = Seq("dup", "merge", "spark")
    val model = Retrieval.bm25Model(docs, terms)
    val batch = Retrieval.bm25TopK(docs, terms, k = 1000)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_terms"), r.getAs[Double]("score"))).toMap
    val scored = Retrieval.bm25Score(docs, model)
      .select(col("doc_id"), col("n_terms"), col("score"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_terms"), r.getAs[Double]("score"))).toMap
    assert(batch.nonEmpty, "sf0.001 corpus produced no BM25 hits")
    // every batch hit must be scored identically up to the round-4
    // grid (in-row double sum vs order-free decimal sum — adjacent
    // grid points possible only at exact half-way doubles)
    for ((id, (n, s)) <- batch) {
      val (gn, gs) = scored(id)
      assert(gn == n, s"doc $id n_terms: scorer $gn vs batch $n")
      assert(math.abs(gs - s) <= 2e-4 + 1e-12,
        s"doc $id score: scorer $gs vs batch $s")
    }
    // and every zero-hit document scores exactly zero
    val zero = scored.filter(_._2._1 == 0L)
    assert(zero.forall(_._2._2 == 0.0),
      "zero-hit document with nonzero score")
    assert(zero.keySet == scored.keySet -- batch.keySet)
  }

  test("bm25Score is a stateless streaming transform; drain == batch") {
    val model = Retrieval.bm25Model(tiny, Seq("rare", "common"))
    def stage(df: DataFrame, dir: String, name: String): Unit = {
      val tmp = tmpDir("bm25-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(dir, name))
    }
    val srcDir = tmpDir("bm25-stream-src")
    stage(tiny.filter(col("doc_id") <= 1), srcDir, "a.parquet")
    stage(tiny.filter(col("doc_id") > 1), srcDir, "b.parquet")
    val stream = spark.readStream.schema(tiny.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val scoredStream = Retrieval.bm25Score(stream, model)
    assert(scoredStream.isStreaming,
      "bm25 scoring must stay a stateless streaming transform")
    graft.streaming.StreamingOps.runToCompletion(scoredStream,
      "bm25_stream", org.apache.spark.sql.streaming.OutputMode.Append())
    val streamed = spark.table("bm25_stream")
      .select("doc_id", "n_terms", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Retrieval.bm25Score(tiny, model)
      .select("doc_id", "n_terms", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch,
      "streamed bm25 scoring diverged from the batch operator")
  }

  test("bm25Score plans a single narrow stage — no shuffle, no " +
    "generate") {
    val model = Bm25Model(nDocs = 100L, avgdl = 25.0,
      df = Map("alpha" -> 10L, "beta" -> 3L), k1 = 1.2, b = 0.75)
    val plan = Retrieval.bm25Score(tiny, model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scorer shuffles:\n$plan")
    assert(!plan.contains("Generate"), s"scorer explodes:\n$plan")
  }

  test("streaming index maintenance: drain == batch model, second " +
    "drain is a no-op, delta-only growth, replayed append folds") {
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text")
    val terms = Seq("dup", "merge", "spark")
    val srcDir = tmpDir("bm25-idx-src")
    val store = tmpDir("bm25-idx-store") + "/idx"
    val ckpt = tmpDir("bm25-idx-ckpt")
    def stage(df: DataFrame, name: String): Unit = {
      val tmp = tmpDir("bm25-idx-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(srcDir, name))
    }
    val base = docs.filter(col("doc_id") < 60)
    val delta = docs.filter(col("doc_id") >= 60 && col("doc_id") < 90)
    stage(base, "base.parquet")
    // bootstrap drain: model from the store == the batch model
    val n1 = graft.streaming.StreamingRetrieval
      .maintainStream(spark, srcDir, store, ckpt)
    assert(n1 == base.count())
    val m1 = Retrieval.modelFromIndex(spark, store, terms)
    assert(m1 == Retrieval.bm25Model(base, terms),
      "bootstrap-drain model diverged from the batch model")
    // no-op re-drain: nothing new behind the checkpoint
    val postingsBefore = spark.read.parquet(s"$store/postings").count()
    val n2 = graft.streaming.StreamingRetrieval
      .maintainStream(spark, srcDir, store, ckpt)
    assert(n2 == n1)
    assert(spark.read.parquet(s"$store/postings").count()
      == postingsBefore, "a no-op drain grew the postings store")
    // incremental drain: only the delta is tokenized/appended, and
    // the grown model equals the batch model over the full corpus
    stage(delta, "delta.parquet")
    graft.streaming.StreamingRetrieval
      .maintainStream(spark, srcDir, store, ckpt)
    val grown = spark.read.parquet(s"$store/postings")
    assert(grown.count() - postingsBefore
      == grown.filter(col("doc_id") >= 60).count(),
      "incremental drain re-appended pre-existing documents")
    val m2 = Retrieval.modelFromIndex(spark, store, terms)
    assert(m2 == Retrieval.bm25Model(base.unionByName(delta), terms),
      "grown model diverged from the batch model over the full corpus")
    // at-least-once replay: re-appending an already-indexed batch
    // changes nothing at read (bit-identical rows fold in distinct)
    Retrieval.updateIndex(delta, store)
    assert(Retrieval.modelFromIndex(spark, store, terms) == m2,
      "replayed append leaked duplicate counts into the model")
    // the per-drain advisory needs an INIT-TIME baseline: a store
    // grown only by drains has none and must fail loudly, not report
    // drift against garbage
    val exB = intercept[IllegalArgumentException] {
      Retrieval.lexDriftReportFromIndex(spark, store)
    }
    assert(exB.getMessage.contains("predates drift baselines"))
    // the production flow — bootstrap with a baseline, THEN drain:
    // the store-fed advisory after the drain equals the corpus-scan
    // twin over base ∪ delta bit for bit, at store-read cost (this is
    // the "affordable after every drain" claim exercised through the
    // actual streaming path)
    val store2 = tmpDir("bm25-idx-store2") + "/idx"
    val ckpt2 = tmpDir("bm25-idx-ckpt2")
    val srcDir2 = tmpDir("bm25-idx-src2")
    Retrieval.initIndexIfStale(base, store2)
    val tmp2 = tmpDir("bm25-idx-stage2")
    delta.coalesce(1).write.mode("overwrite").parquet(tmp2)
    java.nio.file.Files.copy(
      new java.io.File(tmp2).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath,
      java.nio.file.Paths.get(srcDir2, "delta.parquet"))
    graft.streaming.StreamingRetrieval
      .maintainStream(spark, srcDir2, store2, ckpt2)
    val fed = Retrieval.lexDriftReportFromIndex(spark, store2)
      .collect()(0)
    val scanTwin = Retrieval.lexDriftReportScan(
      base.unionByName(delta), store2).collect()(0)
    assert(fed.toSeq == scanTwin.toSeq,
      s"post-drain store-fed advisory != corpus-scan twin: " +
        s"$fed vs $scanTwin")
    // (no not-stale assertion here: at this test's deliberately tiny
    // sizes — a 60-doc baseline — df-fraction estimates are noisy
    // enough to legitimately trip; the "same-distribution growth does
    // not trip" property is pinned at realistic sizes in the
    // dedicated lexical-drift test. The bit-for-bit parity above is
    // this test's claim.)
  }

  test("index stores compact like any other append log: fewer files, " +
    "identical query results") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val terms = Seq("dup", "merge", "spark")
    val store = tmpDir("bm25-compact") + "/idx"
    // ten tiny appends = the fragmentation a drain-per-delta run accrues
    for (i <- 0 until 10)
      Retrieval.updateIndex(
        docs.filter(col("doc_id") % 10 === i), store)
    val before = Retrieval.queryIndex(spark, store, terms, k = 30)
      .collect().toSeq.map(_.toSeq)
    val rep = graft.engine.Compactor.compact(spark,
      s"$store/postings", targetBytes = 512L << 20)
    assert(rep.compacted && rep.filesAfter < rep.filesBefore,
      s"postings store did not compact: $rep")
    graft.engine.Compactor.compact(spark, s"$store/lengths")
    val after = Retrieval.queryIndex(spark, store, terms, k = 30)
      .collect().toSeq.map(_.toSeq)
    assert(after == before,
      "compaction changed index-backed query results")
  }

  test("updateIndex id gate: a replayed batch appends NOTHING, a " +
    "re-presented id with changed text is skipped (ids are immutable), " +
    "scores unchanged") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val store = tmpDir("idx-idgate") + "/idx"
    Retrieval.updateIndex(docs, store)
    def files(sub: String): Int =
      new java.io.File(s"$store/$sub").listFiles()
        .count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
    val (pf, lf) = (files("postings"), files("lengths"))
    val before = Retrieval.queryIndex(spark, store, Seq("dup"), 5)
      .collect().map(_.toSeq).toSeq
    // full replay: not even new part files (the old contract absorbed
    // bit-identical rows at read; the id gate stops the write itself)
    Retrieval.updateIndex(docs, store)
    assert(files("postings") == pf && files("lengths") == lf,
      "replayed batch wrote to the stores")
    // changed text under a live id: skipped — a divergent posting set
    // would double-count tf into every score silently
    val mutated = Seq((before.head.head.asInstanceOf[Long],
      "dup dup dup dup dup dup")).toDF("doc_id", "text")
    Retrieval.updateIndex(mutated, store)
    assert(Retrieval.queryIndex(spark, store, Seq("dup"), 5)
      .collect().map(_.toSeq).toSeq == before,
      "a re-presented id with changed text altered the ranking")
    // an empty surviving batch after the gate is a clean no-op
    Retrieval.updateIndex(docs.limit(0), store)
    assert(files("postings") == pf && files("lengths") == lf)
  }

  test("updateIndex: an exactly-duplicated doc row in one batch does " +
    "not inflate tf") {
    import spark.implicits._
    val doc = Seq((1L, "dup dup merge")).toDF("doc_id", "text")
    val store = tmpDir("bm25-dupbatch") + "/idx"
    Retrieval.updateIndex(doc.unionByName(doc), store)
    val tf = spark.read.parquet(s"$store/postings").collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("tf")).toMap
    assert(tf == Map("dup" -> 2L, "merge" -> 1L),
      s"duplicated batch row corrupted tf: $tf")
  }

  test("index-backed query == corpus-scan ranker; the term filter " +
    "pushes into the postings scan") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val terms = Seq("dup", "merge", "spark")
    val store = tmpDir("bm25-qidx") + "/idx"
    Retrieval.updateIndex(docs, store)
    val got = Retrieval.queryIndex(spark, store, terms, k = 50)
    // same integers (tf, df, dl, N, dl_tot) through the same
    // arithmetic: the two surfaces must agree EXACTLY, row for row
    val exp = Retrieval.bm25TopK(docs, terms, k = 50)
    assert(got.collect().toSeq.map(_.toSeq)
      == exp.collect().toSeq.map(_.toSeq),
      "index-backed ranking diverged from the corpus-scan ranker")
    // the whole point of the index: query cost ∝ posting lists of
    // the query terms — the isin must reach the parquet scan
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [In(token"),
      s"token filter not pushed into the postings scan:\n$p")
  }

  test("index tombstones: a deleted doc vanishes from queryIndex AND " +
    "the model (== surviving-corpus model exactly), cannot re-enter, " +
    "compactIndex drops it physically with results unchanged") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val terms = Seq("dup", "merge", "spark")
    val store = tmpDir("bm25-tomb") + "/idx"
    Retrieval.updateIndex(docs, store)
    val victim = Retrieval.queryIndex(spark, store, terms, k = 1)
      .collect().head.getLong(0)
    Retrieval.deleteFromIndex(spark, store, Seq(victim))
    val survivors = docs.filter(col("doc_id") =!= victim)
    val got = Retrieval.queryIndex(spark, store, terms, k = 50)
      .collect().toSeq.map(_.toSeq)
    assert(!got.exists(_.head == victim),
      s"tombstoned doc $victim still retrievable")
    // the strong pin: with the doc's postings AND length row excluded,
    // the store-backed model and ranking equal the batch forms over
    // the surviving corpus EXACTLY (N, avgdl, df all drop the victim)
    assert(Retrieval.modelFromIndex(spark, store, terms)
      == Retrieval.bm25Model(survivors, terms),
      "store model != surviving-corpus model after delete")
    assert(got == Retrieval.bm25TopK(survivors, terms, k = 50)
      .collect().toSeq.map(_.toSeq),
      "store ranking != surviving-corpus ranking after delete")
    // resurrect refused; replayed delete harmless
    Retrieval.updateIndex(docs.filter(col("doc_id") === victim), store)
    Retrieval.deleteFromIndex(spark, store, Seq(victim))
    assert(Retrieval.modelFromIndex(spark, store, terms)
      == Retrieval.bm25Model(survivors, terms),
      "updateIndex re-admitted a tombstoned doc")
    // physical compaction: dead rows dropped, results unchanged
    val rep = Retrieval.compactIndex(spark, store)
    assert(rep.postingsAfter < rep.postingsBefore,
      s"compaction dropped nothing: $rep")
    assert(spark.read.parquet(s"$store/postings")
      .filter(col("doc_id") === victim).count() == 0,
      "tombstoned doc's postings survived compaction")
    assert(Retrieval.queryIndex(spark, store, terms, k = 50)
      .collect().toSeq.map(_.toSeq) == got,
      "compaction changed query results")
    // loud failure modes
    val ex = intercept[IllegalArgumentException] {
      Retrieval.deleteFromIndex(spark, store, Seq.empty)
    }
    assert(ex.getMessage.contains("at least one"))
  }

  test("hybridQueryStores: lex ranks == bm25TopK over the corpus, " +
    "dense ranks == the vector store's, fused arithmetic exact, and " +
    "the executed plan scans NO corpus table") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val e = Tables.embeddings(spark, sf0001)
    val queries = Seq(0L -> Seq("dup", "merge"),
      1L -> Seq("spark", "window"))
    val bmStore = tmpDir("hyb-bm25") + "/idx"
    val vStore = tmpDir("hyb-vidx") + "/idx"
    assert(Retrieval.initIndexIfStale(docs, bmStore), "first build")
    assert(!Retrieval.initIndexIfStale(docs, bmStore), "warm serve")
    // a SAME-LENGTH rewrite under stable ids must read as stale (the
    // crc content term — count, id-sum and length-sum all collide)
    val rewritten = docs.select(col("doc_id"),
      translate(col("text"), "aeiou", "eioua").as("text"))
    assert(Retrieval.initIndexIfStale(rewritten, bmStore),
      "same-length rewritten corpus served from a stale index")
    assert(Retrieval.initIndexIfStale(docs, bmStore),
      "rebuild back to the original corpus")
    assert(!Retrieval.initIndexIfStale(docs, bmStore), "warm again")
    VectorIndex.init(e, vStore, coarseIters = 2)
    // the request's own vectors, as a local relation
    val qVecs = e.filter(col("vec_id") < 2)
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toSeq
      .map { case (id, emb) => (id, emb.toSeq) }
      .toDF("vec_id", "embedding")
    val got = Retrieval.hybridQueryStores(spark, bmStore, vStore,
      queries, qVecs, k = 10, depth = 20)
    val rows = got.collect()
    assert(rows.nonEmpty)
    // lex leg: every reported lex_rank matches the corpus-scan ranker
    // over that query's own term bag (df from the union filter is the
    // same global per-token count)
    for ((qid, terms) <- queries) {
      val expect = Retrieval.bm25TopK(docs, terms, k = 20).collect()
        .zipWithIndex.map { case (r, i) => r.getLong(0) -> (i + 1) }
        .toMap
      for (r <- rows if r.getLong(0) == qid && r.getInt(2) > 0)
        assert(expect.get(r.getLong(1)).contains(r.getInt(2)),
          s"lex_rank mismatch for query $qid doc ${r.getLong(1)}")
    }
    // dense leg: every reported dense_rank is the vector store's own
    val denseExpect = VectorIndex.query(spark, vStore, qVecs, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3))
      .toMap
    for (r <- rows if r.getInt(3) > 0)
      assert(denseExpect.get((r.getLong(0), r.getLong(1)))
        .contains(r.getInt(3)),
        s"dense_rank mismatch for ${(r.getLong(0), r.getLong(1))}")
    // fused arithmetic: the shared RRF rule, recomputed per row
    for (r <- rows) {
      val lex = if (r.getInt(2) > 0) 1.0 / (60 + r.getInt(2)) else 0.0
      val dense = if (r.getInt(3) > 0) 1.0 / (60 + r.getInt(3)) else 0.0
      val want = BigDecimal(lex + dense)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) == want, s"fused mismatch on $r")
    }
    // the production property: ranking never touches a corpus table —
    // both legs read ONLY the persisted stores. The legs execute
    // EAGERLY since the r15 fuse fold, so audit every captured
    // execution, not the returned (local) frame's plan.
    val plans = capturedPlans {
      Retrieval.hybridQueryStores(spark, bmStore, vStore, queries,
        qVecs, k = 10, depth = 20).collect()
    }
    assert(plans.nonEmpty)
    val corpusScans = plans.filter(p =>
      p.contains("documents.parquet") || p.contains("embeddings.parquet"))
    assert(corpusScans.isEmpty,
      s"store-fed hybrid scanned a corpus table:\n" +
        corpusScans.headOption.getOrElse(""))
    assert(plans.exists(_.contains("PushedFilters: [In(token")),
      s"token filter not pushed into the postings scan")
  }

  test("hybridQueryStoresRerank: dense ranks == the exact-tail " +
    "queryRerank's, lex leg identical to hybridQueryStores, and the " +
    "ONLY corpus read is the pushed vec_id candidate fetch") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val e = Tables.embeddings(spark, sf0001)
    val queries = Seq(0L -> Seq("dup", "merge"),
      1L -> Seq("spark", "window"))
    val bmStore = tmpDir("hybx-bm25") + "/idx"
    val vStore = tmpDir("hybx-vidx") + "/idx"
    Retrieval.initIndexIfStale(docs, bmStore)
    VectorIndex.init(e, vStore, coarseIters = 2)
    val qVecs = e.filter(col("vec_id") < 2)
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toSeq
      .map { case (id, emb) => (id, emb.toSeq) }
      .toDF("vec_id", "embedding")
    val got = Retrieval.hybridQueryStoresRerank(spark, bmStore, vStore,
      e, queries, qVecs, k = 10, depth = 20)
    val rows = got.collect()
    assert(rows.nonEmpty)
    // dense leg: every reported dense_rank is the two-stage exact
    // re-rank's own (store nominates, originals re-rank)
    val denseExpect = VectorIndex.queryRerank(spark, vStore, e, qVecs,
        k = 20, rerank = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    for (r <- rows if r.getInt(3) > 0)
      assert(denseExpect.get((r.getLong(0), r.getLong(1)))
        .contains(r.getInt(3)),
        s"dense_rank mismatch for ${(r.getLong(0), r.getLong(1))}")
    // lex leg: identical to the approx-tail surface's (one shared
    // definition — any drift is a bug)
    val approx = Retrieval.hybridQueryStores(spark, bmStore, vStore,
      queries, qVecs, k = 10, depth = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val gotLex = rows.filter(_.getInt(2) > 0)
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    gotLex.foreach { case (key, lr) =>
      approx.get(key).filter(_ > 0).foreach(alr =>
        assert(alr == lr, s"lex leg drifted between surfaces at $key"))
    }
    // fused arithmetic: the shared RRF rule, recomputed per row
    for (r <- rows) {
      val lex = if (r.getInt(2) > 0) 1.0 / (60 + r.getInt(2)) else 0.0
      val dense = if (r.getInt(3) > 0) 1.0 / (60 + r.getInt(3)) else 0.0
      val want = BigDecimal(lex + dense)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) == want, s"fused mismatch on $r")
    }
    // the production property: documents NEVER read; the one
    // embeddings read is the candidate fetch with the pushed vec_id
    // filter — |Q|·depth row groups, not a corpus scan. The legs
    // execute EAGERLY since the r15 folds, so audit every captured
    // execution (final AQE sections only).
    val plans = capturedPlans {
      Retrieval.hybridQueryStoresRerank(spark, bmStore, vStore, e,
        queries, qVecs, k = 10, depth = 20).collect()
    }.map(_.split("== Initial Plan ==")(0))
    assert(plans.nonEmpty)
    assert(!plans.exists(_.contains("documents.parquet")),
      "exact-tail hybrid scanned the documents corpus")
    val embScans = plans.map(p =>
      "embeddings\\.parquet".r.findAllIn(p).size).sum
    assert(embScans == 1,
      s"expected exactly one (pushed) embeddings fetch, got $embScans")
    assert(plans.exists(_.contains("PushedFilters: [In(vec_id")),
      "vec_id filter not pushed into the candidate fetch")
    assert(plans.exists(_.contains("PushedFilters: [In(token")),
      "token filter not pushed into the postings scan")
  }

  test("hybridQueryStoresDiversify: the MMR tail over the fused pool's " +
    "exact originals — picks == the by-hand composition, pick 1 is the " +
    "fused top-1, every pick is in the pool, k per query") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val e = Tables.embeddings(spark, sf0001)
    val queries = Seq(0L -> Seq("dup", "merge"),
      1L -> Seq("spark", "window"))
    val bmStore = tmpDir("hybd-bm25") + "/idx"
    val vStore = tmpDir("hybd-vidx") + "/idx"
    Retrieval.initIndexIfStale(docs, bmStore)
    VectorIndex.init(e, vStore, coarseIters = 2)
    val qVecs = e.filter(col("vec_id") < 2)
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toSeq
      .map { case (id, emb) => (id, emb.toSeq) }
      .toDF("vec_id", "embedding")
    val (k, pool, lambda) = (4, 12, 0.7)
    val got = Retrieval.hybridQueryStoresDiversify(spark, bmStore,
      vStore, e, queries, qVecs, k = k, poolSize = pool, depth = 20,
      lambda = lambda).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // the by-hand composition: UNCUT fuse (k = 2·depth keeps every
    // full-outer row) -> embedding-backed restriction -> pool cut ->
    // greedy (restrict BEFORE cut — the operator's id-space contract,
    // matching the s28 oracle's f JOIN e -> pool-cut order)
    val fusedDeep = Retrieval.hybridQueryStoresRerank(spark, bmStore,
      vStore, e, queries, qVecs, k = 40, depth = 20)
    val backed = fusedDeep.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSeq
      .toDF("query_id", "vec_id", "rel")
      .join(e.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("emb")), Seq("vec_id"))
    val fusedRows = backed
      .withColumn("pr", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("rel").desc, col("vec_id"))))
      .filter(col("pr") <= pool)
      .select("query_id", "vec_id", "rel")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val poolDf = fusedRows.toDF("query_id", "vec_id", "rel")
      .join(e.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("emb")), Seq("vec_id"))
    val want = Similarity.mmrRerank(poolDf, k, lambda).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want,
      s"diversified picks diverged from the by-hand composition:\n" +
        s"got $got\nwant $want")
    // shape: k picks per query, ranks 1..k, every pick from the pool,
    // pick 1 == the fused top-1 (MMR round 1 is pure relevance)
    val byQ = got.groupBy(_._1)
    for ((q, picks) <- byQ) {
      assert(picks.map(_._3).toSeq.sorted == (1 to k),
        s"query $q pick ranks not 1..$k: $picks")
      val poolIds = fusedRows.filter(_._1 == q).map(_._2).toSet
      assert(picks.map(_._2).forall(poolIds.contains),
        s"query $q picked outside the fused pool")
      val top1 = fusedRows.filter(_._1 == q)
        .maxBy(r => (r._3, -r._2))._2
      assert(picks.find(_._3 == 1).get._2 == top1,
        s"query $q pick 1 is not the fused top-1")
    }
    // determinism: a second run picks identically
    assert(Retrieval.hybridQueryStoresDiversify(spark, bmStore, vStore,
      e, queries, qVecs, k = k, poolSize = pool, depth = 20,
      lambda = lambda).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet == got)
  }

  test("hybridQueryStoresDiversify under PARTIAL embedding coverage: " +
    "the fuse is UNCUT (lexical-only docs cannot evict backed " +
    "candidates from the pool — the r14 order fix) and the corpus is " +
    "fetched exactly once (the final plan never re-reads it)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    // half the lexical corpus has NO embedding — the id-space split
    // the r13 cut-first order got wrong (ADVICE r13)
    val e = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id").cast("long") % 2 === 0)
    val queries = Seq(0L -> Seq("dup", "merge"),
      2L -> Seq("spark", "window"))
    val bmStore = tmpDir("hybp-bm25") + "/idx"
    val vStore = tmpDir("hybp-vidx") + "/idx"
    Retrieval.initIndexIfStale(docs, bmStore)
    VectorIndex.init(e, vStore, coarseIters = 2)
    val qVecs = e.filter(col("vec_id").isin(0L, 2L))
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toSeq
      .map { case (id, emb) => (id, emb.toSeq) }
      .toDF("vec_id", "embedding")
    val (k, pool, lambda) = (4, 12, 0.7)
    val gotDf = Retrieval.hybridQueryStoresDiversify(spark, bmStore,
      vStore, e, queries, qVecs, k = k, poolSize = pool, depth = 20,
      lambda = lambda)
    val got = gotDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // precondition: the uncut fused set really contains vectorless
    // (odd-id) candidates — otherwise this fixture pins nothing
    val fusedDeep = Retrieval.hybridQueryStoresRerank(spark, bmStore,
      vStore, e, queries, qVecs, k = 40, depth = 20).collect()
    assert(fusedDeep.exists(_.getLong(1) % 2 == 1),
      "fixture drift: no lexical-only candidate fused")
    // by-hand: UNCUT fuse -> backed restriction -> pool cut -> greedy
    val backedIds = e.select(col("vec_id").cast("long")).collect()
      .map(_.getLong(0)).toSet
    val fusedRows = fusedDeep.toSeq
      .filter(r => backedIds.contains(r.getLong(1)))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(pool)
      }
    val poolDf = fusedRows.toDF("query_id", "vec_id", "rel")
      .join(e.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("emb")), Seq("vec_id"))
    val want = Similarity.mmrRerank(poolDf, k, lambda).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want,
      s"partial-coverage picks diverged from the uncut-fuse " +
        s"composition:\ngot $got\nwant $want")
    // every pick embedding-backed; full k per query — the pool kept
    // its width from the backed fused list
    assert(got.forall(p => backedIds.contains(p._2)),
      s"a vectorless doc was picked: $got")
    for ((q, picks) <- got.groupBy(_._1))
      assert(picks.map(_._3).toSeq.sorted == (1 to k),
        s"query $q pick ranks not 1..$k: $picks")
    // fetch-once: the final plan reads the one materialized fetch,
    // never the corpus parquet (r13 fetched it twice)
    val p = gotDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("embeddings.parquet") &&
      !p.contains("documents.parquet"),
      s"diversify re-read the corpus in its final plan:\n$p")
  }

  test("diversify tail driver fold == r14 expression-form tail on " +
    "adversarial frames (dup embeddings, vectorless candidates, NaN " +
    "query vectors, lexical-only docs)") {
    import spark.implicits._
    val lexDf = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 99L, 3), // 99: no emb
      (2L, 12L, 1), (2L, 10L, 2)).toDF("query_id", "doc_id", "lex_rank")
    val candDf = Seq((1L, 10L), (1L, 12L), (1L, 13L),
      (2L, 10L), (2L, 11L), (2L, 12L)).toDF("query_id", "vec_id")
    // doc 12 appears TWICE in the fetch (duplicate corpus id)
    val fetchedDf = Seq(
      (10L, Array(1.0, 0.0)), (11L, Array(0.8, 0.2)),
      (12L, Array(0.0, 1.0)), (12L, Array(0.0, 1.0)),
      (13L, Array(0.5, 0.5))).toDF("doc_id", "emb")
    // query 2's vector carries NaN — rank ties break SQL-style
    val qDf = Seq((1L, Array(1.0, 0.0)), (2L, Array(Double.NaN, 1.0)))
      .toDF("query_id", "q_emb")
    val (depth, poolSize, c) = (3, 4, 60)
    // the r14 expression-form tail, verbatim
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    val denseRank = candDf
      .join(fetchedDf.withColumnRenamed("doc_id", "vec_id"), "vec_id")
      .join(broadcast(qDf), "query_id")
      .withColumn("sim", round(Similarity.cosine(col("emb"),
        col("q_emb")), 4))
      .withColumn("rank", row_number().over(wd))
      .filter(col("rank") <= depth)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rank").as("dense_rank"))
    val contrib = (r: org.apache.spark.sql.Column) => when(r.isNotNull,
      lit(1.0) / (lit(c) + r)).otherwise(lit(0.0))
    val fused = lexDf.join(denseRank, Seq("query_id", "doc_id"),
        "full_outer")
      .withColumn("fused",
        round(contrib(col("lex_rank")) + contrib(col("dense_rank")), 6))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("fused").desc, col("doc_id"))))
      .filter(col("rank") <= 2 * depth)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("fused").desc, col("doc_id"))
    val wantPool = fused.join(fetchedDf, Seq("doc_id"))
      .withColumn("pr", row_number().over(w))
      .filter(col("pr") <= poolSize)
      .select(col("query_id"), col("doc_id").as("vec_id"), col("emb"),
        col("fused").as("rel"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2),
        r.getDouble(3)))
      .toSeq.sortBy(_.toString)
    // the driver fold over the same collected frames
    def opt(l: Long) = Some(l)
    val gotPool = Retrieval.diversifyPoolLocal(
        lexDf.collect().toSeq.map(r =>
          (opt(r.getLong(0)), opt(r.getLong(1)), r.getInt(2))),
        candDf.collect().toSeq.map(r =>
          (opt(r.getLong(0)), opt(r.getLong(1)))),
        fetchedDf.collect().toSeq.map(r =>
          (opt(r.getLong(0)), r.getSeq[Any](1))),
        qDf.collect().toSeq.map(r =>
          (opt(r.getLong(0)), r.getSeq[Any](1))),
        depth, poolSize, c)
      .map(t => (t._1.get, t._2.get,
        t._3.map(_.asInstanceOf[Double]), t._4.get))
      .sortBy(_.toString)
    assert(gotPool == wantPool,
      s"diversify pool fold diverged:\n  got:  $gotPool\n" +
        s"  want: $wantPool")
  }

  test("lexical drift advisory: store-fed == corpus-scan bit for bit, " +
    "self-report is identity, OOV and df-mass plants trip, " +
    "same-distribution growth does not, no corpus scan, pre-baseline " +
    "stores fail loudly and rebuild") {
    import org.apache.spark.sql.functions.{concat, lit, regexp_replace}
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val store = tmpDir("lexdrift") + "/idx"
    assert(Retrieval.initIndexIfStale(docs, store), "first build")
    // identity: right after init every component is its identity value
    val self = Retrieval.lexDriftReportFromIndex(spark, store)
      .collect()(0)
    assert(self.getAs[Double]("n_ratio") == 1.0 &&
      self.getAs[Double]("avgdl_ratio") == 1.0 &&
      self.getAs[Double]("df_shift") == 0.0 &&
      self.getAs[Double]("oov_shift") == 0.0 &&
      !self.getAs[Boolean]("stale"), s"self-report not identity: $self")
    // store-fed == corpus-scan over the same document set, bit for bit
    val scan = Retrieval.lexDriftReportScan(docs, store).collect()(0)
    assert(self.toSeq == scan.toSeq,
      s"store-fed != corpus-scan: $self vs $scan")
    // same-distribution growth (the corpus re-drained under fresh
    // ids): every profile doubles exactly — growth alone is not drift
    val grown = docs.select((col("doc_id") + lit(1000000L)).as("doc_id"),
      col("text"))
    Retrieval.updateIndex(grown, store)
    val g = Retrieval.lexDriftReportFromIndex(spark, store).collect()(0)
    assert(g.getAs[Double]("n_ratio") == 2.0 &&
      g.getAs[Double]("df_shift") == 0.0 &&
      g.getAs[Double]("oov_shift") == 0.0 &&
      g.getAs[Double]("avgdl_ratio") == 1.0 &&
      !g.getAs[Boolean]("stale"),
      s"same-distribution growth misread as drift: $g")
    // ... and still equals the corpus-scan twin over the grown set
    val gScan = Retrieval.lexDriftReportScan(
      docs.unionByName(grown), store).collect()(0)
    assert(g.toSeq == gScan.toSeq,
      s"post-drain store-fed != corpus-scan: $g vs $gScan")
    // an OOV plant (novel vocabulary mass) trips the advisory
    val oovDelta = docs.select((col("doc_id") + lit(2000000L))
        .as("doc_id"),
      concat(col("text"),
        lit(" qqnovel qqnovel qqnovel qqnovel qqnovel qqnovel"))
        .as("text"))
    Retrieval.updateIndex(oovDelta, store)
    val o = Retrieval.lexDriftReportFromIndex(spark, store).collect()(0)
    assert(o.getAs[Double]("oov_shift") > 0.01 &&
      o.getAs[Boolean]("stale"),
      s"planted OOV mass did not trip the advisory: $o")
    assert(Retrieval.rebaselineAdvised(spark, store),
      "rebaselineAdvised disagreed with the report")
    // a df-mass plant (reference tokens VANISHING from new docs)
    // trips through df_shift — on a fresh store so the baseline is
    // clean (initIndexIfStale fingerprints the ARGUMENT corpus;
    // drained deltas are legitimate store growth, not staleness)
    val store2 = tmpDir("lexdrift-df") + "/idx"
    Retrieval.initIndexIfStale(docs, store2)
    val noCommon = docs.select((col("doc_id") + lit(3000000L))
        .as("doc_id"),
      regexp_replace(col("text"), "\\b(dup|merge|spark|window|shuffle)\\b",
        "qx").as("text"))
    Retrieval.updateIndex(noCommon, store2)
    val m = Retrieval.lexDriftReportFromIndex(spark, store2).collect()(0)
    assert(m.getAs[Double]("df_shift") > 0.02 &&
      m.getAs[Boolean]("stale"),
      s"planted df-mass shift did not trip the advisory: $m")
    // the production property: the store-fed report never scans a
    // corpus table, and the vocabulary filter pushes into postings
    val rep = Retrieval.lexDriftReportFromIndex(spark, store)
    val p = rep.queryExecution.executedPlan.toString
    assert(!p.contains("documents.parquet") &&
      !p.contains("embeddings.parquet"),
      s"store-fed lexical drift report scanned a corpus table:\n$p")
    assert(p.contains("PushedFilters: [In(token"),
      s"vocabulary filter not pushed into the postings scan:\n$p")
    // a pre-baseline store: report fails loudly; initIndexIfStale
    // reads it as stale and rebuilds the baseline
    val bp = new org.apache.hadoop.fs.Path(s"$store/baseline")
    bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(bp, true)
    val ex = intercept[IllegalArgumentException] {
      Retrieval.lexDriftReportFromIndex(spark, store)
    }
    assert(ex.getMessage.contains("predates drift baselines"))
    assert(Retrieval.initIndexIfStale(docs, store),
      "a pre-baseline store must read as stale")
    assert(Retrieval.lexDriftReportFromIndex(spark, store).collect()(0)
      .toSeq == self.toSeq, "rebuilt baseline diverged from the first")
  }

  test("atomic index rebuild: readers serve the OLD store before the " +
    "swap, the published store == a fresh build, a crash between the " +
    "renames recovers, tombstones clear") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val half = docs.filter(col("doc_id") < 250)
    val store = tmpDir("bm25-rebuild") + "/idx"
    Retrieval.initIndexIfStale(half, store)
    val victim = Retrieval.queryIndex(spark, store, Seq("dup"), 1)
      .collect()(0).getLong(0)
    Retrieval.deleteFromIndex(spark, store, Seq(victim))
    val oldAnswer = Retrieval.queryIndex(spark, store, Seq("dup"), 5)
      .collect().map(_.toSeq).toSeq
    var served: Seq[Seq[Any]] = null
    Retrieval.rebuildIndex(docs, store, () => {
      served = Retrieval.queryIndex(spark, store, Seq("dup"), 5)
        .collect().map(_.toSeq).toSeq
    })
    assert(served == oldAnswer,
      "a reader mid-rebuild saw something other than the old store")
    // published == a fresh build over the full corpus (tombstones
    // cleared: the victim may rank again)
    val want = {
      val ref = tmpDir("bm25-rebuild-ref") + "/idx"
      Retrieval.initIndexIfStale(docs, ref)
      Retrieval.queryIndex(spark, ref, Seq("dup"), 5)
        .collect().map(_.toSeq).toSeq
    }
    assert(Retrieval.queryIndex(spark, store, Seq("dup"), 5)
      .collect().map(_.toSeq).toSeq == want,
      "rebuilt index diverged from a fresh build")
    // the baseline re-records: the drift report over the new corpus
    // is the identity again
    val self = Retrieval.lexDriftReportFromIndex(spark, store)
      .collect()(0)
    assert(self.getAs[Double]("n_ratio") == 1.0 &&
      !self.getAs[Boolean]("stale"),
      s"rebuild did not re-record the baseline: $self")
    // crash window: root renamed away, __old survives — the next read
    // restores it
    val (p, f) = (new org.apache.hadoop.fs.Path(store),
      new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration))
    require(f.rename(p, new org.apache.hadoop.fs.Path(store + "__old")))
    assert(Retrieval.queryIndex(spark, store, Seq("dup"), 5)
      .collect().map(_.toSeq).toSeq == want,
      "interrupted swap not recovered from __old")
    // rebuilding a missing store is loud
    val ex = intercept[IllegalArgumentException] {
      Retrieval.rebuildIndex(docs,
        tmpDir("bm25-rebuild-none") + "/missing")
    }
    assert(ex.getMessage.contains("to rebuild"))
  }

  test("every store entry point recovers an interrupted rebuild swap: " +
    "drift reports and indexExists serve the restored store instead of " +
    "failing with a misleading error") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val store = tmpDir("bm25-recover-all") + "/idx"
    Retrieval.initIndexIfStale(docs, store)
    val want = Retrieval.lexDriftReportFromIndex(spark, store)
      .collect()(0).toSeq
    def crashSwap(): Unit = {
      val p = new org.apache.hadoop.fs.Path(store)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(f.rename(p, new org.apache.hadoop.fs.Path(store + "__old")))
    }
    // store-fed report: readVocab used to require() on the missing
    // root ("predates drift baselines") without attempting recovery
    crashSwap()
    assert(Retrieval.lexDriftReportFromIndex(spark, store)
      .collect()(0).toSeq == want,
      "lexDriftReportFromIndex did not recover the swapped store")
    // corpus-scan twin and the advisory boolean go through the same
    // recovery
    crashSwap()
    assert(!Retrieval.rebaselineAdvised(spark, store))
    crashSwap()
    assert(Retrieval.lexDriftReportScan(docs, store)
      .collect()(0).toSeq == want)
    // the CLI's probe: a raw FileSystem.exists reports "no store" for
    // a store one rename from live; indexExists restores it first
    crashSwap()
    assert(Retrieval.indexExists(spark, store),
      "indexExists reported a recoverable store as missing")
    assert(!Retrieval.indexExists(spark,
      tmpDir("bm25-recover-none") + "/missing"))
  }

  test("updateIndex crash window: a crash between the postings and " +
    "lengths appends, then a retry with CHANGED text, completes the " +
    "ORIGINAL update exactly — no divergent posting set, lengths " +
    "repaired from the planted postings") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .filter(col("doc_id") < 100)
    val store = tmpDir("idx-crashwin") + "/idx"
    Retrieval.updateIndex(docs, store)
    // simulate the crash: doc 999's postings land (copied from a
    // scratch store built over the ORIGINAL text), its lengths row
    // does not
    val origText = "dup dup merge spark window"
    val scratch = tmpDir("idx-crashwin-scratch") + "/idx"
    Retrieval.updateIndex(
      Seq((999L, origText)).toDF("doc_id", "text"), scratch)
    spark.read.parquet(s"$scratch/postings")
      .write.mode("append").parquet(s"$store/postings")
    val planted = spark.read.parquet(s"$scratch/postings")
      .collect().map(_.toSeq).toSet
    // the retry carries CHANGED text for the orphan + one genuinely
    // new doc — the old lengths-only gate would plant a second
    // divergent posting set for 999, double-counting tf silently
    Retrieval.updateIndex(Seq(
      (999L, "utterly different retry text entirely"),
      (1000L, "merge merge shuffle")).toDF("doc_id", "text"), store)
    val after999 = spark.read.parquet(s"$store/postings")
      .filter(col("doc_id") === 999L).collect().map(_.toSeq).toSet
    assert(after999 == planted,
      s"retry altered 999's posting set: $after999 vs $planted")
    val len999 = spark.read.parquet(s"$store/lengths")
      .filter(col("doc_id") === 999L).collect()
    assert(len999.length == 1 && len999(0).getAs[Long]("dl") == 5L,
      s"orphan lengths not repaired from its own postings: " +
        s"${len999.toSeq}")
    // the genuinely new doc indexed normally
    assert(spark.read.parquet(s"$store/lengths")
      .filter(col("doc_id") === 1000L).count() == 1)
    // the repaired store == one built in a single clean pass over the
    // effective corpus (base + ORIGINAL 999 + 1000)
    val effective = docs.unionByName(Seq((999L, origText),
      (1000L, "merge merge shuffle")).toDF("doc_id", "text"))
    val clean = tmpDir("idx-crashwin-clean") + "/idx"
    Retrieval.updateIndex(effective, clean)
    val terms = Seq("dup", "merge", "spark", "shuffle")
    assert(Retrieval.queryIndex(spark, store, terms, 20)
      .collect().map(_.toSeq).toSeq ==
      Retrieval.queryIndex(spark, clean, terms, 20)
        .collect().map(_.toSeq).toSeq,
      "repaired store diverged from a clean single-pass build")
    // an identical replay after the repair appends nothing
    def files(sub: String): Int =
      new java.io.File(s"$store/$sub").listFiles()
        .count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
    val (pf, lf) = (files("postings"), files("lengths"))
    Retrieval.updateIndex(Seq((999L, origText)).toDF("doc_id", "text"),
      store)
    assert(files("postings") == pf && files("lengths") == lf,
      "replay after the crash repair wrote to the stores")
  }

  test("hybridTopK fuses the two rankings by RRF: hand-derived fused " +
    "scores, absent-system rank 0, depth truncation, doc_id tiebreak, " +
    "partition invariance") {
    val docs = Seq(
      (0L, "rare alpha alpha"),
      (1L, "rare rare beta"),
      (2L, "alpha beta gamma"),
      (3L, "rare beta gamma gamma"),
      (4L, "gamma gamma gamma")).toDF("doc_id", "text")
    // q_emb = vec 1; vec 4 duplicates it so the dense top-2 is {1, 4}
    // while the lexical top-2 is {1, 0} — each system contributes one
    // exclusive candidate and they tie on fused score
    val embs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f)),
      (3L, Array(0.1f, 0.9f)),
      (4L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val q = Seq(1L -> Seq("rare"))
    // expected lexical order from the oracle-checked ranker itself
    val lexTop = Retrieval.bm25TopK(docs, Seq("rare"), k = 2)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(lexTop == Seq(1L, 0L), s"fixture drifted: $lexTop")
    val got = Retrieval.hybridTopK(docs, embs, q, k = 10, depth = 2)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("lex_rank"), r.getAs[Int]("dense_rank"),
        r.getAs[Double]("fused"), r.getAs[Int]("rank")))
      .sortBy(_._6)
    val both = BigDecimal(1.0 / 61 + 1.0 / 61)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val one = BigDecimal(1.0 / 62)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Seq(
      (1L, 1L, 1, 1, both, 1),  // in both systems at rank 1
      (1L, 0L, 2, 0, one, 2),   // lexical-only; doc_id breaks the tie
      (1L, 4L, 0, 2, one, 3)),  // dense-only
      s"got: ${got.mkString("; ")}")
    // partitioning must not change picks, ranks, or scores
    val again = Retrieval.hybridTopK(docs.repartition(7),
        embs.repartition(5), q, k = 10, depth = 2)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("lex_rank"), r.getAs[Int]("dense_rank"),
        r.getAs[Double]("fused"), r.getAs[Int]("rank"))).toSet
    assert(again == got.toSet)
  }

  test("absent and unknown terms: df=0 terms never score, empty text " +
    "is safe") {
    val docs = Seq((1L, "common common"), (2L, "")).toDF("doc_id", "text")
    val model = Retrieval.bm25Model(docs, Seq("common", "ghost"))
    assert(model.df == Map("common" -> 1L, "ghost" -> 0L))
    val got = Retrieval.bm25Score(docs, model).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_terms"), r.getAs[Double]("score"))).toMap
    assert(got(1L)._1 == 1L && got(1L)._2 > 0.0)
    assert(got(2L) == ((0L, 0.0)))
    // the batch ranker agrees: only doc 1 retrieved
    val top = Retrieval.bm25TopK(docs, Seq("common", "ghost"), k = 10)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(top == Seq(1L))
  }
}
