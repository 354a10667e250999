package graft.ext

import graft.{SparkTestBase, Tables}
import graft.plans.DriverFold
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted vector-index lifecycle: the store query must rank
  * EXACTLY as the in-query IVF-PQ (which is oracle-checked), the
  * in-row delta encode must equal the distributed one ACROSS BOTH
  * execution forms (the engine's mapPartitions closure and the
  * literal-plan twin), replays and re-presented ids must append nothing,
  * staleness must see embedding CONTENT and half-written meta,
  * tombstones must delete for every read path, compaction must be
  * invisible to queries, and a store must fail loudly rather than
  * serve from nothing.
  */
class VectorIndexSpec extends SparkTestBase {

  private def store(prefix: String): String = tmpDir(prefix) + "/vidx"

  test("store query == in-query ivfPqTopK exactly (the s17/s08 pin)") {
    val e = Tables.embeddings(spark, sf0001)
    val probes = e.filter(col("vec_id") < 5)
    val st = store("vidx-pin")
    VectorIndex.init(e, st, coarseIters = 2)
    val got = VectorIndex.query(spark, st, probes, k = 3)
    val exp = Similarity.ivfPqTopK(e, probes, 3, coarseIters = 2)
    assert(got.collect().toSeq.map(_.toSeq).sortBy(_.toString)
      == exp.collect().toSeq.map(_.toSeq).sortBy(_.toString),
      "index-backed ranking diverged from the in-query IVF-PQ")
    // the whole point of the store: query cost ∝ probed cells'
    // posting lists — the coarse_id isin must reach the codes scan
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [In(coarse_id"),
      s"coarse_id filter not pushed into the codes scan:\n$p")
  }

  test("both in-row encode forms == init's distributed encode bit for " +
    "bit, and a replayed/re-presented batch appends NOTHING") {
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-parity")
    VectorIndex.init(e, st, coarseIters = 2)
    val initCodes = spark.read.parquet(s"$st/codes")
      .collect().map(_.toSeq).toSet
    // re-encode the WHOLE corpus through both in-row paths under the
    // frozen model: coarse argmax, residual, and PQ argmin must agree
    // code for code with the distributed init encode
    val litCodes = VectorIndexTwins.encodeLiteral(spark, st, e)
      .collect().map(_.toSeq).toSet
    assert(litCodes == initCodes,
      "literal-path in-row codes diverged from the distributed init")
    val clo = VectorIndex.encodeForStore(spark, st, e)
      .collect().map(_.toSeq).toSet
    assert(clo == initCodes,
      "closure-path in-row codes diverged from the distributed init")
    // rows update admits but training never sees — NaN, ±Inf, a null
    // component, a null vector, a null id: both forms give the same
    // codes (NaN cosines and distances pass Spark's round unrounded)
    val dirty = {
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val base = e.filter(col("vec_id") < 5).orderBy("vec_id")
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0))
      def poke(v: Seq[Double], at: Int, x: Any): Seq[Any] = v.updated(at, x)
      spark.createDataFrame(Seq(
        Row(800001L, poke(base(0), 3, Double.NaN)),
        Row(800002L, poke(base(1), 17, Double.PositiveInfinity)),
        Row(800003L, poke(base(2), 63, Double.NegativeInfinity)),
        Row(800004L, poke(base(3), 40, null)),
        Row(800005L, null),
        Row(null, base(4))).asJava,
        StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(DoubleType)))))
    }
    val dirtyLit = VectorIndexTwins.encodeLiteral(spark, st, dirty)
      .collect().map(_.toSeq.toString).toSet
    val dirtyClo = VectorIndex.encodeForStore(spark, st, dirty)
      .collect().map(_.toSeq.toString).toSet
    assert(dirtyLit.size == 6 * 8 && dirtyClo == dirtyLit,
      s"dirty rows: literal $dirtyLit, closure $dirtyClo")
    // id immutability: a replayed batch (same ids) appends nothing —
    // and neither does a re-presented id with a CHANGED embedding
    // (the divergent-code-set corruption class)
    VectorIndex.update(e, st)
    assert(spark.read.parquet(s"$st/codes").count() == initCodes.size,
      "replayed batch must append nothing (ids already coded)")
    val mutated = e.filter(col("vec_id") < 10)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => x + lit(0.5)).as("embedding"))
    VectorIndex.update(mutated, st)
    assert(spark.read.parquet(s"$st/codes").count() == initCodes.size,
      "a re-presented id with a changed embedding must be skipped")
    val probes = e.filter(col("vec_id") < 5)
    val got = VectorIndex.query(spark, st, probes, k = 3)
    val exp = Similarity.ivfPqTopK(e, probes, 3, coarseIters = 2)
    assert(got.collect().toSeq.map(_.toSeq).sortBy(_.toString)
      == exp.collect().toSeq.map(_.toSeq).sortBy(_.toString),
      "replays/re-presents changed the ranking")
  }

  test("update refuses a wrong-dimension batch loudly") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-dim")
    VectorIndex.init(e, st, coarseIters = 2)
    val short = Seq((990000L, Seq.fill(32)(0.1)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      VectorIndex.update(short, st)
    }
    assert(ex.getMessage.contains("64-dim") &&
      ex.getMessage.contains("32"),
      s"dim mismatch not reported: ${ex.getMessage}")
    // an empty batch is a no-op, not an error
    VectorIndex.update(e.limit(0), st)
  }

  test("incremental growth: a delta near-copy is found by the store " +
    "query without retraining") {
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-delta")
    VectorIndex.init(e, st, coarseIters = 2)
    // the delta: a near-copy of probe vector 2 (its embedding with a
    // tiny last-component nudge) under a fresh id
    val twin = e.filter(col("vec_id") === 2L)
      .select(lit(900000L).as("vec_id"),
        transform(col("embedding").cast("array<double>"),
          (x, i) => when(i === 63, x + lit(1e-4)).otherwise(x))
          .as("embedding"))
    VectorIndex.update(twin, st)
    val got = VectorIndex.query(spark, st,
        e.filter(col("vec_id") === 2L), k = 1)
      .collect()
    assert(got.length == 1 && got.head.getLong(1) == 900000L,
      s"delta near-copy not top-1: ${got.mkString(",")}")
  }

  test("initIfStale: serves a warm store; rebuilds on corpus, knob, " +
    "CONTENT (re-embedded same ids), or half-written-meta change") {
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-stale")
    assert(VectorIndex.initIfStale(e, st, coarseIters = 2),
      "first call must build")
    assert(!VectorIndex.initIfStale(e, st, coarseIters = 2),
      "unchanged corpus + knobs must serve warm")
    assert(VectorIndex.initIfStale(e, st, coarseIters = 1),
      "a knob change must rebuild")
    val grown = e.unionByName(e.limit(1)
      .select(lit(910000L).as("vec_id"), col("embedding"), col("label")))
    assert(VectorIndex.initIfStale(grown, st, coarseIters = 1),
      "a changed corpus fingerprint must rebuild")
    // the ADVICE case: same ids (count and id-sum unchanged), new
    // embedding VALUES — a re-embedding run must read as stale
    val reembedded = e.select(col("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => x + lit(0.25)).as("embedding"))
    assert(VectorIndex.initIfStale(reembedded, st, coarseIters = 1),
      "a re-embedded corpus under the same ids served from a stale store")
    // ...including one that PRESERVES dim 0 (the first-component-only
    // content term's blind spot): the weighted full-component sum
    // must still see it
    val dim1Only = reembedded.select(col("vec_id"),
      transform(col("embedding").cast("array<double>"),
        (x, i) => when(i === 1, x + lit(0.5)).otherwise(x))
        .as("embedding"))
    assert(VectorIndex.initIfStale(dim1Only, st, coarseIters = 1),
      "a re-embedding preserving dim 0 served from a stale store")
    // a crash between the meta directory create and the parquet commit
    // leaves an unreadable meta: must read as stale, not throw
    val metaDir = new java.io.File(s"$st/meta")
    metaDir.listFiles().foreach(_.delete())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$st/meta/part-00000.parquet"),
      "not a parquet footer".getBytes)
    assert(VectorIndex.initIfStale(reembedded, st, coarseIters = 1),
      "an unreadable meta must rebuild, not propagate the read failure")
    assert(!VectorIndex.initIfStale(reembedded, st, coarseIters = 1),
      "the rebuild must have produced a servable store")
  }

  test("queryRerank: exact re-rank of the store's candidate set — " +
    "degenerates to cosineTopK at full coverage, fetch is vec_id-pushed") {
    val e = Tables.embeddings(spark, sf0001)
    val probes = e.filter(col("vec_id") < 5)
    val st = store("vidx-rerank")
    VectorIndex.init(e, st, coarseIters = 2)
    // composition: the re-ranked set IS the store's top-r candidate
    // set, re-ordered by exact cosine (never anything outside it)
    val got = VectorIndex.queryRerank(spark, st, e, probes,
      k = 3, rerank = 8)
    val candIds = VectorIndex.query(spark, st, probes, k = 8)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotRows = got.collect()
    assert(gotRows.forall(r => candIds((r.getLong(0), r.getLong(1)))),
      "re-rank returned an id outside the store's candidate set")
    // exactness of the final order: sims are the s01 rounded-4 cosine
    // (pin one row against the brute-force form)
    val pinQ = gotRows.head.getLong(0)
    val pinN = gotRows.head.getLong(1)
    val pinSim = Similarity.cosineTopK(e,
        e.filter(col("vec_id") === pinQ), 500)
      .filter(col("neighbor_id") === pinN).collect().head.getDouble(2)
    assert(gotRows.head.getDouble(2) == pinSim,
      "re-rank sim is not the exact rounded-4 cosine")
    // the s04 contract: full candidate coverage == the exact ranking
    val n = e.count().toInt
    val nl = Similarity.autoNlist(n.toLong)
    val full = VectorIndex.queryRerank(spark, st, e, probes,
      k = 3, rerank = n, nprobe = nl)
    val exact = Similarity.cosineTopK(e, probes, 3)
    assert(full.collect().map(_.toSeq).toSet ==
      exact.collect().map(_.toSeq).toSet,
      "full-coverage re-rank diverged from the exact ranking")
    // the fetch must prune: the corpus scan carries the In(vec_id)
    // pushed filter — reading the whole corpus would defeat the tier.
    // The fetch executes EAGERLY since the r15 re-rank fold, so audit
    // the captured executions, not the returned (local) frame's plan.
    val plans = capturedPlans {
      VectorIndex.queryRerank(spark, st, e, probes, k = 3).collect()
    }
    assert(plans.exists(_.contains("PushedFilters: [In(vec_id")),
      "vec_id filter not pushed into the corpus fetch")
  }

  test("tombstones: a deleted id vanishes from every read path, " +
    "update cannot resurrect it, replayed deletes are harmless") {
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-del")
    VectorIndex.init(e, st, coarseIters = 2)
    val probes = e.filter(col("vec_id") < 5)
    val before = VectorIndex.query(spark, st, probes, k = 3).collect()
    val victim = before.head.getLong(1)
    VectorIndex.delete(spark, st, Seq(victim))
    val after = VectorIndex.query(spark, st, probes, k = 500).collect()
    assert(!after.exists(_.getLong(1) == victim),
      s"tombstoned id $victim still served by query")
    assert(VectorIndex.reconstruct(spark, st, Seq(victim)).count() == 0,
      "tombstoned id still reconstructable")
    val div = VectorIndex.diversifiedQuery(spark, st, probes,
      k = 4, poolSize = 12, lambda = 0.7).collect()
    assert(!div.exists(_.getLong(1) == victim),
      "tombstoned id still served by diversifiedQuery")
    // resurrect attempt via update: the id is known (tombstoned) and
    // must be skipped
    val n0 = spark.read.parquet(s"$st/codes").count()
    VectorIndex.update(e.filter(col("vec_id") === victim), st)
    assert(spark.read.parquet(s"$st/codes").count() == n0,
      "update re-coded a tombstoned id")
    // at-least-once replay of the delete: facts append, answers stable
    VectorIndex.delete(spark, st, Seq(victim))
    val replay = VectorIndex.query(spark, st, probes, k = 500).collect()
    assert(replay.map(_.toSeq).toSet == after.map(_.toSeq).toSet,
      "replayed delete changed the answer")
    // loud failure modes
    val ex = intercept[IllegalArgumentException] {
      VectorIndex.delete(spark, st, Seq.empty)
    }
    assert(ex.getMessage.contains("at least one"))
  }

  test("compact: queries unchanged, dead + duplicate rows physically " +
    "dropped, file count bounded") {
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-compact")
    VectorIndex.init(e, st, coarseIters = 2)
    val initCodes = spark.read.parquet(s"$st/codes")
      .collect().map(_.toSeq).toSet
    // accrete physics: tombstone one served id, then fake N small
    // append files by re-appending the same code rows (what replayed
    // drains used to do before the id gate — compact must still fold
    // legacy duplicates)
    val probes = e.filter(col("vec_id") < 5)
    val victim = VectorIndex.query(spark, st, probes, k = 3)
      .collect().head.getLong(1)
    VectorIndex.delete(spark, st, Seq(victim))
    val codes = spark.read.parquet(s"$st/codes")
    for (_ <- 1 to 3)
      codes.write.mode("append").parquet(s"$st/codes")
    val before = VectorIndex.query(spark, st, probes, k = 10)
      .collect().map(_.toSeq).toSet
    val rep = VectorIndex.compact(spark, st)
    assert(rep.codeRowsAfter < rep.codeRowsBefore,
      s"compaction dropped nothing: $rep")
    assert(rep.filesAfter < rep.filesBefore, s"files not merged: $rep")
    val after = VectorIndex.query(spark, st, probes, k = 10)
      .collect().map(_.toSeq).toSet
    assert(after == before, "compaction changed query results")
    // store == rebuild-without-deleted: the physical rows are exactly
    // the init codes minus the tombstoned id's
    val physical = spark.read.parquet(s"$st/codes")
      .collect().map(_.toSeq).toSet
    assert(physical ==
      initCodes.filterNot(_.head.asInstanceOf[Long] == victim),
      "compacted store != init codes minus the deleted id")
  }

  test("a part a crashed driver append left under _staging is never " +
    "read, and compact removes it") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-staging")
    VectorIndex.init(e, st, coarseIters = 2)
    val probes = e.filter(col("vec_id") < 5)
    def served() = VectorIndex.query(spark, st, probes, k = 3)
      .collect().map(_.toSeq).toSeq
    val before = served()
    val victim = before.head(1).asInstanceOf[Long]
    // a crash after the staged write, before the rename into tombstones
    val leftover = s"$st/_staging/crashed-append"
    Seq((victim, 1L)).toDF("vec_id", "deleted_at").coalesce(1).write
      .parquet(leftover)
    assert(served() == before, "a staged part was read")
    VectorIndex.compact(spark, st)
    assert(!new java.io.File(leftover).exists(),
      "compact left the crashed staging dir")
    assert(served() == before)
  }

  test("streaming maintenance: drains == batch updates, delta-only " +
    "second drain, no-op re-drain appends nothing, empty source dir " +
    "is a no-op") {
    val e = Tables.embeddings(spark, sf0001)
    val prefix = e.filter(col("vec_id") < 400)
    val delta = e.filter(col("vec_id") >= 400)

    // batch reference: init on the prefix (frozen model), one batch
    // update with the delta
    val stBatch = store("vidx-sbatch")
    VectorIndex.init(prefix, stBatch, coarseIters = 2)
    VectorIndex.update(delta, stBatch)

    // streaming: same init, then file-source drains — the checkpoint
    // is the delta tracker
    val stStream = store("vidx-sstream")
    VectorIndex.init(prefix, stStream, coarseIters = 2)
    val dir = tmpDir("vidx-src")
    val ckpt = tmpDir("vidx-ckpt")

    // the NORMAL initial state: the watched dir exists but holds no
    // parquet yet — a drain must be a no-op, not a schema-read crash
    val n0 = graft.streaming.StreamingVectorIndex.maintainStream(
      spark, dir, stStream, ckpt)
    assert(n0 == 400, s"empty-dir drain must be a no-op, got $n0")

    prefix.write.mode("overwrite").parquet(s"$dir/batch1")
    // flatten: the file source watches one directory
    def stage(sub: String): Unit = {
      val d = new java.io.File(s"$dir/$sub")
      d.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(dir, s"${sub}_${f.getName}"))
      }
      d.listFiles().foreach(_.delete()); d.delete()
    }
    stage("batch1")
    val n1 = graft.streaming.StreamingVectorIndex.maintainStream(
      spark, dir, stStream, ckpt)
    assert(n1 == 400, s"bootstrap drain indexed $n1")
    val c1 = spark.read.parquet(s"$stStream/codes").count()

    delta.write.mode("overwrite").parquet(s"$dir/batch2")
    stage("batch2")
    val n2 = graft.streaming.StreamingVectorIndex.maintainStream(
      spark, dir, stStream, ckpt)
    assert(n2 == 500, s"delta drain should reach 500 vectors, got $n2")
    val c2 = spark.read.parquet(s"$stStream/codes").count()
    assert(c2 > c1, "delta drain must append")

    // drain == batch: the two stores' distinct code sets are equal
    val gotCodes = spark.read.parquet(s"$stStream/codes").distinct()
      .collect().map(_.toSeq).toSet
    val expCodes = spark.read.parquet(s"$stBatch/codes").distinct()
      .collect().map(_.toSeq).toSet
    assert(gotCodes == expCodes, "stream-grown codes != batch-grown")

    // and the ranking agrees with the batch-grown store
    val probes = e.filter(col("vec_id") < 5)
    val got = VectorIndex.query(spark, stStream, probes, k = 3)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val exp = VectorIndex.query(spark, stBatch, probes, k = 3)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(got == exp)

    // no-op re-drain: nothing new in the checkpoint -> no appends
    val n3 = graft.streaming.StreamingVectorIndex.maintainStream(
      spark, dir, stStream, ckpt)
    assert(n3 == 500)
    assert(spark.read.parquet(s"$stStream/codes").count() == c2,
      "a no-op re-drain must append nothing")

    // the drift stats ride update() on both growth paths, so the
    // stats-fed report agrees between the drained and batch stores;
    // and the fold is batch-split-INDEPENDENT (decimal sums are
    // associative): a store grown in two half-deltas reports
    // identically to the one-batch store
    val rBatch = VectorIndex.driftReportFromStats(spark, stBatch)
      .collect()(0).toSeq
    assert(VectorIndex.driftReportFromStats(spark, stStream)
      .collect()(0).toSeq == rBatch,
      "stats-fed drift report diverged across growth paths")
    val stSplit = store("vidx-ssplit")
    VectorIndex.init(prefix, stSplit, coarseIters = 2)
    VectorIndex.update(delta.filter(col("vec_id") < 450), stSplit)
    VectorIndex.update(delta.filter(col("vec_id") >= 450), stSplit)
    assert(VectorIndex.driftReportFromStats(spark, stSplit)
      .collect()(0).toSeq == rBatch,
      "batch split changed the folded drift report")
  }

  test("diversifiedQuery == mmrRerank over the store pool + PQ " +
    "reconstructions, and reconstruct is exact on zero-residual cells") {
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-mmr")
    VectorIndex.init(e, st, coarseIters = 2)
    val probes = e.filter(col("vec_id") < 5)
    // composition pin: hand-build the same pool and rerank
    val pool0 = VectorIndex.query(spark, st, probes, k = 12)
      .select(col("query_id"), col("neighbor_id").as("vec_id"),
        col("approx_ip").as("rel"))
    val ids = pool0.select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val pool = pool0
      .join(VectorIndex.reconstruct(spark, st, ids), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("emb"), col("rel"))
    val want = Similarity.mmrRerank(pool, 4, 0.7)
      .collect().map(_.toSeq).toSet
    val got = VectorIndex.diversifiedQuery(spark, st, probes, k = 4,
      poolSize = 12, lambda = 0.7).collect().map(_.toSeq).toSet
    assert(got == want, "diversifiedQuery diverged from the composition")
    // reconstruction sanity: a residual-codebook SEED vector whose
    // cells are its own exact residual slices reconstructs to within
    // quantization error of itself (and exactly when its residual IS
    // a stored cell) — here just pin the shape + determinism
    val rec = VectorIndex.reconstruct(spark, st, Seq(ids.head))
      .collect()
    assert(rec.length == 1 &&
      rec.head.getSeq[Double](1).length == 64)
    val rec2 = VectorIndex.reconstruct(spark, st, Seq(ids.head))
      .collect()
    assert(rec.head.toSeq == rec2.head.toSeq, "reconstruct nondeterministic")
  }

  test("diversifiedQueryRerank: the greedy runs over the ORIGINALS of " +
    "the store-nominated pool with exact relevance; tombstoned ids " +
    "never enter the pool") {
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-divrerank")
    VectorIndex.init(e, st, coarseIters = 2)
    val probes = e.filter(col("vec_id") < 5)
    // composition pin: nominate via the store ranking, join the
    // original vectors, recompute exact rounded-4 relevance, rerank
    val cands = VectorIndex.query(spark, st, probes, k = 12)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
    val originals = e.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val q = originals.select(col("vec_id").as("query_id"),
      col("emb").as("q_emb")).filter(col("query_id") < 5)
    val pool = cands.join(originals, "vec_id").join(q, "query_id")
      .select(col("query_id"), col("vec_id"), col("emb"),
        round(graft.ext.Similarity.cosine(col("emb"), col("q_emb")), 4)
          .as("rel"))
    val want = Similarity.mmrRerank(pool, 4, 0.7)
      .collect().map(_.toSeq).toSet
    val got = VectorIndex.diversifiedQueryRerank(spark, st, e, probes,
      k = 4, poolSize = 12, lambda = 0.7).collect().map(_.toSeq).toSet
    assert(got == want,
      "diversifiedQueryRerank diverged from the composition")
    // the exact-tail contract vs s19: same nomination, but selection
    // can differ when reconstruction error reorders the trade — both
    // must pick from the SAME nominated candidate set
    val nominated = cands.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    got.foreach { row =>
      assert(nominated.contains(
        (row.head.asInstanceOf[Long], row(1).asInstanceOf[Long])),
        s"selection outside the nominated pool: $row")
    }
    // a tombstoned id leaves the pool (and thus the selection)
    val victim = got.head(1).asInstanceOf[Long]
    VectorIndex.delete(spark, st, Seq(victim))
    val after = VectorIndex.diversifiedQueryRerank(spark, st, e,
      probes, k = 4, poolSize = 12, lambda = 0.7)
      .collect().map(_.getLong(1)).toSet
    assert(!after.contains(victim),
      "tombstoned id still selected by the exact-tail retriever")
  }

  test("drift advisory: self-drift is exactly zero, a shifted corpus " +
    "trips, a same-distribution 2x growth does not, pre-baseline " +
    "stores fail loudly and rebuild") {
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-drift")
    VectorIndex.init(e, st, coarseIters = 2)
    // serving the training corpus itself: every drift component is
    // EXACTLY its identity value (decimal sums are order-free exact)
    val self = VectorIndex.driftReport(spark, st, e).collect()(0)
    assert(self.getAs[Double]("mean_shift") == 0.0 &&
      self.getAs[Double]("axis_shift") == 0.0 &&
      self.getAs[Double]("norm_ratio") == 1.0 &&
      self.getAs[Double]("n_ratio") == 1.0 &&
      !self.getAs[Boolean]("stale"),
      s"self-drift not identity: $self")
    // a planted translation (dim-0 of even ids) must trip the advisory
    val shifted = e.select(col("vec_id"),
      transform(col("embedding").cast("array<double>"),
        (x, i) => when(i === 0 && col("vec_id") % 2 === 0,
          x + lit(0.05)).otherwise(x)).as("embedding"))
    val drift = VectorIndex.driftReport(spark, st, shifted).collect()(0)
    assert(drift.getAs[Double]("mean_shift") > 0.01 &&
      drift.getAs[Boolean]("stale"),
      s"planted drift did not trip the advisory: $drift")
    assert(VectorIndex.reindexAdvised(spark, st, shifted),
      "reindexAdvised disagreed with the report")
    // same-distribution growth: the corpus unioned with itself under
    // fresh ids doubles every decimal sum AND the count, so means and
    // avg norm are BIT-identical — growth alone is not drift
    val doubled = e.unionByName(
      e.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        col("embedding"), col("label")))
    val grown = VectorIndex.driftReport(spark, st, doubled).collect()(0)
    assert(grown.getAs[Double]("n_ratio") == 2.0 &&
      grown.getAs[Double]("mean_shift") == 0.0 &&
      grown.getAs[Double]("norm_ratio") == 1.0 &&
      !grown.getAs[Boolean]("stale"),
      s"same-distribution growth misread as drift: $grown")
    // a store built before drift baselines existed: driftReport fails
    // loudly, and initIfStale treats it as stale (rebuilds the baseline)
    val (bp, bf) = (new org.apache.hadoop.fs.Path(s"$st/baseline"),
      new org.apache.hadoop.fs.Path(s"$st/baseline")
        .getFileSystem(spark.sparkContext.hadoopConfiguration))
    bf.delete(bp, true)
    val ex = intercept[IllegalArgumentException] {
      VectorIndex.driftReport(spark, st, e)
    }
    assert(ex.getMessage.contains("predates drift baselines"))
    assert(VectorIndex.initIfStale(e, st, coarseIters = 2),
      "a pre-baseline store must read as stale")
    assert(!VectorIndex.driftReport(spark, st, e).collect()(0)
      .getAs[Boolean]("stale"))
  }

  test("stats-fed drift report == corpus-scan report BIT FOR BIT " +
    "(init and after updates), replays and duplicate stats rows fold, " +
    "no corpus scan in the executed plan, pre-stats stores fail " +
    "loudly and read as stale") {
    val e = Tables.embeddings(spark, sf0001)
    val base = e.filter(col("vec_id").cast("long") % 4 =!= 3)
    val delta = e.filter(col("vec_id").cast("long") % 4 === 3)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          (x, i) => when(i === 0, x + lit(0.05)).otherwise(x))
          .as("embedding"))
    val st = store("vidx-driftstats")
    VectorIndex.init(base, st, coarseIters = 2)
    // identity: right after init the folded stats ARE the init corpus
    val s0 = VectorIndex.driftReportFromStats(spark, st).collect()(0)
    val c0 = VectorIndex.driftReport(spark, st, base).collect()(0)
    assert(s0.toSeq == c0.toSeq,
      s"stats-fed != corpus-scan after init: $s0 vs $c0")
    assert(!s0.getAs[Boolean]("stale"), "self-serving store read stale")
    // after an admitted delta: stats fold == scan of base ∪ delta
    VectorIndex.update(delta, st)
    val served = base.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .unionByName(delta)
    val s1 = VectorIndex.driftReportFromStats(spark, st).collect()(0)
    val c1 = VectorIndex.driftReport(spark, st, served).collect()(0)
    assert(s1.toSeq == c1.toSeq,
      s"stats-fed != corpus-scan after update: $s1 vs $c1")
    // the planted dim-0 shift on the 25% delta moves the mean by
    // ~0.0125 > tolMean — the advisory trips THROUGH the stats path
    assert(s1.getAs[Double]("mean_shift") > 0.01 &&
      s1.getAs[Boolean]("stale"),
      s"planted delta drift did not trip the stats-fed advisory: $s1")
    assert(VectorIndex.reindexAdvisedFromStats(spark, st),
      "reindexAdvisedFromStats disagreed with the report")
    // the production property: the report never scans a corpus table
    val p = VectorIndex.driftReportFromStats(spark, st)
      .queryExecution.executedPlan.toString
    assert(!p.contains("embeddings.parquet") &&
      !p.contains("documents.parquet"),
      s"stats-fed report scanned a corpus table:\n$p")
    // a replayed update admits nothing — and writes no stats
    val nRows = spark.read.parquet(s"$st/driftstats").count()
    VectorIndex.update(delta, st)
    assert(spark.read.parquet(s"$st/driftstats").count() == nRows,
      "replayed update appended drift stats")
    // an at-least-once stats WRITER replay (byte-identical rows under
    // the same content-derived batch key) folds at read
    spark.read.parquet(s"$st/driftstats")
      .filter(col("batch_key") =!= "init")
      .write.mode("append").parquet(s"$st/driftstats")
    val s2 = VectorIndex.driftReportFromStats(spark, st).collect()(0)
    assert(s2.toSeq == s1.toSeq,
      "duplicate stats rows changed the report (distinct fold broken)")
    // a store that predates drift stats: loud failure, and
    // initIfStale reads it as stale (rebuilds the stats)
    val (dp, df) = (new org.apache.hadoop.fs.Path(s"$st/driftstats"),
      new org.apache.hadoop.fs.Path(s"$st/driftstats")
        .getFileSystem(spark.sparkContext.hadoopConfiguration))
    df.delete(dp, true)
    val ex = intercept[IllegalArgumentException] {
      VectorIndex.driftReportFromStats(spark, st)
    }
    assert(ex.getMessage.contains("predates drift stats"))
    assert(VectorIndex.initIfStale(base, st, coarseIters = 2),
      "a pre-driftstats store must read as stale")
    assert(VectorIndex.driftReportFromStats(spark, st).collect()(0)
      .toSeq == s0.toSeq, "rebuilt stats diverged from the first init")
  }

  test("reconciling delete: negative stats keep the stats-fed report " +
    "== the survivors' corpus-scan report BIT FOR BIT; replays " +
    "subtract nothing; coverage and dim guards fail loudly") {
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-recdel")
    VectorIndex.init(e, st, coarseIters = 2)
    val victims = Seq(0L, 7L, 42L)
    VectorIndex.delete(spark, st, victims, e)
    val survivors = e.filter(!col("vec_id").isin(victims: _*))
    val s1 = VectorIndex.driftReportFromStats(spark, st).collect()(0)
    val c1 = VectorIndex.driftReport(spark, st, survivors).collect()(0)
    assert(s1.toSeq == c1.toSeq,
      s"reconciled stats != survivors' corpus scan: $s1 vs $c1")
    // replay: the ids are tombstoned now, so nothing subtracts twice
    val nRows = spark.read.parquet(s"$st/driftstats").count()
    VectorIndex.delete(spark, st, victims, e)
    assert(spark.read.parquet(s"$st/driftstats").count() == nRows,
      "replayed reconciling delete appended stats")
    assert(VectorIndex.driftReportFromStats(spark, st).collect()(0)
      .toSeq == s1.toSeq, "replayed delete changed the report")
    // partial replay: one already-deleted id + one new id subtracts
    // ONLY the new id's rows
    VectorIndex.delete(spark, st, Seq(42L, 99L), e)
    val s2 = VectorIndex.driftReportFromStats(spark, st).collect()(0)
    val c2 = VectorIndex.driftReport(spark, st,
      e.filter(!col("vec_id").isin(0L, 7L, 42L, 99L))).collect()(0)
    assert(s2.toSeq == c2.toSeq,
      "partial-replay reconciliation diverged from the survivors")
    // a frame missing one of the ids to delete must fail loudly, and
    // leave neither stats nor tombstones behind
    val before = spark.read.parquet(s"$st/driftstats").count()
    val exCov = intercept[IllegalArgumentException] {
      VectorIndex.delete(spark, st, Seq(11L),
        e.filter(col("vec_id") =!= 11L))
    }
    assert(exCov.getMessage.contains("missing from the supplied"))
    assert(spark.read.parquet(s"$st/driftstats").count() == before,
      "failed delete left negative stats behind")
    assert(VectorIndex.query(spark, st,
      e.filter(col("vec_id") === 11L), k = 1).collect().nonEmpty,
      "failed delete tombstoned the id anyway")
    // wrong-dimension vectors refused (they would subtract garbage)
    import spark.implicits._
    val exDim = intercept[IllegalArgumentException] {
      VectorIndex.delete(spark, st, Seq(12L),
        Seq((12L, Seq(1.0, 2.0))).toDF("vec_id", "embedding"))
    }
    assert(exDim.getMessage.contains("-dim"))
  }

  test("fingerprint is partition-order-independent on huge-magnitude " +
    "content (the long-sum discipline): no spurious rebuild") {
    import spark.implicits._
    // weighted terms ~ 2e14 per row: a double sum across 50 rows
    // exceeds 2^53 (integer-valued doubles stop summing exactly) and
    // its value depends on partition visit order — per-row long casts
    // summed as longs cannot. Magnitudes stay below the PCA moment
    // grid's own fixed-point range (the baseline write must succeed).
    val big = (0 until 50).map { k =>
      (k.toLong, Seq.tabulate(64)(i => 1e5 + k * 0.3 + i * 0.01))
    }.toDF("vec_id", "embedding")
    val st = store("vidx-fp")
    VectorIndex.init(big.repartition(3), st, coarseIters = 2)
    for (parts <- Seq(1, 7, 13))
      assert(!VectorIndex.initIfStale(big.repartition(parts), st,
        coarseIters = 2),
        s"fingerprint changed under repartition($parts) — " +
          "the content sum is partition-order-dependent")
  }

  test("reconcileDriftStats repairs a divergent-retry double count; " +
    "unreconciledTombstones tracks vectors-free deletes and resets " +
    "after a reconcile") {
    val e = Tables.embeddings(spark, sf0001)
    val base = e.filter(col("vec_id").cast("long") % 4 =!= 3)
    val delta = e.filter(col("vec_id").cast("long") % 4 === 3)
    val st = store("vidx-reconcile")
    VectorIndex.init(base, st, coarseIters = 2)
    VectorIndex.update(delta, st)
    assert(VectorIndex.unreconciledTombstones(spark, st) == 0L)
    val served = base.unionByName(delta)
    // the documented hole: a crashed update retried with a DIFFERENT
    // key re-admits overlapping stats — simulate by re-appending the
    // delta's stats rows under a mutated batch key (fold cannot drop
    // them: the key differs)
    val dup = spark.read.parquet(s"$st/driftstats")
      .filter(col("batch_key").startsWith("b"))
      .withColumn("batch_key", concat(col("batch_key"), lit("_retry")))
    dup.write.mode("append").parquet(s"$st/driftstats")
    val bad = VectorIndex.driftReportFromStats(spark, st).collect()(0)
    val truth = VectorIndex.driftReport(spark, st, served).collect()(0)
    assert(bad.toSeq != truth.toSeq,
      "the planted double count should diverge (else the test is vacuous)")
    VectorIndex.reconcileDriftStats(spark, st, served)
    val fixed = VectorIndex.driftReportFromStats(spark, st).collect()(0)
    assert(fixed.toSeq == truth.toSeq,
      s"reconciled stats != corpus-scan report: $fixed vs $truth")
    // vectors-free deletes leave the stats counting the appended
    // corpus — the caveat counter must say how many
    VectorIndex.delete(spark, st, Seq(1L, 2L, 5L))
    assert(VectorIndex.unreconciledTombstones(spark, st) == 3L,
      "vectors-free deletes not counted as unreconciled")
    // a reconciling delete subtracts its own rows: no NEW unreconciled
    VectorIndex.delete(spark, st, Seq(6L, 9L), e)
    assert(VectorIndex.unreconciledTombstones(spark, st) == 3L,
      "reconciling delete wrongly counted as unreconciled")
    // a full reconcile on the survivors accounts for everything
    val survivors = served.filter(
      !col("vec_id").isin(1L, 2L, 5L, 6L, 9L))
    VectorIndex.reconcileDriftStats(spark, st, survivors)
    assert(VectorIndex.unreconciledTombstones(spark, st) == 0L,
      "reconcile did not reset the tombstone bookkeeping")
    assert(VectorIndex.driftReportFromStats(spark, st).collect()(0)
      .toSeq == VectorIndex.driftReport(spark, st, survivors)
      .collect()(0).toSeq,
      "post-reconcile stats-fed report != survivors' corpus scan")
  }

  test("atomic rebuild: readers serve the OLD model at every point " +
    "before the swap, the swap is all-or-nothing, a crash between its " +
    "renames recovers, tombstones clear") {
    val e = Tables.embeddings(spark, sf0001)
    val probes = e.filter(col("vec_id") < 5)
    val st = store("vidx-rebuild")
    VectorIndex.init(e.filter(col("vec_id") < 300), st, coarseIters = 2)
    VectorIndex.delete(spark, st, Seq(7L))
    val oldAnswer = VectorIndex.query(spark, st, probes, k = 3)
      .collect().map(_.toSeq).toSeq
    // the beforeSwap hook runs after the FULL retrain, before the
    // publish: the store must still serve the old model there
    var served: Seq[Seq[Any]] = null
    VectorIndex.rebuild(e, st, 0, 8, 16, 64, 1, 2, () => {
      served = VectorIndex.query(spark, st, probes, k = 3)
        .collect().map(_.toSeq).toSeq
    })
    assert(served == oldAnswer,
      "a reader mid-rebuild saw something other than the old model")
    // after the swap: the store == a fresh init on the new corpus
    val want = {
      val ref = store("vidx-rebuild-ref")
      VectorIndex.init(e, ref, coarseIters = 2)
      VectorIndex.query(spark, ref, probes, k = 3)
        .collect().map(_.toSeq).toSeq
    }
    assert(VectorIndex.query(spark, st, probes, k = 3)
      .collect().map(_.toSeq).toSeq == want,
      "rebuilt store diverged from a fresh init on the new corpus")
    // tombstones cleared: id 7 serves again (it is in the new corpus)
    assert(VectorIndex.reconstruct(spark, st, Seq(7L)).count() == 1,
      "rebuild did not clear tombstones")
    // crash window: store renamed away, __old survives — the next
    // read restores it (the recoverIfSwapped contract)
    val (p, f) = (new org.apache.hadoop.fs.Path(st),
      new org.apache.hadoop.fs.Path(st)
        .getFileSystem(spark.sparkContext.hadoopConfiguration))
    require(f.rename(p, new org.apache.hadoop.fs.Path(st + "__old")))
    assert(VectorIndex.exists(spark, st),
      "interrupted swap not recovered from __old")
    assert(VectorIndex.query(spark, st, probes, k = 3)
      .collect().map(_.toSeq).toSeq == want,
      "recovered store serves wrong content")
    // rebuilding a missing store is loud (bootstrap is init's job)
    val ex = intercept[IllegalArgumentException] {
      VectorIndex.rebuild(e, tmpDir("vidx-rebuild-none") + "/missing")
    }
    assert(ex.getMessage.contains("to rebuild"))
  }

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.toString)

  test("every store dir is written with its declared schema, so the " +
    "declared-schema reads see exactly what a schema-inferring read " +
    "would") {
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-schema")
    VectorIndex.init(e, st, coarseIters = 2)
    VectorIndex.update(e.limit(3)
      .withColumn("vec_id", col("vec_id") + lit(900000L)), st)
    VectorIndex.delete(spark, st, Seq(1L))
    for ((sub, declared) <- Seq("meta" -> VectorIndex.MetaSchema,
        "centroids" -> VectorIndex.CentroidsSchema,
        "codebooks" -> VectorIndex.CodebooksSchema,
        "codes" -> VectorIndex.CodesSchema,
        "tombstones" -> VectorIndex.TombstonesSchema)) {
      val inferred = spark.read.parquet(s"$st/$sub").schema
      assert(inferred.map(f => f.name -> f.dataType.simpleString) ==
        declared.map(f => f.name -> f.dataType.simpleString),
        s"$sub: written $inferred, declared $declared")
    }
  }

  test("a warm query on an unchanged store runs no Spark job outside " +
    "its ranking: no schema inference, no meta or model collect") {
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-warm")
    VectorIndex.init(e, st, coarseIters = 2)
    VectorIndex.delete(spark, st, Seq(7L)) // reads anti-join tombstones
    val probes = localVectors(e, 5)
    val cold = sortedRows(VectorIndex.query(spark, st, probes, k = 3))
    var warm: DataFrame = null
    val built = jobsDuring {
      warm = VectorIndex.query(spark, st, probes, k = 3)
    }
    assert(built.isEmpty,
      s"building a warm query ran ${built.size} Spark jobs")
    var rows: Seq[Seq[Any]] = null
    val ranked = jobsDuring { rows = sortedRows(warm) }
    assert(ranked.nonEmpty && ranked.forall(_.isDefined) &&
      ranked.distinct.size == 1,
      s"the warm ranking ran jobs outside its one SQL execution: $ranked")
    assert(rows == cold, "the warm query answered differently")
  }

  test("the held store snapshots never serve stale state: after an " +
    "in-place init, update + delete, an __old restore and a rebuild, " +
    "the next read equals a fresh read") {
    import org.apache.commons.io.FileUtils
    val e = Tables.embeddings(spark, sf0001)
    val probes = localVectors(e, 5)
    val st = store("vidx-held")
    def answer(s: String): (Seq[Seq[Any]], Seq[Seq[Any]]) =
      (sortedRows(VectorIndex.query(spark, s, probes, k = 3)),
        sortedRows(VectorIndex.reconstruct(spark, s, 0L until 10L)))
    // a copy at a new path has no held snapshot: its read is fresh
    def freshRead(s: String): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
      val copy = store("vidx-held-copy")
      FileUtils.copyDirectory(new java.io.File(s), new java.io.File(copy))
      answer(copy)
    }
    val pinned = sortedRows(Similarity.ivfPqTopK(e, probes, 3,
      coarseIters = 2))
    // in-place init over a different corpus
    VectorIndex.init(e.filter(col("vec_id") < 300), st, coarseIters = 2)
    val small = answer(st)
    VectorIndex.init(e, st, coarseIters = 2)
    assert(answer(st)._1 == pinned,
      "in-place init: the next query served the previous model")
    // update + delete: codes and tombstones change, the model does not
    val twin = e.filter(col("vec_id") === 2L)
      .select(lit(900000L).as("vec_id"),
        transform(col("embedding").cast("array<double>"),
          (x, i) => when(i === 63, x + lit(1e-4)).otherwise(x))
          .as("embedding"))
    VectorIndex.update(twin, st)
    VectorIndex.delete(spark, st, Seq(pinned.head(1).asInstanceOf[Long]))
    val updated = answer(st)
    assert(updated == freshRead(st), "update + delete: stale read")
    assert(updated._1.exists(_(1) == 900000L) &&
      !updated._1.exists(_(1) == pinned.head(1)),
      s"update + delete not visible: ${updated._1}")
    // __old restore: a crash left the root missing and the previous
    // copy (the updated store) in __old, while this JVM holds the
    // snapshot of a newer in-place init
    val saved = store("vidx-held-saved")
    FileUtils.copyDirectory(new java.io.File(st), new java.io.File(saved))
    VectorIndex.init(e.filter(col("vec_id") < 300), st, coarseIters = 2)
    assert(answer(st) == small, "in-place init back: stale read")
    FileUtils.deleteDirectory(new java.io.File(st))
    FileUtils.moveDirectory(new java.io.File(saved),
      new java.io.File(st + "__old"))
    assert(answer(st) == updated, "__old restore: stale read")
    // rebuild: the swap publishes a retrained store
    VectorIndex.rebuild(e, st, coarseIters = 2)
    assert(answer(st)._1 == pinned, "rebuild: stale read")
  }

  test("loud failure modes: query/update/delete/compact on a missing " +
    "store") {
    val e = Tables.embeddings(spark, sf0001)
    val none = tmpDir("vidx-none") + "/missing"
    val qe = intercept[IllegalArgumentException] {
      VectorIndex.query(spark, none, e.limit(1), k = 1)
    }
    assert(qe.getMessage.contains("no vector index store"))
    val ue = intercept[IllegalArgumentException] {
      VectorIndex.update(e.limit(1), none)
    }
    assert(ue.getMessage.contains("no vector index store"))
    val de = intercept[IllegalArgumentException] {
      VectorIndex.delete(spark, none, Seq(0L))
    }
    assert(de.getMessage.contains("no vector index store"))
    val ce = intercept[IllegalArgumentException] {
      VectorIndex.compact(spark, none)
    }
    assert(ce.getMessage.contains("no vector index store"))
  }

  private val StoreDirs = Seq("centroids", "codebooks", "codes",
    "driftstats", "baseline/audit", "baseline/axis", "meta")

  /** A store dir as written: its rows (as exact strings, sorted), the
    * writer's StructType from each data file's footer, and its data
    * file count.
    */
  private def dirState(dir: String): (Seq[String], Set[String], Int) = {
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val conf = spark.sparkContext.hadoopConfiguration
    val schemas = files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), conf))
      try r.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
      finally r.close()
    }.toSet
    (spark.read.parquet(dir).collect().map(_.toSeq.toString).toSeq.sorted,
      schemas, files.length)
  }

  private type Jobs = Seq[(Option[String], String)]

  /** Init `corpus` at the default fold cap (the driver trainer) and
    * at cap 0 (the distributed one); returns the two stores and each
    * init's jobs (execution id, call site).
    */
  private def initBothWays(corpus: DataFrame, prefix: String, nlist: Int,
                           m: Int, ksub: Int, dim: Int, iters: Int,
                           coarseIters: Int): (String, String, Jobs, Jobs) = {
    val (onSt, offSt) = (store(s"$prefix-on"), store(s"$prefix-off"))
    def run(st: String, cap: Int): Jobs = jobSitesDuring {
      DriverFold.withCap(cap)(VectorIndex.init(corpus, st, nlist, m, ksub,
        dim, iters, coarseIters))
    }
    (onSt, offSt, run(onSt, DriverFold.MaxRows), run(offSt, 0))
  }

  private def assertSameStore(on: String, off: String, what: String): Unit =
    for (d <- StoreDirs) {
      val (onRows, onSchemas, onFiles) = dirState(s"$on/$d")
      val (offRows, offSchemas, offFiles) = dirState(s"$off/$d")
      assert(onRows == offRows, s"$what: $d rows differ")
      assert(onSchemas == offSchemas && onSchemas.size == 1,
        s"$what: $d written as $onSchemas, distributed $offSchemas")
      assert(onFiles == offFiles,
        s"$what: $d has $onFiles files, distributed $offFiles")
    }

  /** The init jobs at training and PCA call sites: every job in
    * Pca.scala, and every Similarity.scala job but the one bounded
    * corpus collect (the Similarity.scala site that ran first).
    */
  private def trainingJobs(jobs: Jobs): Seq[String] = {
    val sim = jobs.map(_._2).filter(_.contains("Similarity.scala"))
    jobs.map(_._2).filter(site => site.contains("Pca.scala") ||
      (site.contains("Similarity.scala") && !sim.headOption.contains(site)))
  }

  test("a driver-built store == the distributed store dir for dir: " +
    "rows, writer schema and file count, with no training or PCA job") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf0001)
    def mix(s: Long, j: Int): Double = {
      var z = s * 64 + j + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      ((z ^ (z >>> 31)) >>> 11).toDouble / (1L << 53) - 0.5
    }
    // every vector a coarse seed; each vector of 0..5 has a twin at
    // id + 10 (a cosine tie the smaller id wins, so the twin's cell
    // attracts nothing) and the twins' near-zero residuals tie in PQ,
    // so PQ cells empty too; 20 is the zero vector
    val ties = ((0L until 6L).flatMap { i =>
      val v = Seq.tabulate(16)(j => mix(i, j))
      Seq((i, v), (i + 10, v))
    } :+ ((20L, Seq.fill(16)(0.0)))).toDF("vec_id", "embedding")
    val big = (0 until 50).map { k =>
      (k.toLong, Seq.tabulate(64)(i => 1e5 + k * 0.3 + i * 0.01))
    }.toDF("vec_id", "embedding")
    for ((what, corpus, nlist, m, ksub, dim) <- Seq(
        ("sf0.001", e, 0, 8, 16, 64),
        ("repartition(3)", e.repartition(3), 0, 8, 16, 64),
        ("ties, empty cells, zero vector", ties, 13, 4, 4, 16),
        ("huge magnitudes", big.repartition(3), 0, 8, 16, 64))) {
      val (on, off, jobs, _) = initBothWays(corpus, "vidx-drv", nlist, m,
        ksub, dim, iters = 2, coarseIters = 2)
      assertSameStore(on, off, what)
      assert(trainingJobs(jobs).isEmpty,
        s"$what: the driver-path init ran training or PCA jobs: $jobs")
      if (what.startsWith("ties")) {
        val cents = spark.read.parquet(s"$on/centroids").count()
        val cells = spark.read.parquet(s"$on/codebooks").count()
        assert(cents < 13 && cells < 4 * 4,
          s"the ties corpus left no empty cell: $cents centroids, " +
            s"$cells codebook cells")
      }
    }
  }

  test("the driver-path init runs one collect and the writes: no " +
    "execution at a training or PCA call site") {
    val e = Tables.embeddings(spark, sf0001)
    val (on, off, jobs, offJobs) = initBothWays(e, "vidx-jobs", 0, 8, 16,
      64, iters = 1, coarseIters = 2)
    assertSameStore(on, off, "sf0.001")
    val executions = jobs.flatMap(_._1).distinct
    // the fingerprint, the corpus collect, and seven dir writes
    assert(executions.size == 9 && jobs.forall(_._1.isDefined),
      s"driver-path init ran ${executions.size} executions: $jobs")
    assert(trainingJobs(jobs).isEmpty,
      s"driver-path init ran training or PCA jobs: $jobs")
    assert(jobs.count(_._2.contains("Similarity.scala")) <= 2,
      s"the corpus collect took more than two jobs: $jobs")
    val offTraining = trainingJobs(offJobs)
    assert(offTraining.exists(_.contains("Pca.scala")) &&
      offTraining.exists(_.contains("Similarity.scala")) &&
      offJobs.flatMap(_._1).distinct.size > executions.size,
      s"the forced distributed init should train with Spark: $offJobs")
  }

  test("at the default cap the byte term binds a wide corpus: at dim " +
    "4096 the driver path holds 127 rows and refuses 128") {
    import spark.implicits._
    val dim = 4096
    // 4 MiB / (8 + 8·4096) bytes per row = 127.97 rows
    val wide = (0L until 128L).map(id =>
      (id, Seq.tabulate(dim)(j => math.sin(id.toDouble * dim + j))))
      .toDF("vec_id", "emb")
    assert(DriverFold.cap > 128)
    assert(Similarity.driverCorpus(wide.limit(127), dim)
      .exists(_.rows.map(_._1) == (0L until 127L)))
    assert(Similarity.driverCorpus(wide, dim).isEmpty,
      "a 128-row corpus at dim 4096 was admitted past the byte term")
    // and the fold cap binds once it is the smaller term
    assert(DriverFold.withCap(126)(
      Similarity.driverCorpus(wide.limit(127), dim)).isEmpty)
  }

  test("a corpus one row past the cap, or a dirty one, takes the " +
    "distributed path and gives today's result") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val e = Tables.embeddings(spark, sf0001)
    val n = e.count().toInt
    val prepped = e.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    // the collect itself bounds the corpus (no known row count)
    assert(DriverFold.withCap(n)(Similarity.driverCorpus(prepped, 64))
      .exists(_.rows.size == n))
    assert(DriverFold.withCap(n - 1)(Similarity.driverCorpus(prepped, 64))
      .isEmpty)
    val (atCap, pastCap) = (store("vidx-cap-at"), store("vidx-cap-past"))
    val atJobs = jobSitesDuring {
      DriverFold.withCap(n)(VectorIndex.init(e, atCap, 0, 8, 16, 64, 1, 2))
    }
    val pastJobs = jobSitesDuring {
      DriverFold.withCap(n - 1)(
        VectorIndex.init(e, pastCap, 0, 8, 16, 64, 1, 2))
    }
    assert(trainingJobs(atJobs).isEmpty, s"at the cap: $atJobs")
    assert(trainingJobs(pastJobs).exists(_.contains("Pca.scala")),
      s"one row past the cap should train with Spark: $pastJobs")
    assertSameStore(atCap, pastCap, "at vs one row past the cap")

    val small = e.filter(col("vec_id") < 60)
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    def corpus(at: Int, emb: Seq[Double] => Any): DataFrame =
      spark.createDataFrame(small.toSeq.map { case (id, v) =>
        Row(id, if (id == at) emb(v) else v) }.asJava,
        StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(DoubleType)))))
    val dupIds = corpus(-1, v => v).union(corpus(-1, v => v).limit(1))
    // a non-finite component fails the build with the store's error
    // naming its vec_id, on both paths
    for ((what, dirty, badId) <- Seq(
        ("NaN", corpus(7, _.updated(5, Double.NaN)), Some(7)),
        ("+Inf", corpus(8, _.updated(0, Double.PositiveInfinity)), Some(8)),
        ("-Inf", corpus(9, _.updated(63, Double.NegativeInfinity)), Some(9)),
        ("null element", corpus(10, _.updated(20, null)), None),
        ("null embedding", corpus(11, _ => null), None),
        ("duplicate id", dupIds, None))) {
      assert(Similarity.driverCorpus(dirty.select(col("vec_id"),
          col("embedding").as("emb")), 64).isEmpty,
        s"$what: a dirty corpus was admitted to the driver path")
      val (on, off) = (store("vidx-dirty-on"), store("vidx-dirty-off"))
      def outcome(st: String, cap: Int): Either[String, Seq[Any]] =
        scala.util.Try(DriverFold.withCap(cap)(
          VectorIndex.init(dirty, st, 4, 8, 16, 64, 1, 2))).toEither
          .left.map {
            case t: org.apache.spark.SparkThrowable
                if t.getCondition != null =>
              s"${t.getCondition} ${t.getMessageParameters}"
            case t => s"${t.getClass.getName}: ${t.getMessage}"
          }
          .map(_ => StoreDirs.map(d => dirState(s"$st/$d")))
      val (onOut, offOut) =
        (outcome(on, DriverFold.MaxRows), outcome(off, 0))
      assert(onOut == offOut,
        s"$what: the default-cap init differs from the distributed one")
      for (id <- badId; out <- Seq(onOut, offOut))
        assert(out.left.exists(_.contains(nonFinite(id))), s"$what: $out")
    }
  }

  /** The store's error for a non-finite component of `id`. */
  private def nonFinite(id: Long): String =
    s"vector index: vec_id $id has a NaN or infinite embedding component"

  test("update rejects a batch with a NaN or infinite component, naming " +
    "its smallest such vec_id, and keeps the clean store") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-nonfinite")
    VectorIndex.init(e, st, coarseIters = 2)
    val stats = spark.read.parquet(s"$st/driftstats").collect().toSeq
    val v = Seq.tabulate(64)(i => i * 0.01)
    val batch = spark.createDataFrame(Seq(
        Row(990001L, v), Row(990002L, v.updated(3, Double.NaN)),
        Row(990003L, v.updated(9, Double.NegativeInfinity))).asJava,
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))
    val err = intercept[Exception](VectorIndex.update(batch, st))
    val chain = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain.contains(nonFinite(990002L)), chain)
    assert(spark.read.parquet(s"$st/driftstats").collect().toSeq == stats,
      "a rejected batch changed the drift statistics")
  }

  test("a query set one row past |Q|·m·ksub ≤ LocalFoldMaxQueryRows " +
    "takes the distributed form and ranks the same") {
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-qcap")
    VectorIndex.init(e, st, ksub = 64, coarseIters = 2)
    val cap = DriverFold.MaxRows / (8 * 64)
    val (past, at, last) = (localVectors(e, cap + 1), localVectors(e, cap),
      localVectors(e, cap + 1).filter(col("vec_id") === cap))
    def plan(q: DataFrame): String =
      VectorIndex.query(spark, st, q, k = 3).queryExecution
        .executedPlan.toString
    assert(plan(past).contains("posexplode"),
      s"|Q| = ${cap + 1} should take the distributed dtable:\n${plan(past)}")
    assert(!plan(at).contains("posexplode"),
      s"|Q| = $cap should fold on the driver:\n${plan(at)}")
    assert(sortedRows(VectorIndex.query(spark, st, past, k = 3)) ==
      (sortedRows(VectorIndex.query(spark, st, at, k = 3)) ++
        sortedRows(VectorIndex.query(spark, st, last, k = 3)))
        .sortBy(_.toString),
      "the distributed form ranked differently from the driver fold")
  }

  /** The raw codes rows a query over `q` reads: every row of the codes
    * dir in the cells the probes pick.
    */
  private def probedCodeRows(st: String, q: DataFrame): Long = {
    val cells = Similarity.ivfPqProbes(
        q.select(col("vec_id").cast("long").as("query_id"),
          col("embedding").cast("array<double>").as("emb")),
        spark.read.parquet(s"$st/centroids"), 4)
      .select("coarse_id").distinct().collect().map(_.getLong(0)).toSeq
    spark.read.parquet(s"$st/codes").filter(col("coarse_id").isin(cells: _*))
      .count()
  }

  /** A store whose probed cells hold the fold's corner cases: two twins
    * of vec 3 (identical codes, so every query ties them), a replayed
    * codes append (duplicate rows), a probed cell whose codes are all
    * gone (an empty cell the probes still rank), and a tombstoned id
    * from the first answer; the queries are corpus vectors, so every
    * query has a self-hit to drop.
    */
  private def adversarialStore(prefix: String): (String, DataFrame) = {
    import scala.jdk.CollectionConverters._
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val twins = Seq(900003L, 900004L).map(id =>
      e.filter(col("vec_id") === 3L).select(lit(id).as("vec_id"),
        col("embedding")))
    val st = store(prefix)
    VectorIndex.init(twins.foldLeft(e)(_ unionByName _), st,
      coarseIters = 2)
    val q = localVectors(e, 5)
    def cellOf(id: Long): Long = spark.read.parquet(s"$st/codes")
      .filter(col("vec_id") === id).select("coarse_id").head().getLong(0)
    // empty the cell of a probed neighbour that is not the twins' cell
    val victimCell = VectorIndex.query(spark, st, q, k = 3).collect()
      .map(r => cellOf(r.getLong(1))).filterNot(_ == cellOf(3L)).head
    val kept = spark.read.schema(VectorIndex.CodesSchema)
      .parquet(s"$st/codes").filter(col("coarse_id") =!= victimCell)
      .collect().toSeq
    spark.createDataFrame(kept.asJava, VectorIndex.CodesSchema)
      .write.mode("overwrite").parquet(s"$st/codes")
    spark.createDataFrame(kept.take(200).asJava, VectorIndex.CodesSchema)
      .write.mode("append").parquet(s"$st/codes")
    val top = VectorIndex.query(spark, st, q, k = 1).collect()
      .map(_.getLong(1)).filterNot(Set(900003L, 900004L)).head
    VectorIndex.delete(spark, st, Seq(top))
    (st, q)
  }

  test("the driver rank fold == the distributed rank at the fold cap " +
    "±1 codes row: ties, a replayed append, a tombstone, self-hits and " +
    "an empty probed cell; identical rows and StructType") {
    val (st, q) = adversarialStore("vidx-fold")
    val n = probedCodeRows(st, q).toInt
    assert(n - 1 >= 5 * 8 * 16, s"$n codes rows: |Q| would leave the fold")
    def run(cap: Int): (Seq[Seq[Any]], org.apache.spark.sql.types.StructType,
        Int) = DriverFold.withCap(cap) {
      val df = VectorIndex.query(spark, st, q, k = 6)
      var rows: Seq[Seq[Any]] = null
      val jobs = jobsDuring { rows = sortedRows(df) }
      (rows, df.schema, jobs.size)
    }
    val (folded, foldedSchema, foldedJobs) = run(n)
    val (past, pastSchema, pastJobs) = run(n - 1)
    assert(foldedJobs == 1, s"at the cap the fold ran $foldedJobs jobs")
    assert(pastJobs > 1, "one row past the cap should run the " +
      "distributed rank")
    assert(folded == past, "the fold ranked differently from the plan")
    val distributed = DriverFold.withCap(0) {
      VectorIndex.query(spark, st, q, k = 6)
    }
    assert(sortedRows(distributed) == folded)
    assert(foldedSchema == distributed.schema &&
      pastSchema == distributed.schema,
      s"${foldedSchema.treeString} vs ${distributed.schema.treeString}")
    // the twins tie on query 3 and order by vec_id; no self-hit
    val q3 = folded.filter(_.head == 3L).sortBy(_(3).asInstanceOf[Int])
    assert(q3.take(2).map(_(1)) == Seq(900003L, 900004L) &&
      q3(0)(2) == q3(1)(2), s"tied twins: $q3")
    assert(!folded.exists(r => r(0) == r(1)), "a self-hit was ranked")
  }

  test("diversifiedQuery ranks and reconstructs on the driver at the " +
    "fold cap, == its distributed form one row past it, in one job") {
    val (st, q) = adversarialStore("vidx-fold-mmr")
    val n = probedCodeRows(st, q).toInt
    def run(cap: Int): (Seq[Seq[Any]], Int) = DriverFold.withCap(cap) {
      def read() = sortedRows(VectorIndex.diversifiedQuery(spark, st, q,
        k = 4, poolSize = 12, lambda = 0.7))
      read() // warm: the tombstone snapshot reloads once
      var rows: Seq[Seq[Any]] = null
      val jobs = jobsDuring { rows = read() }
      (rows, jobs.size)
    }
    val (folded, foldedJobs) = run(n)
    val (past, pastJobs) = run(n - 1)
    assert(foldedJobs == 1, s"the folded read ran $foldedJobs jobs")
    assert(pastJobs > 1)
    assert(folded == past, "driver rank + reconstruct diverged from the " +
      "distributed ranking and reconstruct")
  }

  test("a warm query runs exactly one Spark job: the probed codes read") {
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-onejob")
    VectorIndex.init(e, st, coarseIters = 2)
    VectorIndex.delete(spark, st, Seq(7L))
    val probes = localVectors(e, 5)
    VectorIndex.query(spark, st, probes, k = 3).collect()
    val sites = jobSitesDuring {
      VectorIndex.query(spark, st, probes, k = 3).collect()
    }
    assert(sites.size == 1, s"a warm query ran jobs at $sites")
  }

  test("serving tails with no distributed form fail by name one row " +
    "past the fold cap") {
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-pastcap")
    VectorIndex.init(e, st, coarseIters = 2)
    val q = localVectors(e, 5)
    def fails(cap: Int, what: String)(body: => Any): Unit = {
      val ex = intercept[graft.plans.FoldCapExceeded] {
        DriverFold.withCap(cap)(body)
      }
      assert(ex.getMessage.contains(what) &&
        ex.getMessage.contains(s"more than $cap rows"), ex.getMessage)
    }
    // candidates: |Q|·rerank = 40 rows, pool: |Q|·poolSize = 60 rows
    val rerank = DriverFold.withCap(40) {
      sortedRows(VectorIndex.queryRerank(spark, st, e, q, k = 3))
    }
    assert(rerank == sortedRows(VectorIndex.queryRerank(spark, st, e, q,
      k = 3)))
    fails(39, "queryRerank candidates") {
      VectorIndex.queryRerank(spark, st, e, q, k = 3)
    }
    // a corpus holding every vector twice fetches 2 rows per candidate
    val fetched = 2 * VectorIndex.query(spark, st, q, k = 8).collect()
      .map(_.getLong(1)).distinct.length
    assert(fetched > 41)
    fails(fetched - 1, "queryRerank fetch") {
      VectorIndex.queryRerank(spark, st, e.unionByName(e), q, k = 3)
    }
    fails(59, "diversifiedQueryRerank candidates") {
      VectorIndex.diversifiedQueryRerank(spark, st, e, q, k = 4)
    }
    fails(59, "diversifiedQuery pool") {
      VectorIndex.diversifiedQuery(spark, st, q, k = 4)
    }
  }

  /** A copy of `src` at a new path (which holds no snapshot yet). */
  private def copyStore(src: String, prefix: String): String = {
    val dst = store(prefix)
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(src),
      new java.io.File(dst))
    dst
  }

  /** The jobs of `jobs` that are not a held snapshot's (re)load. */
  private def workJobs(jobs: Jobs): Jobs =
    jobs.filterNot(_._2.contains("DirSnapshot"))

  test("update and the reconciling delete forced both ways at the fold " +
    "cap ±1 batch row, beside a plain delete, write the same store dirs " +
    "(rows, StructType, footer schema, file count) and the same " +
    "stats-fed drift report") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf0001)
    val base = store("vidx-writes")
    VectorIndex.init(e, base, coarseIters = 2)
    VectorIndex.delete(spark, base, Seq(3L))
    val corpus = localVectors(e, 40)
    val v = corpus.as[(Long, Seq[Double])].collect().sortBy(_._1)
    // four new vectors (one of them presented twice, one with a -0.0
    // component), an id already coded and a tombstoned one
    val fresh = v.take(4).map { case (id, x) =>
      (900000L + id, x.map(_ * 1.5).updated(2, if (id == 1L) -0.0 else x(2)))
    }
    val batch = (fresh.toSeq ++ Seq(fresh(0), v(5), v(3)))
      .toDF("vec_id", "embedding")
    val batchRows = 7
    val (killed, takenDown) = (Seq(10L, 11L, 12L), Seq(20L, 21L, 3L))
    val t0 = System.currentTimeMillis()
    // the plain delete's tombstones are driver-written at any id count,
    // so only the update and the reconciling delete's stats fork
    def run(st: String, over: Int): Seq[Jobs] = Seq(
      DriverFold.withCap(batchRows - over)(
        jobSitesDuring(VectorIndex.update(batch, st))),
      { VectorIndex.delete(spark, st, killed)
        // 3 is already tombstoned: two ids and two vectors are fresh
        DriverFold.withCap(2 - over)(jobSitesDuring(
          VectorIndex.delete(spark, st, takenDown, corpus))) })
    val (onSt, offSt) = (copyStore(base, "vidx-writes-on"),
      copyStore(base, "vidx-writes-off"))
    val (on, off) = (run(onSt, 0), run(offSt, 1))
    for (((a, b), op) <- on.zip(off).zip(Seq("update",
        "delete with vectors")))
      assert(workJobs(a).size <= 1 && workJobs(b).size > workJobs(a).size,
        s"$op: at the cap ran $a, past it $b")
    for (d <- Seq("codes", "driftstats", "tombstones")) {
      val drop = if (d == "tombstones") Seq("deleted_at") else Nil
      val (rowsOn, schemaOn, footOn, filesOn) = writtenDir(s"$onSt/$d", drop: _*)
      val (rowsOff, schemaOff, footOff, filesOff) =
        writtenDir(s"$offSt/$d", drop: _*)
      assert(rowsOn == rowsOff, s"$d: rows differ")
      assert(schemaOn == schemaOff, s"$d: StructType differs")
      assert(footOn == footOff, s"$d: footers $footOn vs $footOff")
      assert(filesOn == filesOff, s"$d: $filesOn files vs $filesOff")
    }
    val stamps = spark.read.parquet(s"$onSt/tombstones")
      .filter(col("vec_id") =!= 3L).collect().map(_.getAs[Long]("deleted_at"))
    assert(stamps.length == 5 && stamps.forall(t =>
      t >= t0 && t <= System.currentTimeMillis()), stamps.toSeq)
    assert(spark.read.parquet(s"$onSt/codes")
      .filter(col("vec_id") >= 900000L).select("vec_id").distinct().count()
      == 4, "the batch's four new vectors were not all coded")
    def report(st: String) = VectorIndex.driftReportFromStats(spark, st)
      .collect().toSeq
    assert(report(onSt) == report(offSt), "stats-fed drift reports differ")
    assert(VectorIndex.unreconciledTombstones(spark, onSt) ==
      VectorIndex.unreconciledTombstones(spark, offSt))
    // a replay of every write appends nothing on either path
    def files(st: String) = Seq("codes", "driftstats", "tombstones")
      .map(d => writtenDir(s"$st/$d")._4)
    val (fOn, fOff) = (files(onSt), files(offSt))
    DriverFold.withCap(batchRows)(VectorIndex.update(batch, onSt))
    DriverFold.withCap(batchRows - 1)(VectorIndex.update(batch, offSt))
    VectorIndex.delete(spark, onSt, takenDown, corpus)
    assert(files(onSt) == fOn && files(offSt) == fOff,
      "a replayed batch appended to the store")
  }

  test("warm writes of a local batch: update runs at most one Spark job " +
    "(the codes probe), both deletes none, and the next read reloads " +
    "no held snapshot") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf0001)
    val st = store("vidx-warm-writes")
    VectorIndex.init(e, st, coarseIters = 2)
    VectorIndex.delete(spark, st, Seq(7L))
    val probes = localVectors(e, 5)
    val vectors = localVectors(e, 30)
    def read(): Jobs = jobSitesDuring {
      VectorIndex.query(spark, st, probes, k = 3).collect(); ()
    }
    read()
    val batch = vectors.as[(Long, Seq[Double])].collect().take(3).toSeq
      .map { case (id, x) => (800000L + id, x) }.toDF("vec_id", "embedding")
    val upd = jobSitesDuring(VectorIndex.update(batch, st))
    assert(upd.size <= 1, s"a warm update ran $upd")
    val probe = capturedPlans(VectorIndex.update(batch, st))
    assert(probe.exists(p => p.contains("PushedFilters") &&
      p.contains("In(vec_id") && p.contains("EqualTo(sub,0)")),
      s"the codes probe pushed no vec_id IN: $probe")
    assert(read().size == 1, "the read after update reloaded a snapshot")
    val del = jobSitesDuring(VectorIndex.delete(spark, st, Seq(8L)))
    assert(del.isEmpty, s"a warm delete ran $del")
    val afterDel = read()
    assert(afterDel.size == 1 && !afterDel.exists(_._2.contains("DirSnapshot")),
      s"the read after delete ran $afterDel")
    val delV = jobSitesDuring(
      VectorIndex.delete(spark, st, Seq(9L, 10L), vectors))
    assert(delV.isEmpty, s"a warm reconciling delete ran $delV")
    assert(read().size == 1, "the read after delete reloaded a snapshot")
    assert(!VectorIndex.query(spark, st, probes, k = 30).collect()
      .exists(r => Set(7L, 8L, 9L, 10L)(r.getAs[Long]("neighbor_id"))),
      "a deleted id was served")
  }
}
