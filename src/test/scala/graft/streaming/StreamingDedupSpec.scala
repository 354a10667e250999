package graft.streaming

import graft.{SparkTestBase, Tables}
import graft.ext.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streaming maintenance drain must agree with a full batch
  * recompute (whose candidates feed the oracle-checked d03 family),
  * drain only the delta on restart, and tolerate replayed appends.
  */
class StreamingDedupSpec extends SparkTestBase {

  private def stage(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = tmpDir("sd-stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(dir, name))
  }

  test("streaming drains maintain signatures + pairs == full recompute; " +
    "no-op re-drain; replayed appends fold at read") {
    val srcDir = tmpDir("sd-src")
    val store = tmpDir("sd-store") + "/sigs"
    val pairsOut = tmpDir("sd-pairs") + "/pairs"
    val ckpt = tmpDir("sd-ckpt")
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val base = docs.filter(col("doc_id") < 200)
    // the delta plants near-copies of BASE docs, so its pairs cross
    // the drain boundary — the case that breaks a naive "dedup each
    // batch independently" implementation
    val delta = docs.filter(col("doc_id") >= 200)
      .unionByName(base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" tail")).as("text")))

    // drain 1 = bootstrap (empty store)
    stage(base, srcDir, "a.parquet")
    StreamingDedup.maintainStream(spark, srcDir, store, pairsOut, ckpt)

    // drain 2 (restart from checkpoint): only the new file is read
    stage(delta, srcDir, "b.parquet")
    val total = StreamingDedup.maintainStream(
      spark, srcDir, store, pairsOut, ckpt)

    val grown = base.unionByName(delta)
    val full = Dedup.minhashCandidates(grown)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = StreamingDedup.readPairs(spark, pairsOut)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == full,
      s"streamed ${streamed.size} != full recompute ${full.size}")
    assert(total == full.size.toLong)
    assert(streamed.exists { case (a, b) => b - a == 100000L },
      "cross-drain planted pair missing")
    // store == full-rebuild signatures (the ZoneMap contract)
    val viaStore = Dedup.readSignatures(spark, store)
      .collect().map(_.toSeq).toSet
    val rebuild = Dedup.signatureRowsWithDl(grown, 3)
      .collect().map(_.toSeq).toSet
    assert(viaStore == rebuild)

    // the per-drain s27 advisory needs an INIT-TIME baseline: a store
    // grown only by drains has none and must fail loudly, not report
    // drift against garbage
    val exB = intercept[IllegalArgumentException] {
      Dedup.sigDriftReportFromStore(spark, store)
    }
    assert(exB.getMessage.contains("predates drift baselines"))
    // the production flow — bootstrap with a baseline, THEN drain:
    // the store-fed advisory after the drain equals the corpus-scan
    // twin over base ∪ delta bit for bit, at store-read cost (the
    // "affordable after every drain" claim exercised through the
    // actual checkpointed drain path)
    val store2 = tmpDir("sd-store2") + "/sigs"
    val srcDir2 = tmpDir("sd-src2")
    val pairsOut2 = tmpDir("sd-pairs2") + "/pairs"
    val ckpt2 = tmpDir("sd-ckpt2")
    Dedup.initSignaturesIfStale(base, store2)
    stage(delta, srcDir2, "delta.parquet")
    StreamingDedup.maintainStream(spark, srcDir2, store2, pairsOut2, ckpt2)
    val fed = Dedup.sigDriftReportFromStore(spark, store2).collect()(0)
    val scanTwin = Dedup.sigDriftReportScan(
      base.unionByName(delta), store2).collect()(0)
    assert(fed.toSeq == scanTwin.toSeq,
      s"post-drain store-fed advisory != corpus-scan twin: " +
        s"$fed vs $scanTwin")

    // re-drain with nothing new: a no-op (checkpoint already covers
    // every file), count unchanged
    val again = StreamingDedup.maintainStream(
      spark, srcDir, store, pairsOut, ckpt)
    assert(again == total, "no-op re-drain changed the pair set")

    // a replayed micro-batch (at-least-once) re-appends the same pair
    // rows; readPairs' distinct folds them
    StreamingDedup.readPairs(spark, pairsOut).limit(5)
      .write.mode("append").parquet(pairsOut)
    assert(StreamingDedup.readPairs(spark, pairsOut).count() == total)
  }

  test("narrow decontamination map: bit-identical to the declarative " +
    "x24 plan, and runs unchanged on a document STREAM") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("source") =!= "src0")
      .select("doc_id", "text")
    val eval_ = docs.filter(col("source") === "src0")
      .select("doc_id", "text")

    // batch parity: same window hashes, same cover-all cut → equal sets
    val declarative = Dedup.despanContaminated(corpus, eval_, n = 5)
      .as[(Long, String, Long, Long)].collect().toSet
    val narrow = Dedup.despanContaminatedMap(spark, corpus, eval_, n = 5)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(narrow == declarative,
      s"narrow map diverged: extra=${(narrow -- declarative).take(3)} " +
        s"missing=${(declarative -- narrow).take(3)}")

    // the same transform applies to a streaming frame (stateless
    // narrow map: no watermark, no stateful operator needed)
    val srcDir = tmpDir("despan-stream-src")
    stage(corpus, srcDir, "docs.parquet")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val cleaned = Dedup.despanContaminatedMap(spark, stream, eval_, n = 5)
    assert(cleaned.isStreaming, "transform must preserve streaming-ness")
    StreamingOps.runToCompletion(cleaned, "despan_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val streamed = spark.table("despan_stream")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(streamed == declarative, "streamed despan diverged from batch")
  }

  test("x25 corpus shuffle: stateless streaming shard assignment; " +
    "drain + batch finalize == all-at-once batch") {
    import graft.ext.TextAnalysis
    // the production shape: a readStream ingest assigns shards online
    // (stage 1, stateless narrow map), per-shard dense positions are
    // the write-time finalize over the drained sink (stage 2)
    val docs = Tables.documents(spark, sf0001).select("doc_id")
    val srcDir = tmpDir("shuffle-stream-src")
    // two files = two micro-batches: the assignment must not depend
    // on batch boundaries
    stage(docs.filter(col("doc_id") % 2 === 0), srcDir, "a.parquet")
    stage(docs.filter(col("doc_id") % 2 === 1), srcDir, "b.parquet")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val assigned = TextAnalysis.shardAssign(stream, nShards = 4)
    assert(assigned.isStreaming,
      "shard assignment must stay a stateless streaming transform")
    StreamingOps.runToCompletion(assigned, "shuffle_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val finalized = TextAnalysis
      .shardPositions(spark.table("shuffle_stream")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = TextAnalysis.corpusShuffle(docs, nShards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(finalized == batch,
      "streamed shard/pos assignment diverged from the batch shuffle")
  }

  test("x32 line dedup: stateless streaming map; drain == batch") {
    import graft.ext.TextAnalysis
    // intra-doc line dedup never leaves the row, so the operator must
    // run unchanged on a stream, indifferent to batch boundaries
    val rows = Seq(
      (1L, Seq("nav", "body a", "nav", "body b").mkString("\n")),
      (2L, Seq("x", "y", "z").mkString("\n")),
      (3L, Seq("r", "r", "r", "s").mkString("\n")),
      (4L, "solo"))
    val docs = spark.createDataFrame(rows).toDF("doc_id", "text")
    val srcDir = tmpDir("linededup-stream-src")
    stage(docs.filter(col("doc_id") <= 2), srcDir, "a.parquet")
    stage(docs.filter(col("doc_id") > 2), srcDir, "b.parquet")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val deduped = TextAnalysis.dedupLines(stream)
    assert(deduped.isStreaming,
      "line dedup must stay a stateless streaming transform")
    StreamingOps.runToCompletion(deduped, "linededup_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val streamed = spark.table("linededup_stream").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_lines"),
        r.getAs[Long]("n_dup_lines"), r.getAs[String]("clean_text")))
      .toSet
    val batch = TextAnalysis.dedupLines(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_lines"),
        r.getAs[Long]("n_dup_lines"), r.getAs[String]("clean_text")))
      .toSet
    assert(streamed == batch,
      "streamed line dedup diverged from the batch operator")
  }

  test("x27/x28 quality gates: stateless streaming maps; drain == batch") {
    import graft.ext.TextAnalysis
    // both gates are pure higher-order column maps (DESIGN claims
    // streaming-capable as-is) — pin it: two-micro-batch drain equals
    // the batch operator for gopherQuality AND c4Clean
    val rows = Seq(
      (1L, "s0", ("the quick brown fox jumps over the lazy dog " * 8)
        .trim + "."),
      (2L, "s1", "short."),
      (3L, "s0", Seq("a good line with enough words here.",
        "no punct line", "another plenty long line that stays!")
        .mkString("\n")),
      (4L, "s1", "lorem ipsum dolor sit amet and then some more."))
    val docs = spark.createDataFrame(rows)
      .toDF("doc_id", "source", "text")
    val srcDir = tmpDir("quality-stream-src")
    stage(docs.filter(col("doc_id") <= 2), srcDir, "a.parquet")
    stage(docs.filter(col("doc_id") > 2), srcDir, "b.parquet")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    for ((name, op) <- Seq[(String,
      org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        ("gopher_stream", TextAnalysis.gopherQuality),
        ("c4_stream", df => TextAnalysis.c4Clean(df)))) {
      val out = op(stream)
      assert(out.isStreaming, s"$name must stay a stateless transform")
      StreamingOps.runToCompletion(out, name,
        org.apache.spark.sql.streaming.OutputMode.Append())
      val streamed = spark.table(name).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.toSeq.toList).toMap
      val batch = op(docs).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.toSeq.toList).toMap
      assert(streamed == batch, s"$name diverged from batch")
    }
  }

  test("quality-probe scorer: stateless streaming map with an " +
    "offline-trained model; drain == batch predictions") {
    import graft.ext.TextAnalysis
    val corpus = Seq(
      (1L, "good", "alpha beta gamma delta alpha beta"),
      (2L, "good", "alpha gamma delta epsilon beta alpha"),
      (3L, "junk", "zork quux blarg fnord wibble glorp"),
      (4L, "junk", "fnord zork glorp quux blarg snark"))
    val train = spark.createDataFrame(corpus)
      .toDF("doc_id", "source", "text")
    val model = TextAnalysis.qualityProbeModel(train,
      col("source") === "good", epochs = 3)
    val incoming = Seq(
      (10L, "alpha beta gamma delta"),
      (11L, "zork quux fnord glorp"))
    val docs = spark.createDataFrame(incoming).toDF("doc_id", "text")
    val srcDir = tmpDir("qprobe-stream-src")
    stage(docs.filter(col("doc_id") <= 10), srcDir, "a.parquet")
    stage(docs.filter(col("doc_id") > 10), srcDir, "b.parquet")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val scoredStream = TextAnalysis.qualityProbeScoreMap(stream, model)
    assert(scoredStream.isStreaming,
      "probe scoring must stay a stateless streaming transform")
    StreamingOps.runToCompletion(scoredStream, "qprobe_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val streamed = spark.table("qprobe_stream").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("margin"),
        r.getAs[Boolean]("predicted"))).toSet
    val batch = TextAnalysis.qualityProbeScoreMap(docs, model).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("margin"),
        r.getAs[Boolean]("predicted"))).toSet
    assert(streamed == batch,
      "streamed probe scoring diverged from the batch operator")
    // the good-vocabulary doc is accepted, the junk one rejected
    val byId = streamed.map(t => t._1 -> t._3).toMap
    assert(byId(10L) && !byId(11L),
      s"probe predictions wrong on held-out docs: $byId")
  }

  test("dsir scorer: stateless streaming map with an offline-trained " +
    "model; drain == batch") {
    import graft.ext.TextAnalysis
    // the deployment shape: ratios trained offline on a batch corpus,
    // new documents scored on the stream by the narrow in-row map
    val corpus = Seq(
      (1L, "tgt", "alpha beta gamma delta epsilon alpha"),
      (2L, "web", "alpha beta gamma zork quux delta"),
      (3L, "web", "blarg fnord wibble glorp snark blip"))
    val train = spark.createDataFrame(corpus)
      .toDF("doc_id", "source", "text")
    val ratios = TextAnalysis.dsirRatios(train,
      col("source") === "tgt")
    val incoming = Seq(
      (10L, "alpha beta gamma delta epsilon beta"),
      (11L, "zork quux blarg fnord wibble glorp"),
      (12L, "epsilon"))
    val docs = spark.createDataFrame(incoming).toDF("doc_id", "text")
    val srcDir = tmpDir("dsir-stream-src")
    stage(docs.filter(col("doc_id") <= 10), srcDir, "a.parquet")
    stage(docs.filter(col("doc_id") > 10), srcDir, "b.parquet")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val scoredStream = TextAnalysis.dsirScore(stream, ratios)
    assert(scoredStream.isStreaming,
      "dsir scoring must stay a stateless streaming transform")
    StreamingOps.runToCompletion(scoredStream, "dsir_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val streamed = spark.table("dsir_stream").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_features"),
        r.getAs[Double]("logw"))).toSet
    val batch = TextAnalysis.dsirScore(docs, ratios).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_features"),
        r.getAs[Double]("logw"))).toSet
    assert(streamed == batch,
      "streamed dsir scoring diverged from the batch operator")
    TextAnalysis.dsirRelease(train, col("source") === "tgt")
  }

  test("bpe token counter: stateless streaming map with an " +
    "offline-trained merge list; drain == batch") {
    import graft.ext.TextAnalysis
    // the deployment shape: merges trained offline on the existing
    // corpus, NEW documents token-counted on the stream by the
    // chained-replace narrow map — no retrain, no shuffle, no state
    val corpus = Seq(
      (1L, "low low low lower lower newest newest"))
    val train = spark.createDataFrame(corpus).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(train, 3)
    val incoming = Seq(
      (10L, "low lower"),
      (11L, "newest low low"),
      (12L, ""))
    val docs = spark.createDataFrame(incoming).toDF("doc_id", "text")
    val srcDir = tmpDir("bpe-stream-src")
    stage(docs.filter(col("doc_id") <= 10), srcDir, "a.parquet")
    stage(docs.filter(col("doc_id") > 10), srcDir, "b.parquet")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val countedStream = TextAnalysis.bpeTokenCounts(stream, merges)
    assert(countedStream.isStreaming,
      "bpe counting must stay a stateless streaming transform")
    StreamingOps.runToCompletion(countedStream, "bpe_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val streamed = spark.table("bpe_stream").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens"))
      .toSet
    val batch = TextAnalysis.bpeTokenCounts(docs, merges).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens"))
      .toSet
    assert(streamed == batch,
      "streamed bpe counting diverged from the batch operator")
  }

  test("keyword tagger: stateless streaming map (broadcast automaton); " +
    "drain == batch") {
    import graft.ext.TextAnalysis
    // the blocklist deployment shape: the automaton is built once on
    // the driver, NEW documents are tagged on the stream by the same
    // narrow codegen walk — no shuffle, no state
    val patterns = Seq("fast merge", "able", "spark")
    val incoming = Seq(
      (10L, "the fast merge runs"),
      (11L, "a table and spark"),
      (12L, "nothing here"))
    val docs = spark.createDataFrame(incoming).toDF("doc_id", "text")
    val srcDir = tmpDir("kw-stream-src")
    stage(docs.filter(col("doc_id") <= 10), srcDir, "a.parquet")
    stage(docs.filter(col("doc_id") > 10), srcDir, "b.parquet")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val taggedStream = TextAnalysis.keywordTags(stream, patterns)
    assert(taggedStream.isStreaming,
      "keyword tagging must stay a stateless streaming transform")
    StreamingOps.runToCompletion(taggedStream, "kw_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[String]("tags"),
        r.getAs[Int]("n_tags"), r.getAs[Boolean]("hit"))
    val streamed = spark.table("kw_stream").collect().map(key).toSet
    val batch = TextAnalysis.keywordTags(docs, patterns)
      .collect().map(key).toSet
    assert(streamed == batch,
      "streamed keyword tagging diverged from the batch operator")
    assert(streamed == Set((10L, "fast merge", 1, true),
      (11L, "able,spark", 2, true), (12L, "", 0, false)))
  }

  test("pq encoder: stateless streaming map with an offline-trained " +
    "codebook; drain == batch") {
    import graft.ext.Similarity
    // the index-maintenance shape: codebooks trained offline on the
    // existing corpus, NEW embeddings encoded on the stream by the
    // narrow in-row argmin — no retrain, no shuffle, no state
    val corpus = Tables.embeddings(spark, sf0001)
    val model = Similarity.pqCodebook(corpus)
    val incoming = corpus.filter(col("vec_id") >= 400)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val srcDir = tmpDir("pq-stream-src")
    stage(incoming.filter(col("vec_id") % 2 === 0), srcDir, "a.parquet")
    stage(incoming.filter(col("vec_id") % 2 === 1), srcDir, "b.parquet")
    val stream = spark.readStream.schema(incoming.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val encodedStream = Similarity.pqEncode(stream, model)
    assert(encodedStream.isStreaming,
      "pq encoding must stay a stateless streaming transform")
    StreamingOps.runToCompletion(encodedStream, "pq_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val streamed = spark.table("pq_stream").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Long]]("codes").toList).toMap
    val batch = Similarity.pqEncode(incoming, model).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Long]]("codes").toList).toMap
    assert(streamed == batch,
      "streamed pq encoding diverged from the batch operator")
  }

  test("x26 domain cap: bounded stateful stream; drain + finalize == batch") {
    import graft.ext.TextAnalysis
    val docs = Tables.documents(spark, sf0001).select("doc_id", "source")
    val srcDir = tmpDir("cap-stream-src")
    // two files = two micro-batches: picks must converge across batch
    // boundaries (an early pick can be evicted by a later, smaller hash)
    stage(docs.filter(col("doc_id") % 2 === 0), srcDir, "a.parquet")
    stage(docs.filter(col("doc_id") % 2 === 1), srcDir, "b.parquet")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val capped = StreamingOps.domainCapStream(spark, stream, cap = 5)
    assert(capped.isStreaming, "cap maintenance must be a streaming transform")
    StreamingOps.runToCompletion(capped, "cap_stream",
      org.apache.spark.sql.streaming.OutputMode.Update())
    val emitted = spark.table("cap_stream")
    // bounded emission: no (source, rev) group ever exceeds cap rows —
    // the observable face of the bounded state cell
    assert(emitted.groupBy("source", "rev").count()
      .filter(col("count") > 5).isEmpty)
    val finalized = StreamingOps.domainCapFinalize(emitted).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = TextAnalysis.domainCap(
      Tables.documents(spark, sf0001), cap = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(finalized == batch,
      "streamed domain cap diverged from the batch bottom-k")
  }

  test("x34 weighted sample: bounded stateful stream; drain + " +
    "finalize == batch") {
    import graft.ext.TextAnalysis
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "source", "text")
    val srcDir = tmpDir("ws-stream-src")
    stage(docs.filter(col("doc_id") % 2 === 0), srcDir, "a.parquet")
    stage(docs.filter(col("doc_id") % 2 === 1), srcDir, "b.parquet")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val sampled = StreamingOps.weightedSampleStream(spark, stream, k = 3)
    assert(sampled.isStreaming,
      "weighted-sample maintenance must be a streaming transform")
    StreamingOps.runToCompletion(sampled, "ws_stream",
      org.apache.spark.sql.streaming.OutputMode.Update())
    val emitted = spark.table("ws_stream")
    assert(emitted.groupBy("source", "rev").count()
      .filter(col("count") > 3).isEmpty)
    val finalized = StreamingOps.domainCapFinalize(emitted).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = TextAnalysis.weightedSample(
      Tables.documents(spark, sf0001), k = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(finalized == batch,
      "streamed weighted sample diverged from the batch bottom-k")
  }

  test("pca scorer: stateless streaming map with an offline-trained " +
    "component; drain == batch") {
    import graft.ext.Pca
    // the deployment shape: the component trained offline on a batch
    // corpus, new vectors projected on the stream by the narrow map
    val emb = Tables.embeddings(spark, sf0001)
    val model = Pca.pcaModel(emb, iters = 2)
    val srcDir = tmpDir("pca-stream-src")
    stage(emb.filter(col("vec_id") % 2 === 0), srcDir, "a.parquet")
    stage(emb.filter(col("vec_id") % 2 === 1), srcDir, "b.parquet")
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val scored = Pca.pcaScoreMap(stream, model)
    assert(scored.isStreaming,
      "pca scoring must stay a stateless streaming transform")
    StreamingOps.runToCompletion(scored, "pca_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val streamed = spark.table("pca_stream").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = Pca.pcaScoreMap(emb, model).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed == batch,
      "streamed pca projection diverged from the batch operator")
    assert(streamed.size == emb.count())
  }

  test("pca statistics maintenance: drains fold to the exact batch " +
    "model; delta-only restart; no-op re-drain") {
    import graft.ext.Pca
    val srcDir = tmpDir("pca-maint-src")
    val store = tmpDir("pca-maint-store") + "/stats"
    val ckpt = tmpDir("pca-maint-ckpt")
    val emb = Tables.embeddings(spark, sf0001)
    stage(emb.filter(col("vec_id") < 300), srcDir, "a.parquet")
    val n1 = StreamingPca.maintainStream(spark, srcDir, store, ckpt)
    assert(n1 > 0, "bootstrap drain must append moment partials")
    val m1 = Pca.modelFromStore(spark, store, iters = 2)
    val b1 = Pca.pcaModel(emb.filter(col("vec_id") < 300), iters = 2)
    assert(m1.mu.toSeq == b1.mu.toSeq && m1.v.toSeq == b1.v.toSeq,
      "store model diverged from the batch model after the bootstrap")
    // delta arrives; the next drain reduces ONLY the new file and the
    // folded store equals a batch retrain over the full corpus
    stage(emb.filter(col("vec_id") >= 300), srcDir, "b.parquet")
    val n2 = StreamingPca.maintainStream(spark, srcDir, store, ckpt)
    assert(n2 > n1, "incremental drain must append new partials")
    val m2 = Pca.modelFromStore(spark, store, iters = 2)
    val b2 = Pca.pcaModel(emb, iters = 2)
    assert(m2.mu.toSeq == b2.mu.toSeq && m2.v.toSeq == b2.v.toSeq,
      "store model diverged from the batch model after the delta")
    // nothing new: the checkpoint short-circuits the re-drain
    val n3 = StreamingPca.maintainStream(spark, srcDir, store, ckpt)
    assert(n3 == n2, "a no-op re-drain must append no partials")
    // at-least-once replay: the SAME batch appended twice under its
    // (retry-stable) epoch id folds at read — the partials are keyed,
    // so the model neither double-counts a replay nor merges two
    // genuinely distinct batches that happen to share content
    val store2 = tmpDir("pca-replay-store") + "/stats"
    graft.ext.Pca.updateStats(emb.filter(col("vec_id") < 300), store2,
      batchId = 7L)
    graft.ext.Pca.updateStats(emb.filter(col("vec_id") < 300), store2,
      batchId = 7L)
    val mr = graft.ext.Pca.modelFromStore(spark, store2, iters = 2)
    assert(mr.mu.toSeq == b1.mu.toSeq && mr.v.toSeq == b1.v.toSeq,
      "a replayed batch append must fold at read, not double-count")
    // ...while the same content under a NEW id is a real second batch
    graft.ext.Pca.updateStats(emb.filter(col("vec_id") < 300), store2,
      batchId = 8L)
    val m2x = graft.ext.Pca.modelFromStore(spark, store2, iters = 2)
    val b2x = graft.ext.Pca.pcaModel(
      emb.filter(col("vec_id") < 300)
        .unionByName(emb.filter(col("vec_id") < 300)), iters = 2)
    assert(m2x.mu.toSeq == b2x.mu.toSeq && m2x.v.toSeq == b2x.v.toSeq,
      "a distinct batch with identical content must still count")
  }

  test("readPairs on a store that never materialized is empty, not an error") {
    assert(StreamingDedup.readPairs(spark,
      tmpDir("sd-none") + "/nope").isEmpty)
  }
}
