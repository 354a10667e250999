package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [EXT] Lexical retrieval — Okapi BM25 (Robertson & Zaragoza 2009,
  * "The Probabilistic Relevance Framework: BM25 and Beyond" — public).
  * The missing member next to the ANN family: the engine could rank by
  * embedding similarity (s01–s08) but not by query terms, and a
  * training-data pipeline leans on lexical retrieval constantly —
  * mining dedup/decontamination candidates for a benchmark prompt,
  * inspecting what the corpus says about a topic, BM25-negatives for
  * retriever training.
  *
  * Two shapes, the DSIR discipline ([[TextAnalysis.dsirWeights]] /
  * [[TextAnalysis.dsirScore]]):
  *  - [[bm25TopK]] — the oracle-checked batch ranker (s09);
  *  - [[bm25Model]] + [[bm25Score]] — the trained model (per-term df +
  *    corpus stats, KB by construction) and its stateless in-row
  *    deployment scorer, streaming-capable and collect-free on the
  *    scoring side.
  *
  * Cross-engine determinism: per-term weights are rounded to 6
  * decimals and summed through a decimal cast (the dsum contract of
  * [[graft.queries]]); the final score rounds to 4 with a doc_id
  * tiebreak. All double arithmetic is written in the exact
  * association order the DuckDB oracle uses.
  */
object Retrieval {

  /** Offline BM25 model: document count, average document length, and
    * the document frequency of each QUERY term (never the full vocab —
    * the collect is |terms| rows, KB by construction; terms absent
    * from the corpus carry df = 0 and still score by the smoothed
    * idf).
    */
  final case class Bm25Model(nDocs: Long, avgdl: Double,
                             df: Map[String, Long],
                             k1: Double, b: Double)

  /** Robertson/Lucene smoothed idf: ln(1 + (N − df + 0.5)/(df + 0.5)).
    * Always positive, so a term occurring in most documents still
    * contributes instead of flipping the ranking sign.
    */
  private def idf(nDocs: Column, df: Column): Column =
    log(lit(1.0) + (nDocs - df + lit(0.5)) / (df + lit(0.5)))

  /** The per-(doc, term) BM25 weight, 6-decimal-rounded. Association
    * order is load-bearing: the oracle spells the identical tree.
    */
  private def termWeight(tf: Column, dl: Column, idfC: Column,
                         avgdl: Column, k1: Double, b: Double): Column =
    round(idfC * ((tf * (lit(k1) + lit(1.0))) /
      (tf + lit(k1) * ((lit(1.0) - lit(b)) +
        (lit(b) * dl) / avgdl))), 6)

  /** BM25 top-k documents for a bag of query terms.
    *
    * Scale shape (the part that matters at 100 TB): ONE exploded scan
    * of the corpus, filtered to query-term tokens INSIDE the generate
    * stage (codegen'd isin — non-matching tokens never leave the
    * pipeline), aggregated to the tiny (doc, term, tf) table; df is
    * derived from that table (≤ |terms| rows), NOT a second corpus
    * pass; corpus stats (N, avgdl) are a one-row narrow aggregate
    * broadcast back. The only corpus-sized shuffle is the (doc, term)
    * tf aggregation — map-side combined, keyed on matching docs only.
    * Selection is orderBy+limit over the scored doc table
    * (TakeOrdered, no global sort).
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val toks = TextAnalysis.tokens(col("text"))
    val stats = docs
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks).cast("long")).as("dl_tot"))
      .select(col("n_docs"),
        (col("dl_tot").cast("double") / col("n_docs")).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), size(toks).as("dl"),
        explode(toks).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    // the tf >= 1 guard is always true (a group exists only with at
    // least one row) — its job is to keep the tf column REFERENCED in
    // this branch, so the optimizer cannot prune count(1) out of the
    // shared aggregate and fork two different subtrees: with both
    // branches bit-identical, exchange reuse collapses them and the
    // corpus is tokenized exactly once (PlanSpec pins ReusedExchange)
    val dfT = tf.filter(col("tf") >= 1)
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    scoreAndSelect(tf, dfT, stats, k, k1, b)
  }

  /** The shared scoring/selection tail of [[bm25TopK]] and
    * [[queryIndex]] — ONE definition (the winnowFp discipline), so
    * the spec-pinned "index query == corpus-scan ranker exactly"
    * contract cannot drift: `tf` is (doc_id, dl, token, tf), `dfT`
    * is (token, df), `stats` is the one-row (n_docs, avgdl).
    */
  private def scoreAndSelect(tf: DataFrame, dfT: DataFrame,
                             stats: DataFrame, k: Int,
                             k1: Double, b: Double): DataFrame =
    tf.join(broadcast(dfT), "token")
      .crossJoin(broadcast(stats))
      .withColumn("w", termWeight(col("tf"), col("dl"),
        idf(col("n_docs"), col("df")), col("avgdl"), k1, b))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        round(sum(col("w").cast("decimal(38,18)")).cast("double"), 4)
          .as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_terms"), col("score"))

  /** Train the deployable model: query-term df + corpus stats. The
    * one deliberate collect of the family — |terms| + 2 scalars, the
    * artifact you ship to [[bm25Score]] (exactly like
    * [[TextAnalysis.dsirRatios]]' ratio table).
    */
  def bm25Model(docs: DataFrame, terms: Seq[String],
                k1: Double = 1.2, b: Double = 0.75): Bm25Model = {
    require(terms.nonEmpty, "bm25Model needs at least one query term")
    val toks = TextAnalysis.tokens(col("text"))
    val statsRow = docs
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks).cast("long")).as("dl_tot"))
      .collect()(0)
    val nDocs = statsRow.getAs[Long]("n_docs")
    // same loud-failure contract as modelFromIndex: an empty corpus
    // would otherwise yield avgdl = NaN and a model that silently
    // scores NaN on every matching document downstream
    require(nDocs > 0, "bm25Model: empty corpus")
    val avgdl = statsRow.getAs[Long]("dl_tot").toDouble / nDocs
    val dfRows = docs
      .select(col("doc_id"), explode(toks).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("token"))
      .agg(count_distinct(col("doc_id")).as("df"))
      .collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("df"))
      .toMap
    Bm25Model(nDocs, avgdl,
      terms.map(t => t -> dfRows.getOrElse(t, 0L)).toMap, k1, b)
  }

  /** Stateless in-row BM25 scorer — the deployment shape: per-term tf
    * computed in-row as size(toks) − size(array_remove(toks, term))
    * (codegen'd array ops, no lambda HOF, no regex), idf baked in as
    * literals from the offline model (driver-side java.lang.Math.log
    * is the same libm codepath Spark's `log` executes). No explode,
    * no join, no shuffle, no state — runs unchanged on a `readStream`
    * frame (spec-pinned) and at scan speed over 100 TB.
    *
    * The in-row double sum of the 6-decimal term weights is within
    * float-sum error (~1e-12) of [[bm25TopK]]'s order-free decimal
    * sum; the batch path stays the oracle-checked truth twin (the
    * dsirScore contract).
    */
  def bm25Score(docs: DataFrame, model: Bm25Model): DataFrame = {
    val terms = model.df.keys.toSeq.sorted
    val toks = TextAnalysis.tokens(col("text"))
    val dl = size(toks)
    val tfs: Seq[(Column, Double)] = terms.map { t =>
      val tf = (dl - size(array_remove(toks, lit(t)))).cast("long")
      val idfV = math.log(1.0 +
        (model.nDocs - model.df(t) + 0.5) / (model.df(t) + 0.5))
      (tf, idfV)
    }
    val nTerms = tfs.map { case (tf, _) =>
      when(tf > 0, 1L).otherwise(0L) }.reduce(_ + _)
    val score = tfs.map { case (tf, idfV) =>
      when(tf > 0, termWeight(tf, dl, lit(idfV), lit(model.avgdl),
        model.k1, model.b)).otherwise(lit(0.0d))
    }.reduce(_ + _)
    docs.withColumn("n_terms", nTerms)
      .withColumn("score", round(score, 4))
  }

  // ---- persisted index stores (streaming / incremental maintenance)

  /** Append one batch of documents to the persisted index stores: a
    * full inverted index — (doc_id, dl, token, tf) postings — plus
    * (doc_id, dl) lengths for the corpus stats. Tokenization happens
    * HERE, once, for the batch only — the point of incremental
    * maintenance is that the existing corpus is never re-tokenized,
    * and with tf and dl IN the posting row, [[queryIndex]] answers
    * ranked queries without ever touching the corpus again.
    *
    * Doc ids are IMMUTABLE (the [[graft.ext.VectorIndex.update]]
    * discipline, r12): the batch anti-joins the ids already in the
    * lengths store (and the tombstoned ones — a takedown stays taken
    * down until a rebuild), so an at-least-once replay appends
    * NOTHING — not even the harmless bit-identical rows the
    * fold-at-read distinct used to absorb.
    * Re-texting a live id is a rebuild event ([[rebuildIndex]]). The
    * anti-join's survivor set is materialized (eager localCheckpoint,
    * delta-sized) BEFORE the appends, so the store is never read and
    * written by the same job. The stores remain append-only fact
    * logs; long-lived ones compact with the engine's Compactor.
    *
    * CRASH WINDOW (r13): the lengths row lands LAST, so a crash
    * between the two appends leaves ids whose postings are planted
    * but whose lengths row is missing. The lengths gate alone would
    * let a RETRY with changed text through, planting a second
    * divergent posting set that double-counts tf into every score
    * silently. Survivors of the lengths gate therefore pass a second
    * gate on the POSTINGS store's own ids: an id already holding
    * postings appends no new postings under ANY retry text, and its
    * missing lengths row is repaired from its OWN planted facts (dl
    * is a posting column) — the retry COMPLETES the crashed update
    * exactly, whatever text it carries. Cost: the postings scan is
    * column-pruned to (doc_id, dl) and semi-joined against the
    * delta-sized survivor ids (AQE broadcasts them while they fit),
    * and it is paid only when the lengths gate let something through
    * — an identical replay never reaches it.
    */
  def updateIndex(batch: DataFrame, indexStore: String): Unit = {
    val spark = batch.sparkSession
    val toks = TextAnalysis.tokens(col("text"))
    // distinct first: an exactly-duplicated document row inside one
    // batch must not double its tf counts (the lengths distinct alone
    // would mask it — one dl row, 2x tf — a silent score corruption)
    val known = liveStore(spark, indexStore, "lengths", LengthsSchema)
      .select(col("doc_id"))
      .unionByName(tombstones(spark, indexStore).select(col("doc_id")))
    val b0 = batch.select(col("doc_id"), col("text")).distinct()
      .join(known, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    if (b0.isEmpty) return
    // crash-window gate + repair: ids that already hold postings are
    // orphans of a crashed update — re-plant their lengths row from
    // the postings' own dl, and append nothing else for them
    val pPost = new org.apache.hadoop.fs.Path(s"$indexStore/postings")
    val f = pPost.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphans =
      if (!f.exists(pPost))
        spark.emptyDataFrame.selectExpr(
          "CAST(0 AS BIGINT) AS doc_id", "CAST(0 AS INT) AS dl").limit(0)
      else spark.read.parquet(s"$indexStore/postings")
        .select(col("doc_id"), col("dl"))
        .join(b0.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .distinct()
        .localCheckpoint(true) // ≤ |survivors| rows
    val b =
      if (orphans.isEmpty) b0
      else {
        orphans.select(col("doc_id"), col("dl").cast("long").as("dl"))
          .write.mode("append").parquet(s"$indexStore/lengths")
        b0.join(orphans.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
      }
    if (b.isEmpty) return
    b.select(col("doc_id"), size(toks).as("dl"),
        explode(toks).as("token"))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .write.mode("append").parquet(s"$indexStore/postings")
    b.select(col("doc_id"), size(toks).cast("long").as("dl"))
      .distinct()
      .write.mode("append").parquet(s"$indexStore/lengths")
  }

  private def readStore(spark: org.apache.spark.sql.SparkSession,
                        path: String, schema: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.emptyDataFrame.selectExpr(
      schema.split(",").map(_.trim): _*).limit(0)
    else spark.read.parquet(path).distinct()
  }

  /** The deletion facts (doc_id, deleted_at) — empty when none. */
  private def tombstones(spark: org.apache.spark.sql.SparkSession,
                         indexStore: String): DataFrame = {
    recoverIfSwapped(spark, indexStore)
    readStore(spark, s"$indexStore/tombstones",
      "CAST(0 AS BIGINT) AS doc_id, CAST(0 AS BIGINT) AS deleted_at")
  }

  /** Delete documents from the persisted index — the takedown path an
    * append-only store otherwise lacks (the [[graft.ext.VectorIndex
    * .delete]] discipline on the lexical plane): appends (doc_id,
    * deleted_at) tombstone FACTS (replays append duplicates, harmless
    * — consumers anti-join on doc_id only). [[queryIndex]] and
    * [[modelFromIndex]] exclude tombstoned documents from postings AND
    * lengths, so the deleted doc stops being retrievable and stops
    * counting in df/N/avgdl — the model over the store equals the
    * model over the surviving corpus EXACTLY (spec-pinned).
    * [[compactIndex]] later drops the dead rows physically.
    */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession,
                      indexStore: String, docIds: Seq[Long]): Unit = {
    require(docIds.nonEmpty, "deleteFromIndex needs at least one doc_id")
    import spark.implicits._
    val now = System.currentTimeMillis()
    docIds.distinct.map((_, now)).toDF("doc_id", "deleted_at")
      .coalesce(1).write.mode("append").parquet(s"$indexStore/tombstones")
  }

  /** Live store rows: fold-at-read distinct + tombstone anti-join —
    * ONE definition for both store tables and both consumers.
    */
  private def liveStore(spark: org.apache.spark.sql.SparkSession,
                        indexStore: String, sub: String,
                        schema: String): DataFrame = {
    recoverIfSwapped(spark, indexStore)
    readStore(spark, s"$indexStore/$sub", schema)
      .join(tombstones(spark, indexStore).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
  }

  private val PostingsSchema: String =
    "CAST(0 AS BIGINT) AS doc_id, CAST(0 AS INT) AS dl, " +
      "CAST('' AS STRING) AS token, CAST(0 AS BIGINT) AS tf"
  private val LengthsSchema: String =
    "CAST(0 AS BIGINT) AS doc_id, CAST(0 AS BIGINT) AS dl"

  final case class IndexCompactReport(postingsBefore: Long,
    postingsAfter: Long, filesBefore: Int, filesAfter: Int)

  /** Physically compact the postings + lengths stores: rewrite each as
    * its folded, tombstone-free row set in few sized files, published
    * via the engine's checked-rename swap ([[graft.engine.Compactor
    * .swapInto]]). Query results unchanged by construction (reads
    * already fold + anti-join); N streaming drains' small append files
    * and replay duplicates stop accumulating. Tombstones stay (cheap
    * facts; they still gate [[updateIndex]]).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   indexStore: String,
                   targetBytes: Long = 512L << 20): IndexCompactReport = {
    def one(sub: String, schema: String): (Long, Long, Int, Int) = {
      val dir = s"$indexStore/$sub"
      val p = new org.apache.hadoop.fs.Path(dir)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(f.exists(p), s"no $sub store at $indexStore")
      def dataFiles = f.listStatus(p).filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      val before = dataFiles
      val rowsBefore = spark.read.parquet(dir).count()
      val bytes = before.map(_.getLen).sum
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      val tmp = dir + "__compact_tmp"
      f.delete(new org.apache.hadoop.fs.Path(tmp), true)
      liveStore(spark, indexStore, sub, schema).coalesce(nOut)
        .write.mode("overwrite").parquet(tmp)
      graft.engine.Compactor.swapInto(f, dir, tmp)
      (rowsBefore, spark.read.parquet(dir).count(),
        before.length, dataFiles.length)
    }
    // leased on the STORE root across BOTH sub-store rewrites, so a
    // compaction and a rebuild of the same index exclude each other
    // cross-process (r14)
    val rootFs = new org.apache.hadoop.fs.Path(indexStore)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.engine.StoreLease.withLease(rootFs, indexStore) {
      val (pb, pa, fb, fa) = one("postings", PostingsSchema)
      val (_, _, lb, la) = one("lengths", LengthsSchema)
      IndexCompactReport(pb, pa, fb + lb, fa + la)
    }
  }

  /** Rebuild a deployable [[Bm25Model]] from the persisted stores —
    * no corpus scan, no re-tokenization: df aggregates the postings
    * rows of the query terms, stats aggregate the lengths store.
    * Bit-identical to [[bm25Model]] over the same document set (df
    * and stats are exact integers; avgdl is the same single double
    * division — spec-pinned).
    */
  def modelFromIndex(spark: org.apache.spark.sql.SparkSession,
                     indexStore: String, terms: Seq[String],
                     k1: Double = 1.2, b: Double = 0.75): Bm25Model = {
    require(terms.nonEmpty, "modelFromIndex needs at least one query term")
    val lengths = liveStore(spark, indexStore, "lengths", LengthsSchema)
    val statsRow = lengths
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("dl_tot"))
      .collect()(0)
    val nDocs = statsRow.getAs[Long]("n_docs")
    require(nDocs > 0, s"empty index store at $indexStore")
    val avgdl = statsRow.getAs[Long]("dl_tot").toDouble / nDocs
    val dfRows = liveStore(spark, indexStore, "postings", PostingsSchema)
      .filter(col("token").isin(terms: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("df"))
      .toMap
    Bm25Model(nDocs, avgdl,
      terms.map(t => t -> dfRows.getOrElse(t, 0L)).toMap, k1, b)
  }

  /** Index-backed BM25 top-k — the production query shape: rank from
    * the persisted inverted index WITHOUT touching the corpus. The
    * token `isin` filter pushes into the postings parquet scan
    * (PushedFilters — spec-pinned), so query cost is proportional to
    * the query terms' posting lists, not the corpus; df is a
    * |terms|-row aggregate of those postings; stats aggregate the
    * lengths store; scoring and selection are [[bm25TopK]]'s exact
    * tail, so the two surfaces return identical rankings over the
    * same document set (spec-pinned).
    */
  def queryIndex(spark: org.apache.spark.sql.SparkSession,
                 indexStore: String, terms: Seq[String], k: Int = 10,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "queryIndex needs at least one query term")
    val stats = liveStore(spark, indexStore, "lengths", LengthsSchema)
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("dl_tot"))
      .select(col("n_docs"),
        (col("dl_tot").cast("double") / col("n_docs")).as("avgdl"))
    val tf = liveStore(spark, indexStore, "postings", PostingsSchema)
      .filter(col("token").isin(terms: _*))
    // no reuse guard needed here: tf comes straight from the store
    // scan (no shared aggregate subtree to keep bit-identical)
    val dfT = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    scoreAndSelect(tf, dfT, stats, k, k1, b)
  }

  /** Hybrid retrieval — reciprocal-rank fusion (Cormack, Clarke &
    * Buettcher 2009, "Reciprocal Rank Fusion outperforms Condorcet and
    * individual Rank Learning Methods" — public) of the engine's two
    * ranking families: BM25 over `docs.text` ([[bm25TopK]]'s scoring)
    * and cosine similarity over `embeddings` (s01's metric), the
    * standard first-stage retriever shape (lexical ∪ dense → fuse).
    * Each query is (id, term bag); its dense side is the embedding
    * whose `vec_id` equals the query id. Per system, the top-`depth`
    * candidates are kept; fused score = Σ 1/(c + rank) over the
    * systems that returned the doc (0 from a system that did not).
    *
    * Scale shape: the lexical branch is [[bm25TopK]]'s — ONE exploded
    * corpus scan filtered to the UNION of all query terms inside the
    * generate stage, fanned out to queries by a broadcast of the tiny
    * (query, term) table; the dense branch is a narrow map against
    * the broadcast query vectors. Per-query ranking on BOTH branches
    * is a depth-bounded [[graft.functions.BottomKAggregator]] — the
    * domainCap discipline: map-side partials cap each partition's
    * contribution at `depth` rows per query BEFORE the exchange, so a
    * query matching half the corpus (a stopword bag) never serializes
    * into one hot partition, and no Window touches corpus-sized
    * input. The fusion join and final rank see ≤ 2·depth rows per
    * query by construction.
    *
    * Cross-engine determinism: both per-system ranks order by
    * (rounded-4 score DESC, doc_id ASC) — the rounded score scales
    * exactly to a long (×10⁴), so the aggregator's integer key is the
    * oracle's ORDER BY; the fused sum is lex + dense in that fixed
    * order, rounded to 6. Ranks of 0 mean "absent from that system's
    * top-depth" (COALESCE'd, never NULL — null ints round-trip
    * differently across engines).
    */
  def hybridTopK(docs: DataFrame, embeddings: DataFrame,
                 queries: Seq[(Long, Seq[String])], k: Int = 10,
                 depth: Int = 20, c: Int = 60,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "hybridTopK needs at least one query")
    require(queries.forall(_._2.nonEmpty),
      "every hybrid query needs at least one term")
    val spark = docs.sparkSession
    import spark.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    val qt = broadcast(queries.flatMap { case (qid, ts) =>
      ts.distinct.map(qid -> _)
    }.toDF("query_id", "token"))
    val bottomK = udaf(graft.functions.BottomKAggregator.bottomK(depth))

    // lexical branch: bm25TopK's corpus tables verbatim (union terms)
    val toks = TextAnalysis.tokens(col("text"))
    val stats = docs
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks).cast("long")).as("dl_tot"))
      .select(col("n_docs"),
        (col("dl_tot").cast("double") / col("n_docs")).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), size(toks).as("dl"),
        explode(toks).as("token"))
      .filter(col("token").isin(allTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    // the always-true guard keeps both consumers of the shared tf
    // aggregate bit-identical so exchange reuse collapses them — see
    // bm25TopK (PlanSpec pins the single tokenization there)
    val dfT = tf.filter(col("tf") >= 1)
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val lexRank = tf.join(qt, "token")
      .join(broadcast(dfT), "token")
      .crossJoin(broadcast(stats))
      .withColumn("w", termWeight(col("tf"), col("dl"),
        idf(col("n_docs"), col("df")), col("avgdl"), k1, b))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("w").cast("decimal(38,18)")).cast("double"), 4)
        .as("s"))
      .groupBy(col("query_id"))
      .agg(bottomK((-round(col("s") * 1e4)).cast("long"),
        col("doc_id")).as("picked"))
      .select(col("query_id"), posexplode(col("picked")))
      .select(col("query_id"), col("col._2").as("doc_id"),
        (col("pos") + 1).cast("int").as("lex_rank"))

    // dense branch: corpus × broadcast query vectors, s01's metric
    val e = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val qv = e.filter(col("vec_id").isin(queries.map(_._1): _*))
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val denseRank = e.crossJoin(broadcast(qv))
      .select(col("query_id"), col("vec_id"),
        round(Similarity.cosine(col("emb"), col("q_emb")), 4).as("s"))
      .groupBy(col("query_id"))
      .agg(bottomK((-round(col("s") * 1e4)).cast("long"),
        col("vec_id")).as("picked"))
      .select(col("query_id"), posexplode(col("picked")))
      .select(col("query_id"), col("col._2").as("doc_id"),
        (col("pos") + 1).cast("int").as("dense_rank"))

    // fusion: ≤ 2·depth rows per query from here on
    rrfFuse(lexRank, denseRank, k, c)
  }

  /** The RRF fusion tail — ONE definition shared by [[hybridTopK]]
    * (in-query legs) and [[hybridQueryStores]] (store-fed legs), so
    * the spec-pinned agreement between the two surfaces cannot drift:
    * fused = Σ 1/(c + rank) in the fixed lex+dense IEEE order,
    * rounded 6; absent-system ranks COALESCE to 0.
    */
  private def rrfFuse(lexRank: DataFrame, denseRank: DataFrame,
                      k: Int, c: Int): DataFrame = {
    val contrib = (r: Column) => when(r.isNotNull,
      lit(1.0) / (lit(c) + r)).otherwise(lit(0.0))
    lexRank.join(denseRank, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("fused",
        round(contrib(col("lex_rank")) + contrib(col("dense_rank")), 6))
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0)).as("dense_rank"),
        col("fused"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("fused").desc, col("doc_id"))))
      .filter(col("rank") <= k)
  }

  /** The drift baseline's reference-vocabulary width: the top-`M`
    * tokens by (df DESC, token ASC) at init — KB by construction, the
    * tokens whose document-frequency mass the advisory watches.
    */
  private[graft] val LexDriftVocabSize = 32

  /** Build the persisted index unless a complete store already matches
    * this corpus — [[graft.ext.VectorIndex.initIfStale]]'s idempotent
    * contract on the lexical plane: the fingerprint is one narrow
    * no-tokenize aggregate (count, doc_id sum, total text length, and
    * a CRC-32 content sum — length alone would serve stale for a
    * SAME-LENGTH rewrite under stable ids, the re-embedded-corpus
    * hole's lexical twin; crc32 sums stay within a long for any
    * realistic corpus since each term is < 2³²), written LAST to
    * `meta/` so a crash mid-build rebuilds; an unreadable, old-layout
    * (pre-baseline), or half-committed meta also reads as stale.
    * Returns true when it (re)built.
    *
    * A (re)build records the DRIFT BASELINE under `baseline/` — the
    * [[graft.ext.VectorIndex.init]] discipline on the lexical plane,
    * derived from the just-written stores at KB cost (the corpus is
    * never re-tokenized): one stats row (n_docs, dl_sum) and the
    * top-[[LexDriftVocabSize]] reference vocabulary with its df and
    * term-mass integers. Written BEFORE meta, so a readable meta
    * implies a complete baseline.
    */
  def initIndexIfStale(docs: DataFrame, indexStore: String): Boolean = {
    val spark = docs.sparkSession
    def fingerprint(): (Long, Long, Long, Long) = {
      val r = docs.agg(count(lit(1)).as("n"),
        coalesce(sum(col("doc_id")), lit(0L)).as("s"),
        coalesce(sum(length(col("text")).cast("long")), lit(0L)).as("l"),
        coalesce(sum(crc32(encode(col("text"), "UTF-8"))), lit(0L))
          .as("c"))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    recoverIfSwapped(spark, indexStore)
    val metaPath = new org.apache.hadoop.fs.Path(s"$indexStore/meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fp = fingerprint()
    val fresh = fs.exists(metaPath) &&
      fs.exists(new org.apache.hadoop.fs.Path(
        s"$indexStore/baseline/vocab")) && scala.util.Try {
      val r = spark.read.parquet(metaPath.toString).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getAs[Long]("crc_sum")) == fp
    }.getOrElse(false)
    if (!fresh) {
      for (sub <- Seq("postings", "lengths", "tombstones", "baseline",
          "meta"))
        fs.delete(new org.apache.hadoop.fs.Path(s"$indexStore/$sub"), true)
      buildInto(docs, indexStore, fp)
    }
    !fresh
  }

  /** The full store build at a (cleared) root: stores, then drift
    * baseline, then the fingerprint meta LAST — one definition shared
    * by [[initIndexIfStale]] (in-place bootstrap) and [[rebuildIndex]]
    * (staged + swapped).
    */
  private def buildInto(docs: DataFrame, indexStore: String,
                        fp: (Long, Long, Long, Long)): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    updateIndex(docs, indexStore)
    // drift baseline off the fresh stores (KB-scale aggregates)
    liveStore(spark, indexStore, "lengths", LengthsSchema)
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("dl_sum"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexStore/baseline/stats")
    liveStore(spark, indexStore, "postings", PostingsSchema)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tfm"))
      .orderBy(col("df").desc, col("token"))
      .limit(LexDriftVocabSize)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexStore/baseline/vocab")
    Seq(fp).toDF("n_docs", "id_sum", "len_sum", "crc_sum")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexStore/meta")
  }

  /** ATOMIC index rebuild — [[graft.ext.VectorIndex.rebuild]]'s
    * discipline on the lexical plane, the action a tripped s26
    * advisory takes: re-tokenize into a STAGED sibling
    * (`<store>__rebuild_tmp`) with a fresh baseline and fingerprint,
    * then publish via the checked-rename swap. A reader at ANY point
    * during the rebuild serves the OLD store (spec-pinned via the
    * beforeSwap hook); the swap is all-or-nothing; a crash between
    * its renames restores from `__old` on the next read. Tombstones
    * clear with the rebuild (re-init semantics).
    *
    * Writer contract ([[graft.ext.VectorIndex.rebuild]]'s): ONE
    * rebuilder per store path at a time, in the process that owns the
    * store. In-process, [[graft.engine.Compactor.swapLock]] serializes
    * the swap against every read's crash recovery; across processes
    * nothing can.
    */
  def rebuildIndex(docs: DataFrame, indexStore: String): Unit =
    rebuildIndex(docs, indexStore, () => ())

  private[graft] def rebuildIndex(docs: DataFrame, indexStore: String,
                                  beforeSwap: () => Unit): Unit = {
    val spark = docs.sparkSession
    recoverIfSwapped(spark, indexStore)
    val p = new org.apache.hadoop.fs.Path(indexStore)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(f.exists(p),
      s"no index store at $indexStore to rebuild (init first)")
    val fpRow = docs.agg(count(lit(1)), coalesce(sum(col("doc_id")),
        lit(0L)), coalesce(sum(length(col("text")).cast("long")),
        lit(0L)),
      coalesce(sum(crc32(encode(col("text"), "UTF-8"))), lit(0L)))
      .collect()(0)
    // the writer lease spans the whole re-tokenize (r14): a
    // double-launched rebuild refuses at entry, never races the swap
    graft.engine.StoreLease.withLease(f, indexStore) {
      val tmp = indexStore + "__rebuild_tmp"
      f.delete(new org.apache.hadoop.fs.Path(tmp), true)
      buildInto(docs, tmp, (fpRow.getLong(0), fpRow.getLong(1),
        fpRow.getLong(2), fpRow.getLong(3)))
      beforeSwap()
      graft.engine.Compactor.swapInto(f, indexStore, tmp)
    }
  }

  /** Existence probe that first recovers a crash-interrupted
    * [[rebuildIndex]] swap — the [[graft.ext.VectorIndex.exists]]
    * discipline. The CLI (and any caller gating on "is there a store
    * here?") must use THIS, not a raw FileSystem.exists: after a crash
    * between the swap's renames the root is missing but `__old` holds
    * the truth, and a raw probe would report "no index store" for a
    * store one rename away from being served.
    */
  def indexExists(spark: org.apache.spark.sql.SparkSession,
                  indexStore: String): Boolean = {
    recoverIfSwapped(spark, indexStore)
    val p = new org.apache.hadoop.fs.Path(indexStore)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.exists(p)
  }

  /** Crash recovery for an interrupted [[rebuildIndex]] swap — the
    * [[graft.ext.VectorIndex]] discipline: a missing root with a
    * surviving `__old` restores the previous copy before any read or
    * write. Called from [[liveStore]]'s consumers via [[readStore]].
    */
  private def recoverIfSwapped(spark: org.apache.spark.sql.SparkSession,
                               indexStore: String): Unit =
    graft.engine.Compactor.swapLock.synchronized {
      val p = new org.apache.hadoop.fs.Path(indexStore)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pOld = new org.apache.hadoop.fs.Path(indexStore + "__old")
      if (!f.exists(p) && f.exists(pOld))
        require(f.rename(pOld, p),
          s"index store recovery failed: cannot restore $pOld to $p")
    }

  /** Lexical drift advisory, fed ENTIRELY from the persisted stores —
    * the [[graft.ext.VectorIndex.driftReportFromStats]] discipline on
    * the BM25 plane: [[initIndexIfStale]] answers "did the corpus
    * grow"; THIS answers "did its distribution shift" — the signal a
    * scheduled re-baseline (and downstream reweighting) acts on. One
    * row comparing the CURRENT store (postings + lengths — the
    * sufficient statistics, incrementally maintained by every
    * [[updateIndex]] drain) against the baseline recorded at init:
    *
    *  - `n_ratio` — corpus growth (reported, not a trigger);
    *  - `avgdl_ratio` — average document length now / at init:
    *    catches a chunking or boilerplate-stripping change upstream;
    *  - `df_shift` — the MEAN over the reference vocabulary of
    *    |df_now/N_now − df_base/N_base| (a normalized L1 distance
    *    between the df-fraction profiles — scale-free in vocabulary
    *    width, so the tolerance means the same at any
    *    [[LexDriftVocabSize]]): catches topical/source mix shift;
    *  - `oov_shift` — the reference vocabulary's share of total token
    *    mass at init minus now: catches NEW vocabulary arriving
    *    (language mix, spam floods, encoding regressions);
    *  - `stale` — df_shift > tolDf ∨ |oov_shift| > tolOov ∨
    *    |avgdl_ratio − 1| > tolDl.
    *
    * Every input is an exact INTEGER off the stores (df counts, tf
    * mass, dl sums), so the derived doubles are bit-identical to the
    * corpus-scan twin ([[lexDriftReportScan]], spec-pinned) and the
    * whole report replays in SQL (oracle-checked, s26). Cost: two
    * KB-output aggregates over the store tables — affordable after
    * every drain at 100 TB (the postings scan carries the pushed
    * vocabulary filter).
    */
  def lexDriftReportFromIndex(spark: org.apache.spark.sql.SparkSession,
                              indexStore: String, tolDf: Double = 0.02,
                              tolOov: Double = 0.01,
                              tolDl: Double = 0.05): DataFrame = {
    val vocab = readVocab(spark, indexStore)
    val curStats = liveStore(spark, indexStore, "lengths", LengthsSchema)
      .agg(count(lit(1)).as("n_current"),
        coalesce(sum(col("dl")), lit(0L)).as("dl_cur"))
    val curDf = liveStore(spark, indexStore, "postings", PostingsSchema)
      .filter(col("token").isin(vocabTokens(vocab): _*))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df_c"), sum(col("tf")).as("tfm_c"))
    lexDriftTail(spark, indexStore, vocab, curStats, curDf,
      tolDf, tolOov, tolDl)
  }

  /** The corpus-scan twin of [[lexDriftReportFromIndex]]: the same
    * report computed by tokenizing `docs` directly — ONE shared tail,
    * so the two surfaces are equal BIT FOR BIT over the same document
    * set (spec-pinned). Use it to vet an index-external corpus before
    * draining it in.
    */
  def lexDriftReportScan(docs: DataFrame, indexStore: String,
                         tolDf: Double = 0.02, tolOov: Double = 0.01,
                         tolDl: Double = 0.05): DataFrame = {
    val spark = docs.sparkSession
    val vocab = readVocab(spark, indexStore)
    val toks = TextAnalysis.tokens(col("text"))
    val d = docs.select(col("doc_id"), col("text")).distinct()
    val curStats = d
      .agg(count(lit(1)).as("n_current"),
        coalesce(sum(size(toks).cast("long")), lit(0L)).as("dl_cur"))
    val curDf = d
      .select(col("doc_id"), explode(toks).as("token"))
      .filter(col("token").isin(vocabTokens(vocab): _*))
      .groupBy(col("token"))
      .agg(count_distinct(col("doc_id")).as("df_c"),
        count(lit(1)).as("tfm_c"))
    lexDriftTail(spark, indexStore, vocab, curStats, curDf,
      tolDf, tolOov, tolDl)
  }

  /** The advisory boolean from the store-fed report — the per-drain
    * scheduler form (cost independent of corpus size).
    */
  def rebaselineAdvised(spark: org.apache.spark.sql.SparkSession,
                        indexStore: String, tolDf: Double = 0.02,
                        tolOov: Double = 0.01,
                        tolDl: Double = 0.05): Boolean =
    lexDriftReportFromIndex(spark, indexStore, tolDf, tolOov, tolDl)
      .collect()(0).getAs[Boolean]("stale")

  private def readVocab(spark: org.apache.spark.sql.SparkSession,
                        indexStore: String): DataFrame = {
    // every store entry point recovers a crash-interrupted rebuild
    // swap first (the liveStore/tombstones discipline) — without this,
    // a drift report after an interrupted swap failed with the
    // misleading "predates drift baselines" error instead of serving
    // the restored previous copy
    recoverIfSwapped(spark, indexStore)
    val p = new org.apache.hadoop.fs.Path(s"$indexStore/baseline/vocab")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(f.exists(p),
      s"index store at $indexStore predates drift baselines — " +
        "rebuild it (initIndexIfStale) to record one")
    spark.read.parquet(s"$indexStore/baseline/vocab")
  }

  private def vocabTokens(vocab: DataFrame): Seq[String] =
    vocab.select(col("token")).collect().map(_.getString(0)).toSeq

  /** The shared drift-report tail: baseline stats/vocab vs a current
    * (n, dl) stats row and per-vocab-token (df, tf-mass) aggregate,
    * however obtained (store read or corpus scan) — ONE definition so
    * the two report forms cannot drift. All divisions are IEEE double
    * in a fixed order; the vocabulary L1 sum goes through the decimal
    * cast; every reported value rounds to 6 (with the −0.0 normalize).
    */
  private def lexDriftTail(spark: org.apache.spark.sql.SparkSession,
                           indexStore: String, vocab: DataFrame,
                           curStats: DataFrame, curDf: DataFrame,
                           tolDf: Double, tolOov: Double,
                           tolDl: Double): DataFrame = {
    val baseStats = spark.read
      .parquet(s"$indexStore/baseline/stats")
      .select(col("n_docs").as("n_base"), col("dl_sum").as("dl_base"))
    // a degenerate baseline (no docs / all-empty texts) or an empty
    // current corpus has nothing to report on — fail loudly rather
    // than emit divide-by-zero rows (one-row eager checks)
    val bs = baseStats.collect()(0)
    require(bs.getLong(0) > 0 && bs.getLong(1) > 0,
      s"baseline at $indexStore covers no token mass — rebuild on a " +
        "non-empty corpus")
    val cs = curStats.collect()(0)
    require(cs.getLong(0) > 0 && cs.getLong(1) > 0,
      s"index store at $indexStore covers no token mass — rebuild it")
    val cur = spark.createDataFrame(java.util.List.of(cs), curStats.schema)
    val joined = vocab.join(curDf, Seq("token"), "left_outer")
      .select(col("df").as("df_b"),
        coalesce(col("df_c"), lit(0L)).as("df_c"))
    val vmass = vocab.agg(coalesce(sum(col("tfm")), lit(0L)).as("vtf_b"))
      .crossJoin(curDf.agg(coalesce(sum(col("tfm_c")), lit(0L))
        .as("vtf_c")))
    val shift = joined.crossJoin(broadcast(baseStats))
      .crossJoin(broadcast(cur))
      .select(abs(col("df_c").cast("double") / col("n_current") -
        col("df_b").cast("double") / col("n_base")).as("dd"))
      .agg(round(coalesce(sum(col("dd").cast("decimal(38,18)"))
        .cast("double"), lit(0.0d)) / count(lit(1)), 6).as("df_shift"))
    baseStats.crossJoin(cur).crossJoin(shift).crossJoin(vmass)
      .select(col("n_base"), col("n_current"),
        (round(col("n_current").cast("double") / col("n_base"), 6)
          + lit(0.0d)).as("n_ratio"),
        (round((col("dl_cur").cast("double") / col("n_current")) /
          (col("dl_base").cast("double") / col("n_base")), 6)
          + lit(0.0d)).as("avgdl_ratio"),
        (col("df_shift") + lit(0.0d)).as("df_shift"),
        (round(col("vtf_b").cast("double") / col("dl_base") -
          col("vtf_c").cast("double") / col("dl_cur"), 6)
          + lit(0.0d)).as("oov_shift"))
      .withColumn("stale",
        col("df_shift") > lit(tolDf) ||
          abs(col("oov_shift")) > lit(tolOov) ||
          abs(col("avgdl_ratio") - lit(1.0d)) > lit(tolDl))
  }

  /** Hybrid retrieval ENTIRELY from the persisted stores — the
    * production form of [[hybridTopK]]: the lexical leg ranks from
    * the inverted index ([[queryIndex]]'s pushed-postings shape,
    * fanned out to queries by the broadcast (query, term) table), the
    * dense leg ranks from the IVF-PQ vector store
    * ([[graft.ext.VectorIndex.query]] — cell-pruned ADC), and the
    * fusion is [[rrfFuse]] unchanged. NO corpus scan on either leg
    * (spec-pinned on the executed plan): documents were tokenized
    * once at index build, vectors encoded once at index init, and the
    * query's own vectors arrive WITH the request (`queryVecs` — a
    * local relation in the contract query). Per-query lexical ranking
    * is the depth-bounded bottom-k aggregation (the domainCap
    * discipline — no Window over postings-sized input); the dense
    * rank is the store query's own (approx_ip, vec_id) rank. The
    * dense leg excludes self-hits (the store query's contract) where
    * in-query [[hybridTopK]] retains them — the one documented
    * semantic difference between the surfaces.
    */
  def hybridQueryStores(spark: org.apache.spark.sql.SparkSession,
                        indexStore: String, vectorStore: String,
                        queries: Seq[(Long, Seq[String])],
                        queryVecs: DataFrame, k: Int = 10,
                        depth: Int = 20, c: Int = 60, nprobe: Int = 4,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "hybridQueryStores needs at least one query")
    require(queries.forall(_._2.nonEmpty),
      "every hybrid query needs at least one term")

    // dense leg: the vector store's own cell-pruned ADC ranking —
    // its (approx_ip DESC, vec_id) rank IS the dense rank.
    // r15: both legs are ≤ |Q|·depth rows by construction; collect
    // them (one job each) and fold the RRF fuse driver-side
    // ([[fuseLocal]] — rrfFuse op for op, spec-pinned), instead of
    // planning a full-outer join + window over two KB frames per call.
    val denseRows = VectorIndex.query(spark, vectorStore, queryVecs,
        k = depth, nprobe = nprobe)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
      .collect().toIndexedSeq
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getInt(2)))
    val lexRows = lexRankFromStore(spark, indexStore, queries, depth,
        k1, b)
      .collect().toIndexedSeq
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getInt(2)))
    localFusedDf(spark, fuseLocal(lexRows, denseRows, k, c))
  }

  /** A driver-fused ranking as a LOCAL relation — [[rrfFuse]]'s exact
    * output columns (query_id, doc_id, lex_rank, dense_rank, fused,
    * rank).
    */
  private def localFusedDf(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[(Option[Long], Option[Long], Int, Int, Double, Int)])
      : DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      rows.map(t => org.apache.spark.sql.Row(
        t._1.orNull, t._2.orNull, t._3, t._4, t._5, t._6)).asJava,
      StructType(Seq(
        StructField("query_id", LongType),
        StructField("doc_id", LongType),
        StructField("lex_rank", IntegerType, nullable = false),
        StructField("dense_rank", IntegerType, nullable = false),
        StructField("fused", DoubleType, nullable = false),
        StructField("rank", IntegerType, nullable = false))))
  }

  /** The store-fed lexical leg shared by [[hybridQueryStores]] and
    * [[hybridQueryStoresRerank]] — ONE definition: queryIndex's store
    * tables (pushed token filter, tombstones excluded), s11's scoring
    * fan-out, the depth-bounded bottom-k rank.
    */
  private def lexRankFromStore(spark: org.apache.spark.sql.SparkSession,
                               indexStore: String,
                               queries: Seq[(Long, Seq[String])],
                               depth: Int, k1: Double,
                               b: Double): DataFrame = {
    import spark.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    val qt = broadcast(queries.flatMap { case (qid, ts) =>
      ts.distinct.map(qid -> _)
    }.toDF("query_id", "token"))
    val bottomK = udaf(graft.functions.BottomKAggregator.bottomK(depth))
    val stats = liveStore(spark, indexStore, "lengths", LengthsSchema)
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("dl_tot"))
      .select(col("n_docs"),
        (col("dl_tot").cast("double") / col("n_docs")).as("avgdl"))
    val tf = liveStore(spark, indexStore, "postings", PostingsSchema)
      .filter(col("token").isin(allTerms: _*))
    val dfT = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(qt, "token")
      .join(broadcast(dfT), "token")
      .crossJoin(broadcast(stats))
      .withColumn("w", termWeight(col("tf"), col("dl"),
        idf(col("n_docs"), col("df")), col("avgdl"), k1, b))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("w").cast("decimal(38,18)")).cast("double"), 4)
        .as("s"))
      .groupBy(col("query_id"))
      .agg(bottomK((-round(col("s") * 1e4)).cast("long"),
        col("doc_id")).as("picked"))
      .select(col("query_id"), posexplode(col("picked")))
      .select(col("query_id"), col("col._2").as("doc_id"),
        (col("pos") + 1).cast("int").as("lex_rank"))
  }

  /** EXACT-TAIL hybrid retrieval — [[hybridQueryStores]] with the
    * [[graft.ext.VectorIndex.queryRerank]] discipline on the dense
    * leg, completing the serving matrix on the hybrid plane: the
    * stores NOMINATE (postings-pruned lexical rank; cell-pruned ADC
    * candidates), then ONLY the dense nominees' ORIGINAL vectors are
    * fetched from the corpus parquet by a pushed vec_id filter and
    * re-ranked by exact rounded-4 cosine (vec_id tiebreak) before the
    * shared RRF fuse — so PQ compression error affects WHICH dense
    * candidates fuse, never their fused order. The lexical leg is
    * exact already (the postings store holds the true tf/dl facts)
    * and is shared with [[hybridQueryStores]] definition-for-
    * definition. The ONLY corpus read in the executed plan is the
    * pushed candidate fetch (|Q|·depth row groups — spec-pinned).
    * Oracle-checked (s25): the s09 weight tree, the s08 ADC chain,
    * the s20 exact re-rank and the shared RRF tail replay end-to-end.
    */
  def hybridQueryStoresRerank(spark: org.apache.spark.sql.SparkSession,
                              indexStore: String, vectorStore: String,
                              corpus: DataFrame,
                              queries: Seq[(Long, Seq[String])],
                              queryVecs: DataFrame, k: Int = 10,
                              depth: Int = 20, c: Int = 60,
                              nprobe: Int = 4, k1: Double = 1.2,
                              b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty,
      "hybridQueryStoresRerank needs at least one query")
    require(queries.forall(_._2.nonEmpty),
      "every hybrid query needs at least one term")

    // dense leg: store nomination + exact re-rank of the originals —
    // queryRerank verbatim at full rerank coverage of the nominees.
    // r15: queryRerank's fold already returns a LOCAL relation, so the
    // collect here is free; fuse driver-side like hybridQueryStores.
    val denseRows = VectorIndex.queryRerank(spark, vectorStore, corpus,
        queryVecs, k = depth, rerank = depth, nprobe = nprobe)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
      .collect().toIndexedSeq
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getInt(2)))
    val lexRows = lexRankFromStore(spark, indexStore, queries, depth,
        k1, b)
      .collect().toIndexedSeq
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getInt(2)))
    localFusedDf(spark, fuseLocal(lexRows, denseRows, k, c))
  }

  /** DIVERSIFIED hybrid retrieval — the MMR tail after the RRF fuse
    * (r13; r14 fetch-once + uncut-fuse rework), completing the hybrid
    * serving matrix the way s24 completed the dense one: the stores
    * nominate (postings-pruned lexical rank, cell-pruned ADC dense
    * candidates — both legs shared definition-for-definition with
    * [[hybridQueryStoresRerank]]), BOTH legs' candidate originals are
    * fetched from the corpus parquet by ONE pushed vec_id filter
    * (≤ 2·|Q|·depth rows, materialized once), the dense leg re-ranks
    * by exact rounded-4 cosine over that fetch (the s25 exact tail,
    * verbatim), the legs fuse UNCUT (each leg is already
    * depth-bounded, so the full-outer union is ≤ 2·depth rows per
    * query — no top-depth cut before the pool), and the greedy MMR
    * ([[graft.ext.Similarity.mmrRerank]], λ·fused −
    * (1−λ)·max-sim-to-picked) re-ranks the fused top-`poolSize` over
    * the SAME fetched originals to the final k — near-duplicate fused
    * hits stop crowding the cut. Relevance = the fused RRF score
    * (round-6 grid); pairwise sims = exact rounded-4 cosine. The only
    * corpus read in the whole call is the one pushed fetch
    * (spec-pinned: the final plan re-reads the materialized fetch,
    * never the corpus). Oracle-checked (s28): the s25 chain, the
    * UNCUT fuse, the embedding-backed pool cut, and the unrolled
    * greedy replay end-to-end.
    *
    * ID-space semantics (found at the x10 stress, r13; order fixed
    * r14): the lexical and dense corpora need not share an id space —
    * a fused candidate can be a lexical-only doc with NO embedding,
    * and a candidate without a vector cannot be diversified (no
    * pairwise sims). The fuse is therefore UNCUT and vectorless ids
    * drop at the fetch join, so the top-`poolSize` cut runs over the
    * full embedding-backed fused list (the dense leg alone guarantees
    * `depth ≥ poolSize` backed candidates per query) — exactly the
    * oracle's `f JOIN e` → pool-cut order. The r13 form cut the fuse
    * to top-depth FIRST, letting lexical-only docs evict backed
    * candidates from the pool under partial embedding coverage.
    */
  def hybridQueryStoresDiversify(spark: org.apache.spark.sql.SparkSession,
                                 indexStore: String, vectorStore: String,
                                 corpus: DataFrame,
                                 queries: Seq[(Long, Seq[String])],
                                 queryVecs: DataFrame, k: Int = 4,
                                 poolSize: Int = 12, depth: Int = 20,
                                 c: Int = 60, nprobe: Int = 4,
                                 lambda: Double = 0.7, k1: Double = 1.2,
                                 b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty,
      "hybridQueryStoresDiversify needs at least one query")
    require(queries.forall(_._2.nonEmpty),
      "every hybrid query needs at least one term")
    require(poolSize >= k,
      s"pool ($poolSize) must cover k ($k)")
    require(depth >= poolSize,
      s"depth ($depth) must cover the pool ($poolSize)")
    // r15 (VERDICT r14 item 3): everything PAST the two store legs is
    // KB by construction (each leg ≤ |Q|·depth rows, the fetch
    // ≤ 2·|Q|·depth), yet the r14 form ran it as ~12 pool-bounded
    // Spark jobs (three eager checkpoints, two id collects, the dense
    // re-rank window, the full-outer fuse, the pool window, the MMR
    // pool collect) — pure scheduling/planning overhead at any corpus
    // size. The legs keep their distributed plans (postings-scale and
    // codes-scale) and are COLLECTED (one job each, replacing their
    // checkpoint jobs); the fetch keeps its pushed parallel corpus
    // scan and is collected (one job, replacing checkpoint + re-read);
    // the re-rank/fuse/pool tail folds driver-side with the engine's
    // arithmetic op for op (the mmrRerank-fold primitives: round-4
    // local cosine, SQL double ordering, DESC-NULLS-LAST ranks, RRF
    // contribs in the fixed lex+dense IEEE order, round-6 fuse) —
    // spec-pinned against the expression tail and replayed by the s28
    // oracle end-to-end.
    val lexRows = lexRankFromStore(spark, indexStore, queries, depth,
        k1, b)
      .collect().toIndexedSeq
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getInt(2)))
    val candRows = VectorIndex.query(spark, vectorStore, queryVecs,
        k = depth, nprobe = nprobe)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
      .collect().toIndexedSeq
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1))))
    // ONE pushed corpus fetch serves both the exact dense re-rank and
    // the pool join: the union of both legs' candidate ids (≤
    // 2·|Q|·depth longs — KB) into an In filter; the scan keeps its
    // parallelism (ADVICE r14 — no coalesce anywhere near it)
    val ids = (candRows.flatMap(_._2) ++ lexRows.flatMap(_._2))
      .distinct
    val fetchedRows = corpus
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").cast("long").as("doc_id"),
        col("embedding").cast("array<double>").as("emb"))
      .collect().toIndexedSeq
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) null else r.getSeq[Any](1)))
    val qRows = queryVecs
      .select(col("vec_id").cast("long").as("query_id"),
        col("embedding").cast("array<double>").as("q_emb"))
      .collect().toIndexedSeq
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) null else r.getSeq[Any](1)))
    val pool = diversifyPoolLocal(lexRows, candRows, fetchedRows, qRows,
      depth, poolSize, c)
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val poolDf = spark.createDataFrame(
      pool.map(t => org.apache.spark.sql.Row(
        t._1.orNull, t._2.orNull, t._3, t._4.orNull)).asJava,
      StructType(Seq(
        StructField("query_id", LongType),
        StructField("vec_id", LongType),
        StructField("emb", ArrayType(DoubleType)),
        StructField("rel", DoubleType))))
    Similarity.mmrRerank(poolDf, k, lambda)
  }

  /** The diversify tail folded driver-side — [[hybridQueryStoresDiversify]]'s
    * exact dense re-rank, UNCUT RRF fuse, and embedding-backed pool
    * cut over the three collected KB frames, replicating the
    * expression tail op for op:
    *
    *  - dense re-rank: inner joins (null keys never match), sim =
    *    round-4 [[Similarity.localCosine]], row_number over (sim DESC
    *    NULLS LAST, vec_id ASC) per query_id (null qids group
    *    together, as a window partition does), cut at depth;
    *  - fuse: full-outer multiset join on (query_id, doc_id) —
    *    null-keyed rows pass through UNMATCHED exactly like SQL
    *    equality — fused = round-6(1/(c+lex) + 1/(c+dense)) in the
    *    fixed lex+dense IEEE order with absent legs contributing 0.0,
    *    then the (fused DESC, doc_id ASC) rank cut at 2·depth;
    *  - pool: inner join back to the fetch (vectorless candidates
    *    drop), (fused DESC, doc_id ASC) rank cut at poolSize.
    *
    * Returns (query_id, vec_id, emb, rel) pool rows for the MMR
    * greedy. Spec-pinned against the r14 expression-form tail on
    * adversarial frames; the s28 oracle replays the whole chain.
    */
  private[ext] def diversifyPoolLocal(
      lexRows: Seq[(Option[Long], Option[Long], Int)],
      candRows: Seq[(Option[Long], Option[Long])],
      fetchedRows: Seq[(Option[Long], Seq[Any])],
      qRows: Seq[(Option[Long], Seq[Any])],
      depth: Int, poolSize: Int, c: Int)
      : Seq[(Option[Long], Option[Long], Seq[Any], Option[Double])] = {
    import Similarity.rankLt
    val embById: Map[Long, Seq[Seq[Any]]] = fetchedRows
      .collect { case (Some(id), emb) => id -> emb }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val denseRank = Similarity
      .exactRerankLocal(candRows, fetchedRows, qRows, depth)
      .map(r => (r._1, r._2, r._4))
    // UNCUT fuse rank (≤ 2·depth keeps every row), then the
    // embedding-backed pool cut — both on (fused DESC, doc_id ASC)
    val fusedCut = fuseLocal(lexRows, denseRank, 2 * depth, c)
    fusedCut.flatMap(f =>
        f._2.toSeq.flatMap(embById.getOrElse(_, Nil))
          .map(emb => (f, emb)))
      .groupBy(_._1._1).toSeq.flatMap { case (qid, rs) =>
        rs.sortWith((a, b) => rankLt((Some(a._1._5), a._1._2),
            (Some(b._1._5), b._1._2)))
          .take(poolSize)
          .map { case (f, emb) => (qid, f._2, emb, Some(f._5)) }
      }
  }

  /** [[rrfFuse]] folded driver-side over two collected KB legs — the
    * full-outer multiset join on (query_id, doc_id) with SQL equality
    * (null-keyed rows pass through UNMATCHED), fused =
    * round-6(1/(c+lex) + 1/(c+dense)) in the fixed lex+dense IEEE
    * order with absent legs contributing 0.0, absent ranks COALESCEd
    * to 0 in the output, and the (fused DESC NULLS LAST, doc_id ASC)
    * row_number cut at `k`. Returns (query_id, doc_id, lex_rank,
    * dense_rank, fused, rank) rows — rrfFuse's exact output columns.
    */
  private[ext] def fuseLocal(
      lexRows: Seq[(Option[Long], Option[Long], Int)],
      denseRows: Seq[(Option[Long], Option[Long], Int)], k: Int, c: Int)
      : Seq[(Option[Long], Option[Long], Int, Int, Double, Int)] = {
    import Similarity.{localRound, rankLt}
    def contrib(r: Option[Int]): Double =
      r.map(x => 1.0 / (c + x)).getOrElse(0.0)
    def fuse(lex: Option[Int], dense: Option[Int]): Double =
      localRound(contrib(lex) + contrib(dense), 6)
    // (qid, doc, lexRank coalesced 0, denseRank coalesced 0, fused)
    val lexByKey = lexRows.groupBy(r => (r._1, r._2))
    val denseByKey = denseRows.groupBy(r => (r._1, r._2))
    val out = Seq.newBuilder[(Option[Long], Option[Long], Int, Int,
      Double)]
    for ((key @ (qid, doc), ls) <- lexByKey) {
      if (qid.isDefined && doc.isDefined && denseByKey.contains(key))
        for (l <- ls; d <- denseByKey(key))
          out += ((qid, doc, l._3, d._3, fuse(Some(l._3), Some(d._3))))
      else // null-keyed or unmatched: full-outer pass-through
        for (l <- ls)
          out += ((qid, doc, l._3, 0, fuse(Some(l._3), None)))
    }
    for ((key @ (qid, doc), ds) <- denseByKey) {
      val matched = qid.isDefined && doc.isDefined &&
        lexByKey.contains(key)
      if (!matched) for (d <- ds)
        out += ((qid, doc, 0, d._3, fuse(None, Some(d._3))))
    }
    out.result().groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      rs.sortWith((a, b) => rankLt((Some(a._5), a._2),
          (Some(b._5), b._2)))
        .take(k).zipWithIndex
        .map { case (r, i) => (r._1, r._2, r._3, r._4, r._5, i + 1) }
    }
  }
}
