package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.engine.{Compactor, FactLog}
import graft.plans.DriverFold
import Similarity.{optLong, optSeq}

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
    * stores remain append-only fact logs ([[graft.engine.FactLog]]);
    * long-lived ones compact with [[compactIndex]].
    *
    * A batch of at most [[DriverFold.cap]] rows with no null id or
    * text, whose postings fit the cap too, is folded on the driver
    * ([[updateIndexLocal]]): one bounded read of the batch, the id gate
    * from the held lengths and tombstone snapshots, one pushed
    * `doc_id IN` postings probe for the crash-window gate below, and
    * each append written by the driver and committed into the held
    * snapshot — a warm update of a local batch runs one Spark job, the
    * probe, and the next read reloads nothing. Any other batch takes
    * the distributed path (as a bootstrap into a cleared root does
    * directly), whose
    * anti-join survivor set is materialized (eager localCheckpoint,
    * delta-sized) BEFORE the appends, so the store is never read and
    * written by the same job. Both paths write the same rows, schemas
    * and file counts (spec-pinned).
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
    * column-pruned to (doc_id, dl) and filtered to the delta-sized
    * survivor ids, and it is paid only when the lengths gate let
    * something through — an identical replay never reaches it.
    */
  def updateIndex(batch: DataFrame, indexStore: String): Unit = {
    if (!updateIndexLocal(batch, indexStore))
      updateIndexDistributed(batch, indexStore)
  }

  /** The batch's (doc_id, text) rows; doc ids are stored as BIGINT
    * (the declared store schemas).
    */
  private def prepDocs(batch: DataFrame): DataFrame =
    batch.select(col("doc_id").cast("long").as("doc_id"), col("text"))

  /** A (doc_id, text) frame's postings rows (doc_id, dl, token, tf). */
  private def postingsOf(b: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    b.select(col("doc_id"), size(toks).as("dl"), explode(toks).as("token"))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
  }

  /** A (doc_id, text) frame's lengths rows (doc_id, dl). */
  private def lengthsOf(b: DataFrame): DataFrame =
    b.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("dl"))
      .distinct()

  /** [[updateIndex]] on the driver, op for op
    * [[updateIndexDistributed]]: the batch distinct, the gate on
    * lengths ∪ tombstones, the orphan repair, then postings grouped by
    * (doc_id, dl, token) over `split(text, " ")` and the distinct
    * (doc_id, dl) lengths, appended in the same order with the schemas
    * the distributed writes carry. Returns false, having written
    * nothing, for a batch past the cap or holding a null id or text,
    * lengths or tombstones too many to hold, or a probe or postings
    * append past the cap.
    */
  private def updateIndexLocal(batch: DataFrame, indexStore: String)
      : Boolean = {
    val spark = batch.sparkSession
    val cap = DriverFold.cap
    val got = DriverFold.collect(prepDocs(batch), cap)
      .filter(_.forall(r => !r.anyNull)).getOrElse(return false)
    val known = FactLog.ids(Seq(lengthsLog(indexStore), tombLog(indexStore))
      .flatMap(_.held(spark).getOrElse(return false)))
    // distinct, as the distributed path's: a duplicated row must not
    // double its tf counts
    val b0 = got.iterator.map(r => (r.getLong(0), r.getString(1)))
      .filterNot(r => known(r._1)).distinct.toSeq
    if (b0.isEmpty) return true
    val orphans = DriverFold.collect(
        postingsLog(indexStore).scan(spark)
          .filter(DriverFold.isIn(col("doc_id"), b0.map(_._1)))
          .select(col("doc_id"), col("dl")).coalesce(1), cap)
      .filter(_.forall(r => !r.anyNull)).getOrElse(return false)
      .map(r => (r.getLong(0), r.getInt(1))).distinct.toSeq
    val orphanIds = orphans.map(_._1).toSet
    val b = b0.filterNot(r => orphanIds(r._1))
    val toks = b.map { case (id, text) => (id, TextAnalysis.tokensLocal(text)) }
    // tf per (doc_id, dl, token), stopping once the postings pass the
    // cap (a corpus-sized batch declines early)
    val postings = scala.collection.mutable.HashMap
      .empty[(Long, Int, String), Long]
    for ((id, ts) <- toks) {
      ts.foreach(t => postings.updateWith((id, ts.length, t))(
        n => Some(n.getOrElse(0L) + 1L)))
      if (postings.size > cap) return false
    }
    if (orphans.nonEmpty)
      lengthsLog(indexStore).append(spark,
        orphans.map { case (id, dl) => Row(id, dl.toLong) })
    if (b.nonEmpty) {
      val docs = prepDocs(batch).distinct()
      postingsLog(indexStore, postingsOf(docs).schema).append(spark,
        postings.iterator.map { case ((id, dl, t), tf) => Row(id, dl, t, tf) }
          .toSeq)
      lengthsLog(indexStore, lengthsOf(docs).schema).append(spark,
        toks.map { case (id, ts) => (id, ts.length.toLong) }.distinct
          .map { case (id, dl) => Row(id, dl) })
    }
    true
  }

  /** [[updateIndex]] as Spark jobs, for any batch. */
  private def updateIndexDistributed(batch: DataFrame,
                                     indexStore: String): Unit = {
    val spark = batch.sparkSession
    val tombs = tombLog(indexStore)
    val known = lengthsLog(indexStore).live(spark, tombs)
      .select(col("doc_id"))
      .unionByName(tombs.scan(spark).select(col("doc_id")))
    // distinct first: an exactly-duplicated document row inside one
    // batch must not double its tf counts (the lengths distinct alone
    // would mask it — one dl row, 2x tf — a silent score corruption)
    val b0 = prepDocs(batch).distinct()
      .join(known, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    if (b0.isEmpty) return
    // crash-window gate + repair: ids that already hold postings are
    // orphans of a crashed update — re-plant their lengths row from
    // the postings' own dl, and append nothing else for them
    val probe = postingsLog(indexStore).scan(spark)
      .select(col("doc_id"), col("dl"))
      .join(b0.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .distinct()
    val b =
      if (probe.isEmpty) b0 // a store with no postings runs no job here
      else {
        val orphans = probe.localCheckpoint(true) // ≤ |survivors| rows
        orphans.select(col("doc_id"), col("dl").cast("long").as("dl"))
          .write.mode("append").parquet(s"$indexStore/lengths")
        b0.join(orphans.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
      }
    if (b.isEmpty) return
    postingsOf(b).write.mode("append").parquet(s"$indexStore/postings")
    lengthsOf(b).write.mode("append").parquet(s"$indexStore/lengths")
  }

  /** The store tables as [[graft.engine.FactLog]]s under the store
    * root, read with their declared schemas (no inference job) and
    * appended with `written`, the schema of the Spark write an append
    * replaces. The lengths and tombstones are held on the driver while
    * they fit the serving fold ([[DriverFold.MaxRows]]
    * rows).
    */
  private def postingsLog(store: String,
                          written: StructType = PostingsSchema) =
    FactLog.rows(s"$store/postings", store, PostingsSchema, written)

  private def lengthsLog(store: String, written: StructType = LengthsSchema) =
    FactLog.rows(s"$store/lengths", store, LengthsSchema, written,
      DriverFold.MaxRows)

  /** The number of distinct (doc_id, dl) facts in `store`'s lengths,
    * tombstoned documents included: the lengths log's raw facts, read
    * with their declared schema after crash recovery.
    */
  private[graft] def indexedCount(spark: SparkSession, store: String): Long =
    lengthsLog(store).scan(spark).distinct().count()

  private def tombLog(store: String) =
    FactLog.tombstones(s"$store/tombstones", store, "doc_id",
      DriverFold.MaxRows)

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
    val now = System.currentTimeMillis()
    tombLog(indexStore).append(spark, docIds.distinct.map(Row(_, now)))
  }

  // the store tables' schemas, declared once: [[updateIndex]] and
  // [[deleteFromIndex]] write exactly these, every read passes them
  private[graft] val PostingsSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, dl INT, token STRING, tf BIGINT")
  private[graft] val LengthsSchema: StructType =
    StructType.fromDDL("doc_id BIGINT, dl BIGINT")
  private[graft] val TombstonesSchema: StructType =
    FactLog.tombstoneSchema("doc_id")
  // the tombstone parts' written schema, nullability included: the
  // footer of the Spark-written tombstone parts already in stores
  private[graft] val TombstonesWritten: StructType =
    FactLog.tombstoneSchema("doc_id", written = true)

  final case class IndexCompactReport(postingsBefore: Long,
    postingsAfter: Long, filesBefore: Int, filesAfter: Int)

  /** Physically compact the postings + lengths stores: rewrite each as
    * its live (folded, tombstone-free) row set in few sized files, a
    * fact-log rewrite ([[graft.engine.FactLog.rewrite]]). Query results
    * unchanged by construction (reads already fold + anti-join); N
    * streaming drains' small append files and replay duplicates stop
    * accumulating. Tombstones stay (cheap facts; they still gate
    * [[updateIndex]]). The staging dirs a crashed driver append left
    * under `_staging/` are removed.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   indexStore: String,
                   targetBytes: Long = 512L << 20): IndexCompactReport = {
    // leased on the STORE root across BOTH sub-store rewrites, so a
    // compaction and a rebuild of the same index exclude each other
    // cross-process (r14)
    graft.engine.StoreLease.withLease(Compactor.fs(spark, indexStore),
        indexStore) {
      val logs = Seq(postingsLog(indexStore), lengthsLog(indexStore))
      def footprints = logs.map(_.footprint(spark))
      val before = footprints
      logs.foreach(log => log.rewrite(spark, targetBytes) { (tmp, n) =>
        log.live(spark, tombLog(indexStore)).coalesce(n)
          .write.mode("overwrite").parquet(tmp)
      })
      val after = footprints
      IndexCompactReport(before.head._1, after.head._1,
        before.map(_._2).sum, after.map(_._2).sum)
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
    val lengths = lengthsLog(indexStore).live(spark, tombLog(indexStore))
    val statsRow = lengths
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("dl_tot"))
      .collect()(0)
    val nDocs = statsRow.getAs[Long]("n_docs")
    require(nDocs > 0, s"empty index store at $indexStore")
    val avgdl = statsRow.getAs[Long]("dl_tot").toDouble / nDocs
    val dfRows = postingsLog(indexStore).live(spark, tombLog(indexStore))
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
    val stats = lengthsLog(indexStore).live(spark, tombLog(indexStore))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("dl_tot"))
      .select(col("n_docs"),
        (col("dl_tot").cast("double") / col("n_docs")).as("avgdl"))
    val tf = postingsLog(indexStore).live(spark, tombLog(indexStore))
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
    Compactor.recover(spark, indexStore)
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
    // the root was just cleared (or is a fresh stage): the driver
    // attempt's id gate has nothing to find, so go straight to the
    // distributed write
    updateIndexDistributed(docs, indexStore)
    // drift baseline off the fresh stores (KB-scale aggregates)
    lengthsLog(indexStore).live(spark, tombLog(indexStore))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("dl_sum"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexStore/baseline/stats")
    postingsLog(indexStore).live(spark, tombLog(indexStore))
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
    require(Compactor.recover(spark, indexStore),
      s"no index store at $indexStore to rebuild (init first)")
    val f = Compactor.fs(spark, indexStore)
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
                  indexStore: String): Boolean =
    Compactor.recover(spark, indexStore)

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
    val curStats = lengthsLog(indexStore).live(spark, tombLog(indexStore))
      .agg(count(lit(1)).as("n_current"),
        coalesce(sum(col("dl")), lit(0L)).as("dl_cur"))
    val curDf = postingsLog(indexStore).live(spark, tombLog(indexStore))
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
    // swap first (the fact logs' discipline) — without this,
    // a drift report after an interrupted swap failed with the
    // misleading "predates drift baselines" error instead of serving
    // the restored previous copy
    val vocab = s"$indexStore/baseline/vocab"
    require(Compactor.recover(spark, indexStore) &&
        Compactor.fs(spark, vocab).exists(new org.apache.hadoop.fs.Path(vocab)),
      s"index store at $indexStore predates drift baselines — " +
        "rebuild it (initIndexIfStale) to record one")
    spark.read.parquet(vocab)
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
    *
    * Execution: each leg ranks on the driver from one bounded store
    * read — the dense leg's probed codes ([[graft.ext.VectorIndex
    * .query]]'s fold) and the lexical leg's query-term postings
    * ([[lexRankFromStore]]) — so a warm read on unchanged stores runs
    * two SQL executions with one Spark job each, and the fuse folds on
    * the driver. A leg past a valve takes its distributed plan; a leg
    * of more than [[DriverFold.cap]] rows makes the fuse the
    * distributed [[rrfFuse]].
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
    // its (approx_ip DESC, vec_id) rank IS the dense rank
    val dense = VectorIndex.query(spark, vectorStore, queryVecs,
      k = depth, nprobe = nprobe)
    fused(spark, lexRankFromStore(spark, indexStore, queries, depth, k1, b),
      dense, dense.select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank")), k, c)
  }

  /** The fuse of two ranked legs: both collected under the fold cap
    * (`rank` is each frame's LAST column; collecting the dense frame
    * unprojected keeps a [[graft.plans.DriverFold]] leg at one job) and
    * fused on the driver ([[fuseLocal]] — rrfFuse op for op,
    * spec-pinned); a leg past the cap runs the distributed
    * [[rrfFuse]] over `lex` and `denseLeg` instead.
    */
  private def fused(spark: org.apache.spark.sql.SparkSession,
                    lex: DataFrame, dense: DataFrame, denseLeg: DataFrame,
                    k: Int, c: Int): DataFrame = {
    val cap = DriverFold.cap
    def legRows(df: DataFrame) = DriverFold.collect(df, cap).map(
      _.toIndexedSeq.map(r => (optLong(r, 0), optLong(r, 1),
        r.getInt(r.length - 1))))
    legRows(dense).flatMap(d => legRows(lex).map(l => (l, d))) match {
      case Some((l, d)) => localFusedDf(spark, fuseLocal(l, d, k, c))
      case None => rrfFuse(lex, denseLeg, k, c)
    }
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

  /** The store-fed lexical leg shared by the three hybrid store reads —
    * ONE definition: queryIndex's store tables (pushed token filter,
    * tombstones excluded), s11's scoring fan-out, the depth-bounded
    * bottom-k rank. (query_id, doc_id, lex_rank) rows.
    *
    * Execution: while the lengths and tombstone dirs are held on the
    * driver (each at most [[DriverFold.MaxRows]] rows;
    * a warm read lists them and reloads neither) the leg runs ONE Spark
    * job — the query terms' postings read with `limit(cap + 1)` and a
    * pushed `token IN` — and ranks on the driver ([[lexRankLocal]], op
    * for op the plan below), returning a local relation. Past the cap
    * ([[DriverFold.cap]] postings rows), a dir too large to hold, or
    * input the fold declines, it returns the distributed plan.
    */
  private[ext] def lexRankFromStore(spark: org.apache.spark.sql.SparkSession,
                               indexStore: String,
                               queries: Seq[(Long, Seq[String])],
                               depth: Int, k1: Double,
                               b: Double): DataFrame = {
    import spark.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    val qtRows = queries.flatMap { case (qid, ts) => ts.distinct.map(qid -> _) }
    // a null in a posting or length row is left to the plan
    def noNulls(rows: Seq[Row]): Option[Seq[Row]] =
      Some(rows).filter(_.forall(r => !r.anyNull))
    val local = for {
      lengths <- lengthsLog(indexStore).held(spark).flatMap(noNulls)
      dead <- tombLog(indexStore).held(spark)
      read <- DriverFold.collect(
        postingsLog(indexStore).scan(spark)
          .filter(col("token").isin(allTerms: _*)).coalesce(1),
        DriverFold.cap).flatMap(rows => noNulls(rows.toSeq))
      ranked <- lexRankLocal(
        read.map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))),
        lengths.map(r => (r.getLong(0), r.getLong(1))),
        FactLog.ids(dead),
        qtRows, depth, k1, b)
    } yield ranked
    local match {
      case Some(rows) =>
        import scala.jdk.CollectionConverters._
        import org.apache.spark.sql.types._
        // the plan's schema: doc_id comes out of the bottom-k struct
        spark.createDataFrame(
          rows.map(t => Row(t._1, t._2, t._3)).asJava,
          StructType(Seq(StructField("query_id", LongType, nullable = false),
            StructField("doc_id", LongType),
            StructField("lex_rank", IntegerType, nullable = false))))
      case None =>
        val qt = broadcast(qtRows.toDF("query_id", "token"))
        val bottomK = udaf(graft.functions.BottomKAggregator.bottomK(depth))
        val stats = lengthsLog(indexStore).live(spark, tombLog(indexStore))
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("dl_tot"))
          .select(col("n_docs"),
            (col("dl_tot").cast("double") / col("n_docs")).as("avgdl"))
        val tf = postingsLog(indexStore).live(spark, tombLog(indexStore))
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
  }

  /** [[lexRankFromStore]]'s distributed plan folded on the driver over
    * the collected raw postings rows (doc_id, dl, token, tf) of the
    * query terms, the lengths rows (doc_id, dl) and the tombstoned ids,
    * op for op:
    *
    *  - both tables distinct, then tombstoned docs removed;
    *  - df = the live postings rows per token; n_docs = the live
    *    lengths rows, avgdl = Σ dl / n_docs in double;
    *  - per (query, term) pair of `qt` (a multiset, like the joined
    *    frame) and posting of the term: the [[termWeight]] tree over
    *    the [[idf]] tree in the same association order (Spark's `log`
    *    is `StrictMath.log`), rounded 6 ([[Similarity.localRound]]);
    *  - per (query, doc): the decimal(38,18) sum of the weights
    *    ([[Pca.addDec18]]) cast back to double, rounded 4;
    *  - per query: the bottom-`depth` pick by
    *    (−round(s·1e4) as long, doc_id) — [[graft.functions
    *    .BottomKAggregator]]'s order.
    *
    * Returns (query_id, doc_id, lex_rank) rows, or None where the plan
    * would divide by zero (no live document, or a zero denominator) or
    * a weight could not take the decimal cast.
    */
  private[ext] def lexRankLocal(postings: Seq[(Long, Int, String, Long)],
                                lengths: Seq[(Long, Long)], dead: Set[Long],
                                qt: Seq[(Long, String)], depth: Int,
                                k1: Double, b: Double)
      : Option[Seq[(Long, Long, Int)]] = {
    import Similarity.localRound
    val live = postings.distinct.filterNot(p => dead(p._1))
    val docs = lengths.distinct.filterNot(l => dead(l._1))
    val nDocs = docs.size.toLong
    val avgdl = docs.map(_._2).sum.toDouble / nDocs
    if (nDocs == 0 || avgdl == 0.0) return None
    val byToken = live.groupBy(_._3)
    val sums = scala.collection.mutable.LinkedHashMap
      .empty[(Long, Long), java.math.BigDecimal]
    for ((qid, tok) <- qt; (doc, dl, _, tf) <- byToken.getOrElse(tok, Nil)) {
      val df = byToken(tok).size.toLong
      val idfV = StrictMath.log(1.0 + ((nDocs - df).toDouble + 0.5) /
        (df.toDouble + 0.5))
      val denom = tf.toDouble + k1 * ((1.0 - b) + (b * dl.toDouble) / avgdl)
      if (denom == 0.0) return None
      val w = localRound(idfV * ((tf.toDouble * (k1 + 1.0)) / denom), 6)
      if (!java.lang.Double.isFinite(w) || math.abs(w) >= 1e20) return None
      sums((qid, doc)) = Pca.addDec18(
        sums.getOrElse((qid, doc), java.math.BigDecimal.ZERO), w)
    }
    Some(sums.toSeq.groupBy(_._1._1).toSeq.flatMap { case (qid, rs) =>
      rs.map { case ((_, doc), sum) =>
          val s = localRound(sum.doubleValue, 4)
          ((-localRound(s * 1e4, 0)).toLong, doc)
        }
        .sorted.take(depth).zipWithIndex
        .map { case ((_, doc), i) => (qid, doc, i + 1) }
    })
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
    *
    * Execution: three Spark jobs on warm stores — the dense leg's
    * codes read and corpus fetch ([[graft.ext.VectorIndex
    * .queryRerank]]), the lexical leg's postings read — and driver
    * folds for both ranks and the fuse; the fuse falls back to
    * [[rrfFuse]] as in [[hybridQueryStores]].
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
    // queryRerank verbatim at full rerank coverage of the nominees
    // (a local relation, so collecting it runs no job)
    val dense = VectorIndex.queryRerank(spark, vectorStore, corpus,
      queryVecs, k = depth, rerank = depth, nprobe = nprobe)
    fused(spark, lexRankFromStore(spark, indexStore, queries, depth, k1, b),
      dense, dense.select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank")), k, c)
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
    *
    * Execution: three Spark jobs on warm stores — the two legs' store
    * reads and the one corpus fetch — with every rank, the fuse, the
    * pool and the MMR greedy folded on the driver. The tail has no
    * distributed form: a leg, fetch or query frame of more than
    * [[DriverFold.cap]] rows fails with
    * [[graft.plans.FoldCapExceeded]].
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
    // everything PAST the two store legs is KB by construction (each
    // leg ≤ |Q|·depth rows, the fetch ≤ 2·|Q|·depth): the legs, the
    // pushed corpus fetch and the query vectors are each collected
    // under the fold cap, and the re-rank/fuse/pool tail folds on the
    // driver with the engine's arithmetic op for op (the mmrRerank-fold
    // primitives: round-4 local cosine, SQL double ordering,
    // DESC-NULLS-LAST ranks, RRF contribs in the fixed lex+dense IEEE
    // order, round-6 fuse) — spec-pinned against the expression tail
    // and replayed by the s28 oracle end-to-end. The tail has no
    // distributed form: a frame past the cap fails with
    // [[graft.plans.FoldCapExceeded]].
    val cap = DriverFold.cap
    val lexRows = DriverFold.collectOrFail(
        lexRankFromStore(spark, indexStore, queries, depth, k1, b), cap,
        "hybridQueryStoresDiversify lexical leg").toIndexedSeq
      .map(r => (optLong(r, 0), optLong(r, 1), r.getInt(2)))
    val candRows = DriverFold.collectOrFail(
        VectorIndex.query(spark, vectorStore, queryVecs, k = depth,
          nprobe = nprobe), cap,
        "hybridQueryStoresDiversify dense leg").toIndexedSeq
      .map(r => (optLong(r, 0), optLong(r, 1)))
    // ONE pushed corpus fetch serves both the exact dense re-rank and
    // the pool join: the union of both legs' candidate ids (≤
    // 2·|Q|·depth longs — KB) into an In filter; the scan keeps its
    // parallelism (ADVICE r14 — no coalesce anywhere near it)
    val ids = (candRows.flatMap(_._2) ++ lexRows.flatMap(_._2))
      .distinct
    val fetchedRows = DriverFold.collectOrFail(corpus
        .filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").cast("long").as("doc_id"),
          col("embedding").cast("array<double>").as("emb")), cap,
        "hybridQueryStoresDiversify fetch").toIndexedSeq
      .map(r => (optLong(r, 0), optSeq(r, 1)))
    val qRows = DriverFold.collectOrFail(queryVecs
        .select(col("vec_id").cast("long").as("query_id"),
          col("embedding").cast("array<double>").as("q_emb")), cap,
        "hybridQueryStoresDiversify queries").toIndexedSeq
      .map(r => (optLong(r, 0), optSeq(r, 1)))
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
