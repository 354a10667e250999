package graftbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{Retrieval, VectorIndex}

/** A seeded closed-loop request stream against a persisted IVF-PQ vector
  * store (`VectorIndex`) and a BM25 index (`Retrieval`) built in setup.
  *
  * A round is nine requests in a seeded order: each of the six serving
  * read functions once and each of three writes once — `VectorIndex
  * .update` with new vectors, `Retrieval.updateIndex` with new documents,
  * and a takedown of existing ids from both stores (`VectorIndex.delete`
  * plus `Retrieval.deleteFromIndex`). Row counts are spread over 1–8 by
  * [[VectorServing.queryRows]]; a read's rows are a sampled corpus vector
  * plus seeded noise and two sampled vocabulary terms. One client
  * thread sends the next request when the previous one returns.
  *
  * Setup runs two of the contract's serving queries
  * (`graft.SparkEntry.queries` s17 and s21), which build the stores; each
  * result is checked against its fingerprint in `golden.json`. Stream reads, whose results depend on
  * the writes before them, are checked for well-formedness: one result
  * list per query, at most k distinct ids each, no deleted id.
  */
final class VectorServing extends Workload {
  import VectorServing._

  private var vStore, bmStore: String = _
  private var corpus: IndexedSeq[Array[Double]] = IndexedSeq.empty
  private val deleted = scala.collection.mutable.Set.empty[Long]
  private var nextVecId = 1000000L
  private var nextDocId = 1000000L

  private var corpusDir: String = _

  private def embeddings(ctx: Ctx): DataFrame =
    Tables.embeddings(ctx.spark, corpusDir)

  def setup(ctx: Ctx): Unit = {
    corpusDir = ctx.corpusCopy("corpus", Seq("documents", "embeddings"))
    // The contract's serving queries bootstrap the stores: their store
    // roots live under `java.io.tmpdir`, pointed here at an empty
    // directory, so the store directory a query leaves behind is its
    // store.
    val storeRoot = new File(ctx.dir("stores"))
    val prevTmp = System.getProperty("java.io.tmpdir")
    System.setProperty("java.io.tmpdir", storeRoot.getPath)
    try Contract.foreach { case (fn, query) =>
      val before = storeRoot.list().toSet
      ctx.op(query, "contract", Map("family" -> "s")) {
        val df = ctx.rec.span("build", "queries.build") {
          graft.SparkEntry.queries(query)(ctx.spark, corpusDir)
        }
        val fp = ctx.rec.span("execute", "queries.execute") {
          Fingerprint.of(df)
        }
        ctx.checkFp(query, fp)
      }
      // Spark also unpacks native libraries and artifacts here; a store
      // is the new directory that holds parquet files
      val created = (storeRoot.list().toSet -- before).toSeq.sorted
        .map(new File(storeRoot, _))
        .filter(d => BackupCycle.filesUnder(d).exists(_.getName.endsWith(".parquet")))
      def only: String = created match {
        case Seq(d) => d.getPath
        case other => throw new IllegalStateException(
          s"$query left ${other.mkString("[", ", ", "]")} in the store root")
      }
      if (fn == "ann") vStore = only
      else bmStore = only
    } finally System.setProperty("java.io.tmpdir", prevTmp)
    corpus = embeddings(ctx).orderBy("vec_id")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray).toIndexedSeq
    // one takedown before the stream, so every timed read runs against
    // stores that already hold tombstones (their read plans anti-join
    // them from the first tombstone on)
    takedown(ctx, takedownIds(ctx, 1))
  }

  def run(ctx: Ctx, deadlineUs: Long): Unit = {
    val mix = scala.collection.mutable.Map.empty[String, Int]
    val qHist = scala.collection.mutable.Map.empty[Int, Int]
    ctx.rounds(deadlineUs) { round =>
      // the same mix and row counts in every run, so runs of different
      // seeds compare; the seed picks the order and the rows' content
      ctx.rng.shuffle(Reads ++ Writes).foreach { fn =>
        val req = draw(ctx, fn, queryRows(fn, round))
        mix(fn) = mix.getOrElse(fn, 0) + 1
        qHist(req.rows.size) = qHist.getOrElse(req.rows.size, 0) + 1
        serve(ctx, req)
      }
    }
    ctx.record("request_mix", mix.toMap)
    ctx.record("q_histogram", qHist.toSeq.sorted.map { case (q, n) =>
      q.toString -> n }.toMap)
    ctx.sample("store_files", Seq(vStore, bmStore).map(d =>
      BackupCycle.filesUnder(new File(d))
        .count(_.getName.endsWith(".parquet"))).sum.toDouble)
    val total = mix.values.sum.toDouble
    ctx.record("write_share", Writes.map(mix.getOrElse(_, 0)).sum / total)
  }

  private def draw(ctx: Ctx, fn: String, q: Int): Request = {
    val r = ctx.rng
    Request(fn, (0 until q).map { i =>
      val base = corpus(r.nextInt(corpus.size))
      val v = base.map(_ + r.nextGaussian() * Noise)
      val norm = math.sqrt(v.map(x => x * x).sum)
      val terms = r.shuffle(Corpus.Vocabulary).take(TermsPerQuery)
      (QueryIdBase + i, v.map(_ / norm).toSeq, terms)
    })
  }

  private def vectorsDf(spark: SparkSession,
                        rows: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def read(ctx: Ctx, req: Request): DataFrame = {
    val spark = ctx.spark
    val qv = vectorsDf(spark, req.rows.map(r => (r._1, r._2)))
    val terms = req.rows.map(r => (r._1, r._3))
    val e = embeddings(ctx)
    req.fn match {
      case "ann" => VectorIndex.query(spark, vStore, qv, K)
      case "ann_rerank" =>
        VectorIndex.queryRerank(spark, vStore, e, qv, K, rerank = RerankPool)
      case "ann_mmr" =>
        VectorIndex.diversifiedQuery(spark, vStore, qv, k = MmrK,
          poolSize = MmrPool, lambda = Lambda)
      case "hybrid" =>
        Retrieval.hybridQueryStores(spark, bmStore, vStore, terms, qv,
          k = K, depth = Depth)
      case "hybrid_rerank" =>
        Retrieval.hybridQueryStoresRerank(spark, bmStore, vStore, e, terms,
          qv, k = K, depth = Depth)
      case "hybrid_mmr" =>
        Retrieval.hybridQueryStoresDiversify(spark, bmStore, vStore, e,
          terms, qv, k = MmrK, poolSize = MmrPool, depth = Depth,
          lambda = Lambda)
    }
  }

  private def serve(ctx: Ctx, req: Request): Unit = {
    val spark = ctx.spark
    req.fn match {
      case fn if Reads.contains(fn) =>
        ctx.op(fn, "serve.read", Map("q" -> req.rows.size)) {
          val rows = ctx.rec.span(fn, s"ext.$fn") {
            read(ctx, req).collect().toSeq
          }
          wellFormed(rows, req, if (fn.endsWith("mmr")) MmrK else K)
        }
      case "update" =>
        val batch = req.rows.map { r => nextVecId += 1; (nextVecId, r._2) }
        // the serving corpus grows with the store, so re-rank fetches
        // find the new vectors' originals
        vectorsDf(spark, batch)
          .select(col("vec_id"), col("embedding").cast("array<float>"),
            lit(0).as("label"))
          .write.mode("append").parquet(Tables.path(corpusDir, "embeddings"))
        ctx.op("update", "serve.write", Map("q" -> batch.size)) {
          ctx.rec.span("update", "ext.update") {
            VectorIndex.update(vectorsDf(spark, batch), vStore)
          }
          None
        }
      case "update_index" =>
        import spark.implicits._
        val docs = req.rows.map { r =>
          nextDocId += 1
          (nextDocId, (r._3 ++ r._3.reverse).mkString(" "))
        }
        ctx.op("update_index", "serve.write", Map("q" -> docs.size)) {
          ctx.rec.span("update_index", "ext.update_index") {
            Retrieval.updateIndex(docs.toDF("doc_id", "text"), bmStore)
          }
          None
        }
      case "delete" =>
        val ids = takedownIds(ctx, req.rows.size)
        ctx.op("delete", "serve.write", Map("q" -> ids.size)) {
          ctx.rec.span("delete", "ext.delete") { takedown(ctx, ids) }
          None
        }
    }
  }

  /** `n` distinct live corpus ids, drawn by the seed. */
  private def takedownIds(ctx: Ctx, n: Int): Seq[Long] =
    Iterator.continually(ctx.rng.nextInt(corpus.size).toLong)
      .filterNot(deleted).distinct.take(n).toSeq

  /** A takedown removes the ids from both stores. */
  private def takedown(ctx: Ctx, ids: Seq[Long]): Unit = {
    deleted ++= ids
    VectorIndex.delete(ctx.spark, vStore, ids)
    Retrieval.deleteFromIndex(ctx.spark, bmStore, ids)
  }

  /** One result list per query of the request, each with 1..k distinct
    * ids, none of them deleted.
    */
  private def wellFormed(rows: Seq[Row], req: Request, k: Int): Option[String] = {
    if (rows.isEmpty) return Some("empty result")
    val schema = rows.head.schema
    val idCol = Seq("neighbor_id", "vec_id", "doc_id")
      .find(schema.fieldNames.contains)
    if (idCol.isEmpty) return Some(s"no id column in ${schema.simpleString}")
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long](idCol.get)) }
    val want = req.rows.map(_._1).toSet
    if (byQuery.keySet != want)
      Some(s"answered queries ${byQuery.keySet.toSeq.sorted} != ${want.toSeq.sorted}")
    else byQuery.collectFirst {
      case (q, ids) if ids.size > k || ids.distinct.size != ids.size =>
        s"query $q got ${ids.size} ids (k=$k) with repeats"
      case (q, ids) if ids.exists(deleted) =>
        s"query $q returned deleted ids ${ids.filter(deleted)}"
    }
  }
}

object VectorServing {
  /** One seeded request: a function and its query rows
    * (id, vector, terms).
    */
  final case class Request(fn: String,
                           rows: Seq[(Long, Seq[Double], Seq[String])])

  /** Contract queries by read function: the `ann` query builds the
    * vector store, the `hybrid` query the BM25 index. The other serving
    * contract queries (s19, s20, s24, s25, s28) are left out to fit the
    * run budget.
    */
  val Contract: Seq[(String, String)] = Seq("ann" -> "s17_ann_index",
    "hybrid" -> "s21_hybrid_store")

  val Reads: Seq[String] = Seq("ann", "ann_rerank", "ann_mmr", "hybrid",
    "hybrid_rerank", "hybrid_mmr")
  val Writes: Seq[String] = Seq("update", "update_index", "delete")
  /** Query ids sit outside the corpus id range, so the store's
    * self-hit exclusion never drops a real neighbor.
    */
  val QueryIdBase = 900000000L
  val MaxQueryRows = 8
  /** A query's terms; fixed, since the lexical legs' cost grows with
    * the (query, term) pairs.
    */
  val TermsPerQuery = 2

  /** Rows (query rows, new vectors or documents, deleted ids) of `fn`'s
    * request in round `round`: spread over 1..MaxQueryRows across the
    * functions, shifting each round, and the same for every seed.
    */
  def queryRows(fn: String, round: Int): Int = {
    val i = (Reads ++ Writes).indexOf(fn)
    1 + (3 * i + 5 * round) % MaxQueryRows
  }
  val Noise = 0.05
  // the contract queries' serving knobs (graft.queries.SimilarityQueries)
  val K = 10
  val RerankPool = 20
  val MmrK = 4
  val MmrPool = 12
  val Depth = 20
  val Lambda = 0.7
}
