package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.engine.{Compactor, FactLog}
import graft.plans.DriverFold
import Similarity.{optLong, optSeq}

/** Persisted vector ANN index [EXT] — the BM25 inverted-index
  * lifecycle ([[Retrieval.updateIndex]] / [[Retrieval.queryIndex]])
  * on the vector plane: the deployment shape a 100 TB corpus actually
  * uses, where every in-query ANN form (s02/s03/s07/s08) rebuilds its
  * index per query.
  *
  * Store layout (all parquet under one root):
  *  - `centroids/` — (coarse_id, c_emb): the Lloyd-trained coarse
  *    quantizer ([[Similarity.coarseCentroids]]), KB-scale;
  *  - `codebooks/` — (sub, cell, c_sv): the residual PQ codebooks
  *    ([[Similarity.ivfPqIndex]]), KB-scale;
  *  - `codes/` — (vec_id, sub, cell, coarse_id): the corpus codes —
  *    the ONLY corpus-sized artifact (~3% of a float corpus). Appends
  *    are id-gated ([[update]] drops the batch ids already coded or
  *    tombstoned), so at-least-once replays of a batch append
  *    NOTHING — stronger than the fold-at-read contract the BM25
  *    postings use, and it closes the divergent-re-present hole (a
  *    changed embedding under an existing id can never plant a second
  *    code set whose ADC terms would double-count);
  *  - `tombstones/` — (vec_id, deleted_at): deletion facts appended by
  *    [[delete]]; every read path anti-joins them, [[compact]] drops
  *    the dead rows physically;
  *  - `driftstats/` — (batch_key, i, sx, cnt): per-batch EXACT decimal
  *    statistics of the served corpus (per-dim sums, a norm-sum row),
  *    appended by [[init]] and every [[update]] so the drift advisory
  *    ([[driftReportFromStats]]) never has to rescan the corpus —
  *    decimal sums fold associatively, so the stats-fed report equals
  *    the corpus-scan report BIT FOR BIT;
  *  - `_staging/` — driver-written appends in flight: a serving-sized
  *    [[update]] or [[delete]] folds on the driver and writes each
  *    append as one part file here, renamed into its dir (and into
  *    the held snapshot of it) once complete; tombstones are always
  *    appended this way, and [[compact]] removes the staging dirs a
  *    crash left;
  *  - `meta/` — one row: the training knobs plus a corpus fingerprint
  *    (row count + vec_id sum + a first-component content sum on the
  *    1e-6 grid), written LAST so a crash mid-init leaves a store that
  *    [[initIfStale]] rebuilds rather than a silently half-written
  *    one; an UNREADABLE meta (crash mid-commit) also reads as stale.
  *
  * Each of these dirs is a [[graft.engine.FactLog]] under the store
  * root, with its schema declared once below ([[MetaSchema]] …
  * [[DriftStatsSchema]]): every read passes it (no schema-inference
  * job), every driver append writes the Spark write's footer, and every
  * operation first restores a crashed swap of the root. The codes,
  * tombstones and drift statistics are append-only facts, folded at
  * read and compacted by a log rewrite. The KB-scale dirs (meta,
  * centroids + codebooks while the model fits
  * [[Similarity.LitAssignMaxBytes]], and the tombstones while they fit
  * the serving fold) are held on the driver in the log's snapshot, so
  * a warm read on an unchanged store collects none of them again.
  *
  * The model (centroids + codebooks) is FROZEN at init — [[update]]
  * encodes new vectors under it without retraining (a production PQ
  * index re-trains on a schedule, not per batch), as a PURE NARROW
  * MAP with the model in the task closure: no shuffle, no state, runs
  * unchanged on a `readStream` batch
  * ([[graft.streaming.StreamingVectorIndex]]). A serving-sized batch
  * (at most [[DriverFold.cap]] rows) runs the same per-row kernel
  * ([[Similarity.encodeRow]]) on the driver, gated against the held
  * tombstones, and the driver writes its appends: the write costs the
  * batch, not the store.
  *
  * [[query]] never touches the corpus: probes rank the KB centroid
  * table, the probed cell ids push into the codes parquet scan as
  * PushedFilters (spec-pinned — query cost is proportional to the
  * probed cells' posting lists), and scoring is [[Similarity
  * .ivfPqRank]] — the EXACT tail the in-query s08 uses, so the two
  * surfaces return identical rankings over the same corpus
  * (spec-pinned AND oracle-checked: s17 replays s08's SQL). A
  * serving-sized request ranks on the driver from ONE bounded read of
  * the probed cells' codes ([[Similarity.ivfPqRankLocal]], op for op
  * that tail), with the tombstones held like the model.
  */
object VectorIndex {

  final case class IndexMeta(nlist: Int, m: Int, ksub: Int, dim: Int,
                             iters: Int, coarseIters: Int,
                             nRows: Long, idSum: Long, embSum: Long)

  private[graft] val MetaSchema: StructType = StructType.fromDDL(
    "nlist INT, m INT, ksub INT, dim INT, iters INT, coarse_iters INT, " +
      "n_rows BIGINT, id_sum BIGINT, emb_sum BIGINT")
  private[graft] val CentroidsSchema: StructType =
    StructType.fromDDL("coarse_id BIGINT, c_emb ARRAY<DOUBLE>")
  private[graft] val CodebooksSchema: StructType =
    StructType.fromDDL("sub INT, cell BIGINT, c_sv ARRAY<DOUBLE>")
  private[graft] val CodesSchema: StructType = StructType.fromDDL(
    "vec_id BIGINT, sub INT, cell BIGINT, coarse_id BIGINT")
  private[graft] val TombstonesSchema: StructType =
    FactLog.tombstoneSchema("vec_id")
  private[graft] val DriftStatsSchema: StructType = StructType.fromDDL(
    "batch_key STRING, i INT, sx DECIMAL(38,18), cnt BIGINT")

  // the schemas the distributed appends write, nullability included,
  // so a driver-written part carries the same parquet footer (the
  // tombstones keep the footer of the Spark-written tombstone parts
  // already in stores)
  private[graft] val CodesWritten: StructType = StructType.fromDDL(
    "vec_id BIGINT, sub INT NOT NULL, cell BIGINT NOT NULL, " +
      "coarse_id BIGINT NOT NULL")
  private[graft] val DriftStatsWritten: StructType = StructType.fromDDL(
    "batch_key STRING NOT NULL, i INT NOT NULL, sx DECIMAL(38,18), " +
      "cnt BIGINT NOT NULL")
  private[graft] val TombstonesWritten: StructType =
    FactLog.tombstoneSchema("vec_id", written = true)

  /** A store dir as a [[graft.engine.FactLog]] under the store root,
    * held in this JVM's shared snapshot of it.
    */
  private def storeDir(store: String, sub: String, schema: StructType,
                       written: StructType): FactLog[Row] =
    FactLog.rows(s"$store/$sub", store, schema, written)

  private def codesLog(store: String) =
    storeDir(store, "codes", CodesSchema, CodesWritten)

  /** The number of distinct vectors with codes in `store`, replays and
    * tombstoned vectors included: the codes log's raw facts, read with
    * their declared schema after crash recovery.
    */
  private[graft] def indexedCount(spark: SparkSession, store: String): Long =
    codesLog(store).scan(spark).select("vec_id").distinct().count()

  private def driftLog(store: String) =
    storeDir(store, "driftstats", DriftStatsSchema, DriftStatsWritten)

  /** The tombstones, held while they fit the serving fold
    * ([[DriverFold.MaxRows]] rows; a held read's ids are
    * [[graft.engine.FactLog.ids]], which leaves out a null id, as the
    * read paths' anti-join never matches one).
    */
  private def tombLog(store: String) =
    FactLog.tombstones(s"$store/tombstones", store, "vec_id",
      DriverFold.MaxRows)

  /** Whether the frozen model (centroids + codebooks), sized from META
    * without a collect, fits the driver-side valve
    * [[Similarity.LitAssignMaxBytes]]: [[query]]'s local fold and the
    * held model snapshots both need it.
    */
  private def modelFitsDriver(meta: IndexMeta): Boolean = {
    val dsub = meta.dim / meta.m
    val centroidBytesEst = meta.nlist.toLong * (8L + 8L * meta.dim)
    val cbBytesEst = meta.m.toLong * meta.ksub * (12L + 8L * dsub)
    centroidBytesEst + cbBytesEst <= Similarity.LitAssignMaxBytes
  }

  /** The model's (centroids, codebooks) rows, held between calls only
    * while it fits the driver.
    */
  private def modelRows(spark: SparkSession, store: String,
                        meta: IndexMeta): (Vector[Row], Vector[Row]) = {
    def rows(sub: String, schema: StructType): Vector[Row] = {
      val dir = storeDir(store, sub, schema, schema)
      if (modelFitsDriver(meta)) dir.held(spark).get
      else dir.scan(spark).collect().toVector
    }
    (rows("centroids", CentroidsSchema), rows("codebooks", CodebooksSchema))
  }

  private def has(spark: SparkSession, path: String): Boolean =
    Compactor.fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** Whether a store is at `store`, after crash recovery for an
    * interrupted [[rebuild]] swap: if a crash landed between the two
    * renames, the store root is missing and `<store>__old` holds the
    * previous copy — the truth — which [[graft.engine.Compactor
    * .recover]] restores before any read or write. It runs under
    * [[graft.engine.Compactor.swapLock]]: "root missing, __old present"
    * is ALSO what a healthy in-flight swap looks like between its two
    * renames, and an unserialized recovery would rename `__old` back
    * mid-swap, aborting the live rebuild (r13; in-process only — across
    * processes the store assumes a SINGLE writer, see [[rebuild]]).
    * Gates every entry point.
    */
  def exists(spark: SparkSession, store: String): Boolean =
    Compactor.recover(spark, store) && has(spark, s"$store/meta")

  private def requireStore(spark: SparkSession, store: String): Unit =
    require(exists(spark, store),
      s"no vector index store at $store (run init first)")

  private def readMeta(spark: SparkSession, store: String): IndexMeta = {
    requireStore(spark, store)
    val r = storeDir(store, "meta", MetaSchema, MetaSchema).held(spark).get(0)
    IndexMeta(r.getAs[Int]("nlist"), r.getAs[Int]("m"),
      r.getAs[Int]("ksub"), r.getAs[Int]("dim"), r.getAs[Int]("iters"),
      r.getAs[Int]("coarse_iters"), r.getAs[Long]("n_rows"),
      r.getAs[Long]("id_sum"), r.getAs[Long]("emb_sum"))
  }

  /** The corpus fingerprint recorded at init: one cheap narrow
    * aggregate over the id column AND the embedding content — count,
    * vec_id sum, and a POSITION-WEIGHTED full-component sum on the
    * 1e-6 grid (in-row Σ (i+1)·xᵢ, then round·1e6 and sum — every
    * component of every vector contributes, and the weight makes a
    * within-vector permutation visible too; the first-component-only
    * term it replaces (r11) went blind to a re-embedding that
    * happened to preserve dim 0). [[initIfStale]] compares all
    * three, so neither a REGENERATED corpus at the same path nor a
    * RE-EMBEDDED corpus under the same ids (the stable 0..n-1 id
    * stream a new encoder run produces) can be served from a stale
    * index — ids alone would pass the second case silently.
    *
    * Each ROW's rounded term casts to LONG before the sum and the sum
    * runs over longs (modular, associative, order-free — the
    * [[Retrieval.initIndexIfStale]] crc_sum discipline): a double sum
    * across rows would exceed 2⁵³ at tens of millions of vectors
    * (terms scale ~d²/2·10⁶ per row), going inexact AND
    * partition-order-dependent — a nondeterministic fingerprint that
    * spuriously rebuilds (or, rarely, falsely serves) the store.
    * A vector with a NaN or ±Inf component has no such term: the
    * corpus fails with [[finiteOr]]'s error.
    */
  private def fingerprint(e: DataFrame): (Long, Long, Long) = {
    val weighted = aggregate(
      zip_with(col("emb"),
        transform(col("emb"), (_, i) => (i + 1).cast("double")),
        (x, w) => x * w),
      lit(0.0d), (acc, t) => acc + t)
    val bad = org.apache.spark.sql.functions.exists(col("emb"), nonFinite)
    val r = e.agg(count(lit(1)).as("n"),
      coalesce(sum(col("vec_id")), lit(0L)).as("s"),
      coalesce(sum(when(bad, lit(0L)).otherwise(
        coalesce(round(weighted * 1e6, 0), lit(0.0d)).cast("long"))),
        lit(0L)).as("es"),
      min(when(bad, col("vec_id"))).as("bad"))
      .select(col("n"), col("s"), finiteOr(col("bad"), col("es")).as("es"))
      .collect()(0)
    (r.getAs[Long]("n"), r.getAs[Long]("s"), r.getAs[Long]("es"))
  }

  private def nonFinite(x: Column): Column =
    isnan(x) || abs(x) === lit(Double.PositiveInfinity)

  /** `value`, or, when the aggregate `badId` (the smallest `vec_id`
    * holding a NaN or ±Inf component) is set, an error naming that id:
    * such a vector has no exact sum. Evaluated on an aggregate's output
    * row, inside the aggregate's own job.
    */
  private def finiteOr(badId: Column, value: Column): Column =
    when(badId.isNull, value).otherwise(raise_error(
      concat(lit("vector index: vec_id "), badId.cast("string"),
        lit(" has a NaN or infinite embedding component"))))

  private def prep(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("emb"))

  /** `nlist = 0` auto-sizes to ⌈N/128⌉ (floor 16) — d09/d07's
    * occupancy-constant rule ([[Similarity.autoNlist]]), so a 100×
    * corpus gets 100× the cells and nprobe/nlist pruning stays a
    * constant fraction instead of degrading to 4/16. The s08/s17
    * oracle replays the same integer rule in SQL.
    */
  private def resolveNlist(nlist: Int, n: Long): Int =
    if (nlist > 0) nlist else Similarity.autoNlist(n)

  /** The power-iteration depth of the drift baseline's PCA axis —
    * MUST match the s13/s22 oracle generators' unrolled count (a
    * mismatch hash-fails the s22 oracle loudly).
    */
  private[graft] val DriftPcaIters = 4

  /** Bootstrap: train the coarse quantizer and residual codebooks on
    * `embeddings` ([[Similarity.ivfPqIndex]] — ONE definition with the
    * in-query s08) and write the full store. Overwrites any previous
    * store at `store` (tombstones included — a rebuild starts clean);
    * meta lands last.
    *
    * A small clean corpus is trained on the driver from one bounded
    * collect, and the drift statistics, audit row and PCA axis come
    * from the same rows ([[localStats]]); any other corpus runs the
    * distributed trainer and statistics. Both write identical rows
    * with identical schemas and file counts (spec-pinned).
    */
  def init(embeddings: DataFrame, store: String, nlist: Int = 0,
           m: Int = 8, ksub: Int = 16, dim: Int = 64, iters: Int = 1,
           coarseIters: Int = 2): Unit =
    init(embeddings, store, nlist, m, ksub, dim, iters, coarseIters,
      Similarity.LitAssignMaxBytes)

  /** [[init]] with the driver-training cap as a parameter: 0 forces
    * the distributed trainer, `Long.MaxValue` admits any clean corpus.
    */
  private[graft] def init(embeddings: DataFrame, store: String,
                          nlist: Int, m: Int, ksub: Int, dim: Int,
                          iters: Int, coarseIters: Int,
                          driverMaxBytes: Long): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = prep(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (n, s, es) = fingerprint(e)
      val nl = resolveNlist(nlist, n)
      val ix = Similarity.ivfPqIndex(e, nl, m, ksub, dim, iters,
        coarseIters, n, driverMaxBytes)
      ix.centroids.write.mode("overwrite").parquet(s"$store/centroids")
      ix.codebooks.write.mode("overwrite").parquet(s"$store/codebooks")
      ix.codes.write.mode("overwrite").parquet(s"$store/codes")
      Compactor.fs(spark, store)
        .delete(new org.apache.hadoop.fs.Path(s"$store/tombstones"), true)
      // drift stats epoch 0: the init corpus's exact decimal sums —
      // [[update]] appends one batch per admitted delta, and
      // [[driftReportFromStats]] folds them instead of rescanning.
      // Then the drift baseline (the [[driftReport]] reference): the
      // s15 audit row, and the per-dim 6-grid means + s13 PCA axis as
      // d KB-scale rows — what a scheduled-retrain advisory compares
      // the serving corpus against. Written BEFORE meta: a readable
      // meta implies a complete baseline.
      val withEmb = e.select(col("vec_id"), col("emb").as("embedding"))
      val (drift, audit, pm) = ix.corpus match {
        case Some(c) => localStats(spark, withEmb, c, dim)
        case None => (driftStatsOf(e, "init"),
          Similarity.embeddingAudit(withEmb),
          Pca.pcaModel(withEmb, iters = DriftPcaIters))
      }
      drift.coalesce(1).write.mode("overwrite")
        .parquet(s"$store/driftstats")
      audit.coalesce(1).write.mode("overwrite")
        .parquet(s"$store/baseline/audit")
      pm.mu.indices.map(i => (i, pm.mu(i), pm.v(i)))
        .toDF("i", "mu", "v")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$store/baseline/axis")
      Seq((nl, m, ksub, dim, iters, coarseIters, n, s, es))
        .toDF("nlist", "m", "ksub", "dim", "iters", "coarse_iters",
          "n_rows", "id_sum", "emb_sum")
        .coalesce(1).write.mode("overwrite").parquet(s"$store/meta")
    } finally e.unpersist()
  }

  /** [[init]]'s statistics from a driver-held clean corpus, as local
    * relations with the distributed forms' schemas — each value the
    * engine's, bit for bit:
    *
    *  - drift-stats dims rows: per-dim Σ decimal(38,18)(xᵢ) and the
    *    row count ([[Pca.addDec18]]);
    *  - the per-vector nsq = Σ decimal(xᵢ²) cast to double, shared by
    *    the drift-stats `i = -1` row (Σ decimal(round₆ √nsq), count)
    *    and the s15 audit row (zero-norm count, min/max/avg norm);
    *    clean input has no non-finite component and no empty vector;
    *  - the PCA axis: [[Pca.modelFromStats]] over the dims rows (the
    *    same Σ decimal(xᵢ) and count [[Pca.dimSums]] aggregates) and
    *    the moment totals of [[Pca.momentPartials]] — the fold body
    *    [[Pca.rawMoments]] runs per partition.
    */
  private def localStats(spark: SparkSession, withEmb: DataFrame,
                         c: Similarity.DriverCorpus, dim: Int): (DataFrame, DataFrame, Pca.PcaModel) = {
    import scala.jdk.CollectionConverters._
    val rows = c.rows
    val n = rows.length.toLong
    val d = localDrift(rows.map(_._2), dim)
    val drift = spark.createDataFrame(d.rows("init").asJava,
      DriftStatsWritten)
    val auditRow = Row(n, dim, true, d.norms.count(_ == 0.0).toLong, 0L,
      Similarity.localRound(d.norms.min, 6) + 0.0d,
      Similarity.localRound(d.norms.max, 6) + 0.0d,
      Similarity.localRound(d.normSx.doubleValue / n.toDouble, 6) + 0.0d)
    val audit = spark.createDataFrame(Seq(auditRow).asJava,
      Similarity.embeddingAudit(withEmb).schema)
    val moments = Pca.momentPartials(rows.iterator.map(_._2.toSeq))
      .map { case (i, j, s) => (i, j) -> s.get }.toMap
    val pm = Pca.modelFromStats(
      (0 until dim).map(i => i -> (d.sx(i), n)).toMap, moments,
      DriftPcaIters)
    (drift, audit, pm)
  }

  /** [[driftStatsOf]] folded on the driver over clean vectors (each
    * `dim` long, finite, within [[Similarity.decimalSumsFit]]): the
    * per-dim Σ decimal(38,18)(xᵢ) ([[Pca.addDec18]]), each vector's
    * norm √(Σ decimal(xᵢ²) cast to double), and Σ decimal(round₆ norm).
    */
  private final case class LocalDrift(sx: IndexedSeq[java.math.BigDecimal],
                                      norms: IndexedSeq[Double],
                                      normSx: java.math.BigDecimal) {
    /** The rows [[driftStatsOf]] appends under `key`; `negate` gives
      * the reconciling [[delete]]'s negative rows.
      */
    def rows(key: String, negate: Boolean = false): Seq[Row] = {
      val n = norms.length.toLong
      def row(i: Int, s: java.math.BigDecimal) =
        if (negate) Row(key, i, s.negate, -n) else Row(key, i, s, n)
      sx.indices.map(i => row(i, sx(i))) :+ row(-1, normSx)
    }
  }

  private def localDrift(vectors: Seq[Array[Double]], dim: Int): LocalDrift = {
    val sx = Array.fill(dim)(java.math.BigDecimal.ZERO)
    val norms = vectors.map { x =>
      var nsq = java.math.BigDecimal.ZERO
      var i = 0
      while (i < dim) {
        sx(i) = Pca.addDec18(sx(i), x(i))
        nsq = Pca.addDec18(nsq, x(i) * x(i))
        i += 1
      }
      math.sqrt(nsq.doubleValue)
    }.toIndexedSeq
    LocalDrift(sx.toIndexedSeq, norms,
      norms.foldLeft(java.math.BigDecimal.ZERO)((acc, r) =>
        Pca.addDec18(acc, Similarity.localRound(r, 6))))
  }

  /** Clean (vec_id, emb) rows of a collected prepped frame — no null
    * id, vector or component, no NaN or ±Inf — as arrays; None for any
    * other input, which the distributed path handles (and names).
    */
  private def cleanRows(rows: Seq[Row]): Option[IndexedSeq[(Long, Array[Double])]] =
    Some(rows).filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1) &&
      r.getSeq[Any](1).forall(x => x != null &&
        java.lang.Double.isFinite(x.asInstanceOf[Double]))))
      .map(_.iterator.map(r =>
        (r.getLong(0), r.getSeq[Double](1).toArray)).toIndexedSeq)

  /** `rows` with exact duplicates dropped, as `distinct()` drops them:
    * −0.0 and 0.0 group together.
    */
  private def distinctRows(rows: IndexedSeq[(Long, Array[Double])])
      : IndexedSeq[(Long, Array[Double])] =
    rows.distinctBy { case (id, x) =>
      (id, x.toSeq.map(v => if (v == 0.0) 0.0 else v)) }

  /** ATOMIC rebuild: retrain + re-encode into a STAGED sibling
    * (`<store>__rebuild_tmp`), then publish via the checked-rename
    * swap ([[graft.engine.Compactor.swapInto]]) — the action a
    * tripped drift advisory (s22/s23) takes without ever exposing a
    * half-built store: a reader at ANY point during the retrain
    * serves the OLD model (spec-pinned via the beforeSwap hook), the
    * swap is all-or-nothing (two renames, rollback on failure), and a
    * crash between them restores from `__old` on the next read
    * ([[exists]]' recovery). Contrast [[init]], which deletes in
    * place — correct for bootstrap, unsafe under live readers.
    * Tombstones clear with the rebuild (the re-init semantics:
    * takedowns are honored by excluding the rows from `embeddings`).
    *
    * Writer contract: ONE rebuilder per store path at a time, in the
    * process that owns the store (readers are free). In-process,
    * [[graft.engine.Compactor.swapLock]] serializes the swap against
    * every concurrent read's crash recovery; across processes nothing
    * can — a second JVM recovering mid-swap would rename `__old` back
    * and abort the live rebuild.
    */
  def rebuild(embeddings: DataFrame, store: String, nlist: Int = 0,
              m: Int = 8, ksub: Int = 16, dim: Int = 64, iters: Int = 1,
              coarseIters: Int = 2): Unit =
    rebuild(embeddings, store, nlist, m, ksub, dim, iters, coarseIters,
      () => ())

  private[graft] def rebuild(embeddings: DataFrame, store: String,
                             nlist: Int, m: Int, ksub: Int, dim: Int,
                             iters: Int, coarseIters: Int,
                             beforeSwap: () => Unit): Unit = {
    val spark = embeddings.sparkSession
    require(exists(spark, store),
      s"no vector index store at $store to rebuild (run init first)")
    val tmp = store + "__rebuild_tmp"
    val tf = Compactor.fs(spark, tmp)
    // the writer lease spans the WHOLE retrain (r14): a second
    // process double-launching this rebuild refuses at entry instead
    // of racing the stage/swap — StoreLease's takeover rules apply
    graft.engine.StoreLease.withLease(tf, store) {
      // a crashed rebuild's stage is garbage
      tf.delete(new org.apache.hadoop.fs.Path(tmp), true)
      init(embeddings, tmp, nlist, m, ksub, dim, iters, coarseIters)
      beforeSwap()
      graft.engine.Compactor.swapInto(tf, store, tmp)
    }
  }

  /** Init unless a complete store already matches this corpus and
    * these knobs — the idempotent form contract queries and the CLI
    * use (a re-run serves from the store; a regenerated OR re-embedded
    * corpus, a knob change, or an unreadable/half-committed meta
    * rebuilds). Returns true when it (re)built.
    */
  def initIfStale(embeddings: DataFrame, store: String, nlist: Int = 0,
                  m: Int = 8, ksub: Int = 16, dim: Int = 64,
                  iters: Int = 1, coarseIters: Int = 2): Boolean = {
    val spark = embeddings.sparkSession
    // an unreadable meta (crash between the directory create and the
    // parquet footer commit) must read as STALE, not throw — the
    // "meta lands last so a crash mid-init rebuilds" contract
    val fresh = exists(spark, store) && scala.util.Try {
      val meta = readMeta(spark, store)
      val (n, s, es) = fingerprint(prep(embeddings))
      // a pre-baseline or pre-driftstats store (older layouts) must
      // rebuild so the drift advisory has its reference and its
      // incrementally-maintained serving-corpus statistics
      has(spark, s"$store/baseline/axis") && has(spark, s"$store/driftstats") &&
        meta == IndexMeta(resolveNlist(nlist, n), m, ksub, dim, iters,
          coarseIters, n, s, es)
    }.getOrElse(false)
    if (!fresh)
      init(embeddings, store, nlist, m, ksub, dim, iters, coarseIters)
    !fresh
  }

  /** The frozen model, collected: centroids sorted by id and the
    * (sub, cell) → subvector codebook map — KB-to-MB scale by the
    * store contract (the pqCodebook collect discipline), held between
    * calls while it fits the driver ([[modelRows]]).
    */
  private def readModel(spark: SparkSession, store: String,
                        meta: IndexMeta)
      : (Array[(Long, Array[Double])], Map[(Int, Long), Array[Double]]) = {
    val (centRows, cbRows) = modelRows(spark, store, meta)
    val centroids = centRows.toArray
      .map(r => (r.getAs[Long]("coarse_id"),
        r.getAs[Seq[Double]]("c_emb").toArray))
      .sortBy(_._1)
    require(centroids.nonEmpty, s"empty centroid table at $store")
    val model = cbRows
      .map(r => (r.getAs[Int]("sub"), r.getAs[Long]("cell")) ->
        r.getAs[Seq[Double]]("c_sv").toArray)
      .toMap
    (centroids, model)
  }

  /** The in-row encode of a prepped (vec_id, emb) frame under the
    * frozen stored model, as a closure-based mapPartitions: the model
    * ships once per executor in the task closure (TorrentBroadcast),
    * so the plan carries no model literals whatever the model's size.
    * Each row runs [[Similarity.encodeRow]] — the kernel the
    * driver-built index shares: the [[graft.functions.CosineSimilarity]]
    * and [[graft.functions.L2Squared]] loops verbatim, Spark's `round`
    * ([[Similarity.localRound]] — NaN and ±Inf pass through) and the
    * engine's double ordering with the (coarse_id / cell) tiebreaks. A
    * null vector or null component enters as NaN, which ties every
    * candidate exactly as the expression form's NULL cosines and
    * distances do, so both pick the smallest id. The specs pin it code
    * for code, dirty rows included, against init's distributed encode
    * and the literal-expression twin in the test tree.
    */
  private def encodeClosure(b: DataFrame, meta: IndexMeta,
      centroids: Array[(Long, Array[Double])],
      model: Map[(Int, Long), Array[Double]]): DataFrame = {
    val spark = b.sparkSession
    import spark.implicits._
    val dim = meta.dim
    val dsub = dim / meta.m
    val cells = modelCells(meta, model)
    b.select(col("vec_id"), col("emb"))
      .mapPartitions { it =>
        it.flatMap { r =>
          val id = if (r.isNullAt(0)) None else Some(r.getLong(0))
          // update admits only dim-long or null vectors
          val x =
            if (r.isNullAt(1)) Array.fill(dim)(Double.NaN)
            else r.getSeq[Any](1).iterator.map(v =>
              if (v == null) Double.NaN else v.asInstanceOf[Double]).toArray
          val (cid, codes) = Similarity.encodeRow(x, centroids, cells, dsub)
          codes.indices.iterator.map(s => (id, s, codes(s), cid))
        }
      }.toDF("vec_id", "sub", "cell", "coarse_id")
  }

  /** The codebook as per-subspace cell arrays, each sorted by cell id
    * (the argmin tiebreak) — [[Similarity.encodeRow]]'s `cells`.
    */
  private def modelCells(meta: IndexMeta,
                         model: Map[(Int, Long), Array[Double]])
      : Array[Array[(Long, Array[Double])]] = {
    val cells = Array.tabulate(meta.m)(s => model.collect {
      case ((`s`, cell), c_sv) => (cell, c_sv)
    }.toArray.sortBy(_._1))
    cells.zipWithIndex.foreach { case (cs, s) =>
      require(cs.nonEmpty, s"codebook has no cells for subspace $s") }
    cells
  }

  /** [[update]]'s encode of `batch` under the store's frozen model. */
  private[graft] def encodeForStore(spark: SparkSession, store: String,
                                    batch: DataFrame): DataFrame = {
    val (meta, centroids, model) = frozenModel(spark, store)
    encodeClosure(prep(batch), meta, centroids, model)
  }

  /** The store's meta and frozen model ([[readModel]]). */
  private[graft] def frozenModel(spark: SparkSession, store: String)
      : (IndexMeta, Array[(Long, Array[Double])],
        Map[(Int, Long), Array[Double]]) = {
    val meta = readMeta(spark, store)
    val (centroids, model) = readModel(spark, store, meta)
    (meta, centroids, model)
  }

  /** Append one batch of new vectors under the FROZEN stored model —
    * the index-maintenance narrow map ([[encodeClosure]]): no
    * explode over the corpus, no retrain — scan speed on a 100 TB
    * delta, and unchanged on a `readStream` batch. Contract guards:
    *
    *  - the batch must carry exactly `meta.dim`-dimensional vectors —
    *    a mismatched delta would slice wrong and encode garbage codes
    *    SILENTLY, so it fails loudly instead;
    *  - ids are immutable: the batch anti-joins the ids already coded
    *    (and the tombstoned ones — a deleted id stays deleted until a
    *    re-init), so an at-least-once replay appends NOTHING and a
    *    re-presented id with a CHANGED embedding cannot plant a second
    *    divergent code set (whose ADC terms would double-count and
    *    whose first(qc) would go nondeterministic). Re-embedding an
    *    existing id is a model-drift event — re-init handles it.
    *
    * A batch of at most [[DriverFold.cap]] clean rows is folded on
    * the driver ([[updateLocal]]): one bounded read of the batch, the
    * id gate from the held tombstones plus one pushed `vec_id IN` codes
    * probe, and both appends written by the driver — a warm update of a
    * local batch runs one Spark job, the probe. Any other batch takes
    * the distributed path, whose anti-join survivor set is materialized
    * (eager localCheckpoint, delta-sized) BEFORE the append begins, so
    * the store is never read and written by the same job. Both paths
    * write the same rows, schemas and file counts (spec-pinned).
    */
  def update(batch: DataFrame, store: String): Unit = {
    val spark = batch.sparkSession
    val (meta, centroids, model) = frozenModel(spark, store)
    if (!updateLocal(batch, store, meta, centroids, model))
      updateDistributed(batch, store, meta, centroids, model)
  }

  /** [[update]] on the driver, op for op [[updateDistributed]]: the
    * batch distinct ([[distinctRows]]) and its dimension check with the
    * same error, the id gate, the content key, the drift statistics
    * ([[localDrift]]) and the codes ([[Similarity.encodeRow]], as
    * [[encodeClosure]] runs it), appended by the driver in the same
    * order. Returns false, having written nothing, for a batch past the
    * cap or not clean ([[cleanRows]]: the distributed path names a NaN
    * or ±Inf), an id carrying two vectors, sums that could overflow,
    * tombstones too many to hold, or a probe past the cap. The codes
    * it builds are `m` rows per admitted vector.
    */
  private def updateLocal(batch: DataFrame, store: String, meta: IndexMeta,
                          centroids: Array[(Long, Array[Double])],
                          model: Map[(Int, Long), Array[Double]]): Boolean = {
    val spark = batch.sparkSession
    val cap = DriverFold.cap
    val b0 = DriverFold.collect(prep(batch), cap)
      .flatMap(rows => cleanRows(rows.toSeq)).map(distinctRows)
      .getOrElse(return false)
    if (b0.isEmpty) return true // empty batch: nothing to encode
    val sizes = b0.map(_._2.length)
    checkDims(store, meta, sizes.min, sizes.max)
    val mx = b0.iterator.flatMap(_._2.iterator.map(math.abs)).max
    if (b0.map(_._1).distinct.length != b0.length ||
      !Similarity.decimalSumsFit(b0.length, meta.dim, mx)) return false
    val dead = tombLog(store).held(spark).map(FactLog.ids)
      .getOrElse(return false)
    // every coded vector has one sub-0 code row per append, so the
    // probe reads at most one row per already-coded batch id
    val coded = DriverFold.collect(
        codesLog(store).scan(spark)
          .filter(DriverFold.isIn(col("vec_id"), b0.map(_._1)) &&
            col("sub") === 0)
          .select(col("vec_id")).coalesce(1), cap)
      .getOrElse(return false)
      .iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet
    val fresh = b0.filterNot { case (id, _) => dead(id) || coded(id) }
    if (fresh.isEmpty) return true
    val ids = fresh.map(_._1)
    val idSum = scala.util.Try(ids.foldLeft(0L)(Math.addExact))
      .getOrElse(return false) // the engine's sum raises on overflow
    val batchKey = s"b${ids.length}_${idSum}_${ids.min}"
    val cells = modelCells(meta, model)
    val codes = fresh.flatMap { case (id, x) =>
      val (cid, cs) = Similarity.encodeRow(x, centroids, cells,
        meta.dim / meta.m)
      cs.indices.map(s => Row(id, s, cs(s), cid))
    }
    driftLog(store).append(spark,
      localDrift(fresh.map(_._2), meta.dim).rows(batchKey))
    codesLog(store).append(spark, codes)
    true
  }

  private def checkDims(store: String, meta: IndexMeta, mn: Int,
                        mx: Int): Unit =
    require(mn == meta.dim && mx == meta.dim,
      s"update batch carries $mn..$mx-dim " +
        s"embeddings where the store at $store is trained on " +
        s"${meta.dim}-dim vectors (re-init to change the model)")

  /** [[update]] as Spark jobs, for any batch. */
  private def updateDistributed(batch: DataFrame, store: String,
      meta: IndexMeta, centroids: Array[(Long, Array[Double])],
      model: Map[(Int, Long), Array[Double]]): Unit = {
    val spark = batch.sparkSession
    val b0 = prep(batch).distinct()
    val dims = b0.agg(min(size(col("emb"))).as("mn"),
      max(size(col("emb"))).as("mx")).collect()(0)
    if (dims.isNullAt(0)) return // empty batch: nothing to encode
    checkDims(store, meta, dims.getInt(0), dims.getInt(1))
    val known = codesLog(store).scan(spark)
      .select(col("vec_id")).distinct()
      .unionByName(tombLog(store).scan(spark).select(col("vec_id")))
    val fresh = b0.join(known, Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    if (fresh.isEmpty) return
    // drift stats land BEFORE the codes: a crash between the two
    // leaves the batch's ids un-coded, so the replay re-admits them
    // and re-appends BYTE-IDENTICAL stats under the same content-
    // derived key — the read-side distinct folds the duplicate.
    // (Codes-first would lose the stats forever: the replay's
    // anti-join sees the ids as known and admits nothing.) The key
    // is unique across batches by construction: batches are id-
    // disjoint (the anti-join), so min(vec_id) alone separates them.
    // CONTRACT: a crashed update must be retried with the IDENTICAL
    // batch — the semantics Structured Streaming's foreachBatch
    // recovery provides by construction (same epoch replays the same
    // batch). A DIVERGENT retry whose batch overlaps the crashed one
    // admits the overlap again under a different key and the folded
    // stats double-count it; [[reconcileDriftStats]] is the repair
    // (one corpus scan, checked-rename swap) for non-streaming
    // callers that cannot replay identically.
    val kr = fresh.agg(count(lit(1)), sum(col("vec_id")),
      min(col("vec_id"))).collect()(0)
    val batchKey = s"b${kr.getLong(0)}_${kr.getLong(1)}_${kr.getLong(2)}"
    driftStatsOf(fresh, batchKey)
      .coalesce(1).write.mode("append").parquet(s"$store/driftstats")
    encodeClosure(fresh, meta, centroids, model)
      .write.mode("append").parquet(s"$store/codes")
  }

  /** Per-batch EXACT drift statistics of a prepped (vec_id, emb)
    * frame — the incremental form of the aggregates [[driftReport]]
    * scans the corpus for, written so folding per-batch rows
    * reproduces the corpus-scan values BIT FOR BIT (exact
    * DECIMAL(38,18) sums are associative; the lossy cast-to-double /
    * divide / round-6 steps all happen at READ time in
    * [[driftReportFromStats]], never here):
    *
    *  - rows `i >= 0`: per-dimension Σ decimal(xᵢ) and the exploded
    *    row count at that dimension (the curMu accounting — a NULL
    *    embedding contributes to neither, exactly as posexplode
    *    drops it);
    *  - row `i = -1`: Σ decimal(round₆‖x‖) over the batch's vectors
    *    and the VECTOR count including NULL/empty embeddings — the
    *    [[Similarity.embeddingAudit]] pv accounting (non-finite
    *    components contribute 0 to the norm, a missing embedding is
    *    a zero-norm row), so the folded avg reproduces `avg_norm`.
    *
    * A NaN or ±Inf component has no decimal sum: the batch fails with
    * [[finiteOr]]'s error, raised from the norm row's aggregate.
    */
  private def driftStatsOf(e: DataFrame, batchKey: String): DataFrame = {
    val bad = nonFinite(col("x"))
    val dims = e
      .select(posexplode(col("emb")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(sum(when(!bad, col("x")).cast("decimal(38,18)")).as("sx"),
        count(lit(1)).as("cnt"))
    val nsq = e
      .select(col("vec_id"), posexplode(col("emb")).as(Seq("i", "x")))
      .groupBy(col("vec_id"))
      .agg(sum(when(bad, lit(0.0d)).otherwise(col("x") * col("x"))
        .cast("decimal(38,18)")).cast("double").as("nsq"),
        max(bad).as("bad"))
    val norms = e.select(col("vec_id"))
      .join(nsq, Seq("vec_id"), "left_outer")
      .agg(sum(round(sqrt(coalesce(col("nsq"), lit(0.0d))), 6)
          .cast("decimal(38,18)")).as("sx"), count(lit(1)).as("cnt"),
        min(when(col("bad"), col("vec_id"))).as("bad_id"))
      .select(lit(-1).as("i"), finiteOr(col("bad_id"), col("sx")).as("sx"),
        col("cnt"))
    dims.unionByName(norms)
      .select(lit(batchKey).as("batch_key"), col("i"),
        col("sx"), col("cnt"))
  }

  /** Rebuild the driftstats table from the SUPPLIED serving corpus —
    * the repair for the one window the content-keyed idempotence
    * cannot cover: a crash inside [[update]]'s stats→codes window
    * followed by a retry with a DIFFERENT-but-overlapping batch (or a
    * vectors-free [[delete]] whose subtraction never happened)
    * permanently double-counts the overlap in the folded stats. One
    * corpus scan writes the exact decimal statistics of `corpus` as a
    * single reconcile batch and swaps it into place as a fact-log
    * rewrite ([[graft.engine.FactLog.rewrite]] — crash-safe, never
    * leaves the table missing), under the store's writer lease. After
    * it, [[driftReportFromStats]]
    * equals the corpus-scan report over `corpus` bit for bit again
    * (spec-pinned), and subsequent [[update]] batches fold on top as
    * usual. The `r…` key prefix cannot collide with the `b…`/`d…`
    * update/delete keys.
    */
  def reconcileDriftStats(spark: SparkSession, store: String,
                          corpus: DataFrame): Unit = {
    requireStore(spark, store)
    val e = prep(corpus)
    val kr = e.agg(count(lit(1)), coalesce(sum(col("vec_id")), lit(0L)),
      coalesce(min(col("vec_id")), lit(0L))).collect()(0)
    val key = s"r${kr.getLong(0)}_${kr.getLong(1)}_${kr.getLong(2)}"
    // the i = -2 bookkeeping row: every tombstone existing at
    // reconcile time is now fully accounted (the supplied corpus IS
    // the survivors), so [[unreconciledTombstones]] stops counting
    // them; the report reads only i >= -1, so the row is invisible
    // to the drift arithmetic
    val covered = tombLog(store).scan(spark)
      .select(col("vec_id")).distinct().count()
    val mark = spark.range(1).select(lit(key).as("batch_key"),
      lit(-2).as("i"), lit(null).cast("decimal(38,18)").as("sx"),
      lit(covered).as("cnt"))
    graft.engine.StoreLease.withLease(Compactor.fs(spark, store), store) {
      driftLog(store).rewrite(spark) { (tmp, _) =>
        driftStatsOf(e, key).unionByName(mark)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
      }
    }
  }

  /** Tombstoned ids whose drift statistics were never subtracted —
    * the count a stats-fed drift report must CAVEAT: the vectors-free
    * [[delete]] appends tombstones without reconciling the stats (the
    * deleted rows' values aren't in hand), so [[driftReportFromStats]]
    * keeps describing the APPENDED corpus while queries serve the
    * survivors. Distinct tombstone ids, minus the vectors subtracted
    * by `d…`-keyed negative batches, minus the tombstones a
    * [[reconcileDriftStats]] marked covered (its i = -2 row) — all
    * KB-scale reads; clamped at zero.
    */
  def unreconciledTombstones(spark: SparkSession, store: String): Long = {
    requireStore(spark, store)
    val nTomb = tombLog(store).scan(spark)
      .select(col("vec_id")).distinct().count()
    val accounted = driftLog(store).scan(spark).distinct()
      .filter((col("i") === -1 && col("cnt") < 0 &&
          col("batch_key").startsWith("d")) ||
        (col("i") === -2 && col("batch_key").startsWith("r")))
      .agg(coalesce(sum(abs(col("cnt"))), lit(0L)))
      .collect()(0).getLong(0)
    math.max(0L, nTomb - accounted)
  }

  /** Delete vectors from the store — the takedown path an append-only
    * store otherwise lacks: appends (vec_id, deleted_at) tombstone
    * FACTS (at-least-once replays append duplicate facts, harmless —
    * every consumer anti-joins on vec_id only), every read path
    * ([[query]], [[reconstruct]], [[diversifiedQuery]]) filters them
    * out immediately, and [[compact]] later drops the dead code rows
    * physically. A tombstoned id also never re-enters via [[update]]
    * (id immutability); only a re-[[init]] resurrects it.
    */
  def delete(spark: SparkSession, store: String,
             vecIds: Seq[Long]): Unit = {
    requireStore(spark, store)
    require(vecIds.nonEmpty, "delete needs at least one vec_id")
    val now = System.currentTimeMillis()
    tombLog(store).append(spark, vecIds.distinct.map(Row(_, now)))
  }

  /** [[delete]] WITH drift-stats reconciliation — the takedown form
    * to use when the caller has the deleted vectors in hand (a
    * takedown request names the document): alongside the tombstones,
    * it appends the EXACT NEGATIVE of the deleted rows' drift
    * statistics, so [[driftReportFromStats]] keeps matching the
    * corpus-scan report over the SURVIVORS bit for bit (exact decimal
    * sums subtract as exactly as they add — spec-pinned). Contract
    * guards, mirroring [[update]]'s:
    *
    *  - already-tombstoned ids are skipped (gated against the held
    *    tombstones), so an at-least-once replay subtracts NOTHING
    *    twice;
    *  - the supplied frame must cover every newly-deleted id (a
    *    missing vector would silently leave the stats over-counting
    *    — it fails loudly instead) at the store's trained dimension;
    *  - the negative stats land BEFORE the tombstones: a crash
    *    between the two replays to byte-identical rows under the
    *    same content-derived key, folded at read — tombstones-first
    *    would skip the replay's subtraction forever.
    *
    * Up to [[DriverFold.cap]] ids of clean vectors, the vectors
    * are read once and the statistics folded and written by the
    * driver ([[localDrift]]); otherwise by Spark jobs. Without the
    * vectors, the base [[delete]] applies and the stats keep counting
    * the appended corpus (documented there).
    */
  def delete(spark: SparkSession, store: String, vecIds: Seq[Long],
             vectors: DataFrame): Unit = {
    requireStore(spark, store)
    require(vecIds.nonEmpty, "delete needs at least one vec_id")
    import spark.implicits._
    val meta = readMeta(spark, store)
    val fresh = (tombLog(store).held(spark).map(FactLog.ids) match {
      case Some(dead) => vecIds.distinct.filterNot(dead).toArray
      case None => vecIds.distinct.toDF("vec_id")
        .join(tombLog(store).scan(spark).select(col("vec_id")),
          Seq("vec_id"), "left_anti")
        .collect().map(_.getLong(0)) // takedown-list-sized
    }).sorted
    if (fresh.isEmpty) return // full replay: already tombstoned
    val key = s"d${fresh.length}_${fresh.sum}_${fresh.head}"
    def missing(nd: Long) = s"${fresh.length - nd} of the ids to delete " +
      s"are missing from the supplied vectors frame — stats would " +
      "over-count the survivors (supply the full rows, or use the " +
      "vectors-free delete and accept append-only stats)"
    def wrongDim(mn: Int, mx: Int) = s"supplied vectors carry $mn..$mx" +
      s"-dim embeddings where the store at $store is trained on " +
      s"${meta.dim}-dim vectors"
    val cap = DriverFold.cap
    val inHand = prep(vectors).filter(DriverFold.isIn(col("vec_id"), fresh))
    val local = (if (fresh.length > cap) None
      else DriverFold.collect(inHand, cap))
      .flatMap(rows => cleanRows(rows.toSeq)).map(distinctRows)
    val localStats = local.flatMap { rows =>
      require(rows.length == fresh.length, missing(rows.length))
      val sizes = rows.map(_._2.length)
      require(sizes.min == meta.dim && sizes.max == meta.dim,
        wrongDim(sizes.min, sizes.max))
      val mx = rows.iterator.flatMap(_._2.iterator.map(math.abs)).max
      if (!Similarity.decimalSumsFit(rows.length, meta.dim, mx)) None
      else Some(localDrift(rows.map(_._2), meta.dim).rows(key, negate = true))
    }
    localStats match {
      case Some(stats) => driftLog(store).append(spark, stats)
      case None =>
        val rows = inHand.distinct()
        val dims = rows.agg(count(lit(1)).as("nd"),
          min(size(col("emb"))).as("mn"),
          max(size(col("emb"))).as("mx")).collect()(0)
        require(dims.getLong(0) == fresh.length, missing(dims.getLong(0)))
        require(dims.getInt(1) == meta.dim && dims.getInt(2) == meta.dim,
          wrongDim(dims.getInt(1), dims.getInt(2)))
        driftStatsOf(rows, key)
          .select(col("batch_key"), col("i"),
            (-col("sx")).cast("decimal(38,18)").as("sx"),
            (-col("cnt")).as("cnt"))
          .coalesce(1).write.mode("append").parquet(s"$store/driftstats")
    }
    val now = System.currentTimeMillis()
    tombLog(store).append(spark, fresh.toSeq.map(Row(_, now)))
  }

  final case class CompactReport(codeRowsBefore: Long, codeRowsAfter: Long,
                                 filesBefore: Int, filesAfter: Int)

  /** Physically compact the codes store: rewrite it as the live
    * (folded, tombstone-free) row set in few sized files, a fact-log
    * rewrite ([[graft.engine.FactLog.rewrite]] — crash-safe, never
    * leaves the store missing). Query results are unchanged BY CONSTRUCTION
    * (reads already fold + anti-join; spec-pinned anyway); what
    * changes is the physics — N streaming drains' small append files
    * and replay duplicates stop accumulating. Tombstones stay in
    * place (they are cheap facts and still gate [[update]]); only
    * re-[[init]] clears them. The staging dirs a crashed driver append
    * left under `_staging/` are removed.
    */
  def compact(spark: SparkSession, store: String,
              targetBytes: Long = 512L << 20): CompactReport = {
    requireStore(spark, store)
    // leased on the STORE root (not the codes subdir), so a compact
    // and a rebuild of the same store exclude each other cross-process
    graft.engine.StoreLease.withLease(Compactor.fs(spark, store), store) {
      val codes = codesLog(store)
      val (rowsBefore, filesBefore) = codes.footprint(spark)
      codes.rewrite(spark, targetBytes) { (tmp, n) =>
        codes.live(spark, tombLog(store)).coalesce(n)
          .write.mode("overwrite").parquet(tmp)
      }
      val (rowsAfter, filesAfter) = codes.footprint(spark)
      CompactReport(rowsBefore, rowsAfter, filesBefore, filesAfter)
    }
  }

  /** Store-vs-corpus drift report — the SIGNAL behind "the frozen
    * model retrains on a schedule": one row comparing the serving
    * corpus against the baseline recorded at [[init]] (s15's audit +
    * s13's PCA axis, composed):
    *
    *  - `n_ratio` — corpus growth (REPORTED, not a staleness trigger:
    *    same-distribution growth is a capacity question [[initIfStale]]
    *    already answers; drift is a DISTRIBUTION question);
    *  - `norm_ratio` — avg L2 norm now / at init (both the round-6
    *    audit statistic) — catches re-scaled or degenerating encoders;
    *  - `mean_shift` — round-6 L2 distance between the per-dim 6-grid
    *    mean vectors — the bulk translation of the embedding cloud;
    *  - `axis_shift` — the mean delta PROJECTED ON THE BASELINE's
    *    top principal axis — where the variance concentrates, a small
    *    translation matters most along it;
    *  - `stale` — the [[initIfStale]]-style advisory: true when
    *    mean_shift > tolMean, |axis_shift| > tolAxis, or norm_ratio
    *    leaves [1−tolNorm, 1+tolNorm].
    *
    * All arithmetic is the engine-portable kind (decimal sums, 6-grid
    * rounds, fixed-order IEEE ops), so the whole report — including
    * the boolean — replays in SQL (oracle-checked, s22). Cost: one
    * narrow explode + two aggregations over the corpus; the baseline
    * is d KB-scale rows broadcast.
    */
  def driftReport(spark: SparkSession, store: String, corpus: DataFrame,
                  tolMean: Double = 0.01, tolAxis: Double = 0.005,
                  tolNorm: Double = 0.02): DataFrame = {
    requireStore(spark, store)
    val e = prep(corpus)
    val curAudit = Similarity.embeddingAudit(corpus)
      .select(col("n_vectors").as("n_current"),
        col("avg_norm").as("norm_current"))
    val curMu = e.select(posexplode(col("emb")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(round(sum(col("x").cast("decimal(38,18)")).cast("double") /
        count(lit(1)), 6).as("m"))
    driftTail(spark, store, curAudit, curMu, tolMean, tolAxis, tolNorm)
  }

  /** The drift report fed from the store's OWN incrementally-
    * maintained statistics ([[driftStatsOf]] rows appended by
    * [[init]] and every admitted [[update]] batch) — the serving
    * corpus is never rescanned: the report reads the baseline (d
    * KB-scale rows) and the driftstats table (d+1 rows per batch),
    * folds the exact decimal sums, and applies the IDENTICAL
    * cast/divide/round-6 tail as [[driftReport]], so on the same
    * served rows the two reports are equal BIT FOR BIT (spec-pinned;
    * oracle-checked, s23). At-least-once stats replays are
    * byte-identical under their content-derived batch key and fold
    * via distinct. Takedowns: the vectors-supplied [[delete]]
    * overload appends the deleted rows' exact NEGATIVE stats, so the
    * report keeps matching the SURVIVING corpus; the vectors-free
    * delete leaves the stats counting the appended corpus (same
    * bookkeeping as `n_rows` in meta — a takedown-heavy store
    * re-inits). Cost: independent of corpus size — this is the
    * advisory a scheduler can afford to run every drain at 100 TB.
    */
  def driftReportFromStats(spark: SparkSession, store: String,
                           tolMean: Double = 0.01,
                           tolAxis: Double = 0.005,
                           tolNorm: Double = 0.02): DataFrame = {
    requireStore(spark, store)
    require(has(spark, s"$store/driftstats"),
      s"store at $store predates drift stats — re-init to record them")
    val folded = driftLog(store).scan(spark)
      .distinct() // byte-identical at-least-once replays fold
      .groupBy(col("i"))
      .agg(sum(col("sx")).as("sx"), sum(col("cnt")).as("cnt"))
    // a store whose reconciled stats cover no vectors (everything
    // deleted) has no serving corpus to report on — fail loudly
    // rather than emit a divide-by-zero row (KB-scale eager check)
    val nRow = folded.filter(col("i") === -1).collect()
    require(nRow.nonEmpty && nRow(0).getAs[Long]("cnt") > 0,
      s"drift stats at $store cover no vectors — re-init the store")
    val curAudit = folded.filter(col("i") === -1)
      .select(col("cnt").as("n_current"),
        (round(col("sx").cast("double") / col("cnt"), 6) + lit(0.0d))
          .as("norm_current"))
    val curMu = folded.filter(col("i") >= 0)
      .select(col("i"),
        round(col("sx").cast("double") / col("cnt"), 6).as("m"))
    driftTail(spark, store, curAudit, curMu, tolMean, tolAxis, tolNorm)
  }

  /** The advisory boolean from the stats-fed report — the form a
    * per-drain scheduler calls (cost independent of corpus size).
    */
  def reindexAdvisedFromStats(spark: SparkSession, store: String,
                              tolMean: Double = 0.01,
                              tolAxis: Double = 0.005,
                              tolNorm: Double = 0.02): Boolean =
    driftReportFromStats(spark, store, tolMean, tolAxis, tolNorm)
      .collect()(0).getAs[Boolean]("stale")

  /** The shared report tail: baseline vs a current-corpus audit row
    * and 6-grid mean vector, however those were obtained (corpus scan
    * or folded stats) — ONE definition so the two report forms cannot
    * drift.
    */
  private def driftTail(spark: SparkSession, store: String,
                        curAudit: DataFrame, curMu: DataFrame,
                        tolMean: Double, tolAxis: Double,
                        tolNorm: Double): DataFrame = {
    require(has(spark, s"$store/baseline/axis"),
      s"store at $store predates drift baselines — re-init to record one")
    val baseAudit = spark.read.parquet(s"$store/baseline/audit")
      .select(col("n_vectors").as("n_base"),
        col("avg_norm").as("norm_base"))
    val axis = spark.read.parquet(s"$store/baseline/axis")
    val shifts = curMu.join(broadcast(axis), "i")
      .select((col("m") - col("mu")).as("dd"), col("v"))
      .agg(
        round(sqrt(sum((col("dd") * col("dd")).cast("decimal(38,18)"))
          .cast("double")), 6).as("mean_shift"),
        round(sum((col("dd") * col("v")).cast("decimal(38,18)"))
          .cast("double"), 6).as("axis_shift"))
    baseAudit.crossJoin(curAudit).crossJoin(shifts)
      .withColumn("n_ratio",
        round(col("n_current").cast("double") / col("n_base"), 6))
      .withColumn("norm_ratio",
        round(when(col("norm_base") === 0.0, lit(0.0))
          .otherwise(col("norm_current") / col("norm_base")), 6))
      .select(col("n_base"), col("n_current"), col("n_ratio"),
        col("norm_ratio"), col("mean_shift"), col("axis_shift"),
        (col("mean_shift") > lit(tolMean) ||
          abs(col("axis_shift")) > lit(tolAxis) ||
          abs(col("norm_ratio") - lit(1.0d)) > lit(tolNorm)).as("stale"))
  }

  /** The advisory as a boolean — compose with a scheduler: re-[[init]]
    * (and re-drain) when true.
    */
  def reindexAdvised(spark: SparkSession, store: String,
                     corpus: DataFrame, tolMean: Double = 0.01,
                     tolAxis: Double = 0.005,
                     tolNorm: Double = 0.02): Boolean =
    driftReport(spark, store, corpus, tolMean, tolAxis, tolNorm)
      .collect()(0).getAs[Boolean]("stale")

  /** PQ-reconstruct the stored approximation of selected vectors —
    * coarse centroid + the concatenation of each subspace's codebook
    * cell (the standard PQ decode): (vec_id, emb) with emb the
    * ~3%-of-float approximation every PQ serving stack reasons over
    * when the originals are too big to fetch. The vec_id list is
    * collected-KB by contract (a candidate pool), so the codes scan
    * prunes on vec_id (PushedFilters) and the codebook/centroid joins
    * broadcast — corpus never read, work proportional to |vecIds|·m.
    * A model that fits the driver broadcasts from its held snapshot.
    */
  def reconstruct(spark: SparkSession, store: String,
                  vecIds: Seq[Long]): DataFrame = {
    val meta = readMeta(spark, store)
    val (cents, cb1) =
      if (modelFitsDriver(meta)) {
        import scala.jdk.CollectionConverters._
        val (centRows, cbRows) = modelRows(spark, store, meta)
        (spark.createDataFrame(centRows.asJava, CentroidsSchema),
          spark.createDataFrame(cbRows.asJava, CodebooksSchema))
      } else (
        storeDir(store, "centroids", CentroidsSchema, CentroidsSchema)
          .scan(spark),
        storeDir(store, "codebooks", CodebooksSchema, CodebooksSchema)
          .scan(spark))
    val codes = codesLog(store).live(spark, tombLog(store))
      .filter(col("vec_id").isin(vecIds: _*))
    codes.join(broadcast(cb1), Seq("sub", "cell"))
      .groupBy(col("vec_id"))
      .agg(first(col("coarse_id")).as("coarse_id"),
        flatten(transform(
          array_sort(collect_list(struct(col("sub"), col("c_sv")))),
          s => s.getField("c_sv"))).as("remb"))
      .join(broadcast(cents), Seq("coarse_id"))
      .select(col("vec_id"),
        zip_with(col("c_emb"), col("remb"), _ + _).as("emb"))
  }

  /** [[reconstruct]] folded on the driver over collected live codes
    * rows (each vector's rows, as [[liveCodeRows]] gives them) and the
    * held model rows: the (sub, cell) inner join to the codebook
    * (null keys never match), the per-vector concatenation of the
    * matched subvectors in `sub` order — null when any of them is null,
    * as `flatten` gives — the inner join to the centroids on the
    * vector's coarse_id, and `zip_with(c_emb, remb, _ + _)`, which
    * null-pads the shorter side. Returns each vector's reconstructions
    * (one per matching centroid row; a vector with no codebook or
    * centroid match has none).
    *
    * None where [[reconstruct]]'s answer would depend on row order:
    * a vector whose matched rows carry two coarse ids (`first`) or two
    * rows for one subspace (the `array_sort` tie on sub). [[update]]'s
    * id gate codes every vector once, so a store never holds either.
    */
  private def reconstructLocal(rows: Seq[CodeRow], centRows: Seq[Row],
                               cbRows: Seq[Row])
      : Option[Map[Long, Seq[Seq[Any]]]] = {
    val cb = cbRows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .groupBy(r => (r.getInt(0), r.getLong(1)))
    val cents = centRows.filter(!_.isNullAt(0)).groupBy(_.getLong(0))
    val perVec = rows.collect { case CodeRow(Some(v), Some(sub), Some(cell), cid) =>
        cb.getOrElse((sub, cell), Nil).map(c => (v, sub, cid, optSeq(c, 2)))
      }.flatten.groupBy(_._1)
    val out = Map.newBuilder[Long, Seq[Seq[Any]]]
    for ((v, matched) <- perVec) {
      if (matched.map(_._3).distinct.size > 1 ||
          matched.map(_._2).distinct.size < matched.size) return None
      val subs = matched.sortBy(_._2).map(_._4)
      val remb: Seq[Any] =
        if (subs.contains(null)) null else subs.flatten
      val embs = matched.head._3.toSeq.flatMap(cents.getOrElse(_, Nil))
        .map { c =>
          val cEmb = optSeq(c, 1)
          if (cEmb == null || remb == null) null
          else Seq.tabulate(math.max(cEmb.length, remb.length)) { i =>
            val (x, y) = (cEmb.lift(i).orNull, remb.lift(i).orNull)
            if (x == null || y == null) null
            else x.asInstanceOf[Double] + y.asInstanceOf[Double]
          }
        }
      if (embs.nonEmpty) out += v -> embs
    }
    Some(out.result())
  }

  /** Diversified retrieval ENTIRELY from the store — the production
    * MMR shape when the float corpus is not on the serving path: the
    * candidate pool is [[query]]'s cell-pruned top-`poolSize` (rel =
    * the rounded-4 IVF-PQ score), candidate embeddings are the PQ
    * [[reconstruct]]ions, and the greedy is
    * [[Similarity.mmrRerank]] UNCHANGED (the reranker-accepts-any-pool
    * contract, third pool family after s14's exact and s18's LSH).
    * Oracle-checked (s19): pool ranking, reconstruction arithmetic
    * and every greedy round replay in SQL.
    *
    * Execution: one Spark job when the ranking folds on the driver
    * ([[query]]'s valves): the probed cells' codes are read once, the
    * pool ranks from them ([[Similarity.ivfPqRankLocal]]) and the pool's
    * vectors reconstruct from the same rows and the held model
    * ([[reconstructLocal]]); the greedy is the driver fold it always
    * was. Past a valve the distributed ranking and [[reconstruct]] run,
    * each collected under the fold cap.
    */
  def diversifiedQuery(spark: SparkSession, store: String,
                       queries: DataFrame, k: Int, poolSize: Int = 12,
                       lambda: Double = 0.7,
                       nprobe: Int = 4): DataFrame = {
    require(poolSize >= k, s"pool ($poolSize) must cover k ($k)")
    val cap = DriverFold.cap
    val plan = rankPlan(spark, store, queries, nprobe)
    val local = for {
      l <- plan.local
      read <- DriverFold.collect(plan.codes.coalesce(1), cap)
      live = liveCodeRows(read, l.dead)
      ranked <- l.rank(live, poolSize)
    } yield (ranked, live)
    val pool0 = local match {
      case Some((ranked, _)) =>
        ranked.map(t => (Some(t._1), Some(t._2), t._3))
      case None =>
        DriverFold.collectOrFail(plan.distributed(poolSize), cap,
            "diversifiedQuery pool").toIndexedSeq
          .map(r => (optLong(r, 0), optLong(r, 1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    }
    val ids = pool0.flatMap(_._2).distinct
    val idSet = ids.toSet
    val embById = local.flatMap { case (_, live) =>
        val (centRows, cbRows) = modelRows(spark, store, plan.meta)
        reconstructLocal(live.filter(_.vecId.exists(idSet)), centRows,
          cbRows)
      }.getOrElse {
        DriverFold.collectOrFail(reconstruct(spark, store, ids), cap,
            "diversifiedQuery reconstruction").toIndexedSeq
          .map(r => (optLong(r, 0), optSeq(r, 1)))
          .collect { case (Some(id), emb) => id -> emb }
          .groupBy(_._1).map { case (key, v) => key -> v.map(_._2) }
      }
    val pool = for {
      (qid, vid, rel) <- pool0
      emb <- vid.toSeq.flatMap(embById.getOrElse(_, Nil))
    } yield (qid, vid, emb, rel)
    Similarity.mmrRerank(localPoolDf(spark, pool), k, lambda)
  }

  /** A collected (query_id, vec_id, emb, rel) pool as a LOCAL
    * relation — the zero-job input [[Similarity.mmrRerank]]'s
    * one-collect fold consumes.
    */
  private def localPoolDf(spark: SparkSession,
      pool: Seq[(Option[Long], Option[Long], Seq[Any], Option[Double])])
      : DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      pool.map(t => org.apache.spark.sql.Row(
        t._1.orNull, t._2.orNull, t._3, t._4.orNull)).asJava,
      StructType(Seq(
        StructField("query_id", LongType),
        StructField("vec_id", LongType),
        StructField("emb", ArrayType(DoubleType)),
        StructField("rel", DoubleType))))
  }

  /** Two-stage retrieval — the standard PQ serving tail: the store's
    * ADC ranking nominates the top-`rerank` candidates per query
    * ([[query]] — cell-pruned, corpus never scanned), then ONLY those
    * candidates' ORIGINAL vectors are fetched from the corpus parquet
    * by a pushed vec_id filter (spec-pinned PushedFilters — the fetch
    * reads |Q|·rerank rows' worth of row groups, not the corpus) and
    * re-ranked by exact rounded-4 cosine with the family's vec_id
    * tiebreak. The discipline s04 proves in-query (quantized
    * candidates → exact re-rank of survivors), composed over the
    * persisted store: ADC compression error affects only WHICH
    * candidates are nominated, never their final order. With `rerank`
    * covering the corpus and `nprobe` covering the cells this
    * degenerates to the exact ranking (spec-pinned, the s04
    * contract). Oracle-checked (s20): the s08 candidate chain + the
    * exact re-rank CTE replay end-to-end.
    *
    * The candidates, the fetched originals and the query vectors are
    * each collected under the fold cap ([[DriverFold.cap]]) and the
    * re-rank folds on the driver ([[Similarity.exactRerankLocal]], the
    * one definition the hybrid dense legs share); the tail has no
    * distributed form, so a frame past the cap fails with
    * [[graft.plans.FoldCapExceeded]].
    */
  def queryRerank(spark: SparkSession, store: String, corpus: DataFrame,
                  queries: DataFrame, k: Int, rerank: Int = 8,
                  nprobe: Int = 4): DataFrame = {
    require(rerank >= k,
      s"rerank pool ($rerank) must cover k ($k)")
    val cap = DriverFold.cap
    val candRows = DriverFold.collectOrFail(
        query(spark, store, queries, rerank, nprobe), cap,
        "queryRerank candidates").toIndexedSeq
      .map(r => (optLong(r, 0), optLong(r, 1)))
    val ids = candRows.flatMap(_._2).distinct
    val fetchedRows = DriverFold.collectOrFail(
        prep(corpus).filter(col("vec_id").isin(ids: _*)), cap,
        "queryRerank fetch").toIndexedSeq
      .map(r => (optLong(r, 0), optSeq(r, 1)))
    val qRows = DriverFold.collectOrFail(
        prep(queries).select(col("vec_id").as("query_id"), col("emb")), cap,
        "queryRerank queries").toIndexedSeq
      .map(r => (optLong(r, 0), optSeq(r, 1)))
    val ranked = Similarity.exactRerankLocal(candRows, fetchedRows,
      qRows, k)
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      ranked.map(t => org.apache.spark.sql.Row(
        t._1.orNull, t._2.orNull, t._3.orNull, t._4)).asJava,
      StructType(Seq(
        StructField("query_id", LongType),
        StructField("neighbor_id", LongType),
        StructField("sim", DoubleType),
        StructField("rank", IntegerType, nullable = false))))
  }

  /** TWO-STAGE diversified retrieval — [[queryRerank]]'s discipline
    * applied to [[diversifiedQuery]]: the persisted index nominates
    * the top-`poolSize` ADC candidates per probe (cell-pruned, the
    * corpus never scanned for nomination), then ONLY those
    * candidates' ORIGINAL vectors are fetched from the corpus
    * parquet by a pushed vec_id filter, relevance recomputes as the
    * exact rounded-4 cosine, and the greedy MMR selection
    * ([[Similarity.mmrRerank]], unchanged) runs over the originals —
    * so PQ compression error affects only WHICH candidates enter the
    * pool, never the relevance/diversity trade that picks among
    * them. Completes the serving matrix: ranked approx ([[query]]) /
    * ranked exact-tail ([[queryRerank]]) / diversified approx
    * ([[diversifiedQuery]]) / diversified exact-tail (this).
    * Oracle-checked (s24): the s08 candidate chain, the pool cut,
    * the exact relevance join and every greedy round replay
    * end-to-end.
    *
    * The pool build (cands ⋈ originals ⋈ q, rel = round-4 exact
    * cosine, NO cut — the greedy sees the whole nomination) folds on
    * the driver over the three frames, each collected under the fold
    * cap; past it the call fails with [[graft.plans.FoldCapExceeded]].
    */
  def diversifiedQueryRerank(spark: SparkSession, store: String,
                             corpus: DataFrame, queries: DataFrame,
                             k: Int, poolSize: Int = 12,
                             lambda: Double = 0.7,
                             nprobe: Int = 4): DataFrame = {
    require(poolSize >= k, s"pool ($poolSize) must cover k ($k)")
    val cap = DriverFold.cap
    val candRows = DriverFold.collectOrFail(
        query(spark, store, queries, poolSize, nprobe), cap,
        "diversifiedQueryRerank candidates").toIndexedSeq
      .map(r => (optLong(r, 0), optLong(r, 1)))
    val ids = candRows.flatMap(_._2).distinct
    def byId(rows: Array[Row]): Map[Long, Seq[Seq[Any]]] =
      rows.toIndexedSeq.map(r => (optLong(r, 0), optSeq(r, 1)))
        .collect { case (Some(id), emb) => id -> emb }
        .groupBy(_._1).map { case (key, v) => key -> v.map(_._2) }
    val embById = byId(DriverFold.collectOrFail(
      prep(corpus).filter(col("vec_id").isin(ids: _*)), cap,
      "diversifiedQueryRerank fetch"))
    val qById = byId(DriverFold.collectOrFail(
      prep(queries).select(col("vec_id").as("query_id"), col("emb")), cap,
      "diversifiedQueryRerank queries"))
    val pool = for {
      (qid, vid) <- candRows
      emb <- vid.toSeq.flatMap(embById.getOrElse(_, Nil))
      qEmb <- qid.toSeq.flatMap(qById.getOrElse(_, Nil))
    } yield (qid, vid, emb,
      Similarity.localCosine(emb, qEmb)
        .map(Similarity.localRound(_, 4)))
    Similarity.mmrRerank(localPoolDf(spark, pool), k, lambda)
  }

  /** [[query]]'s output: [[Similarity.ivfPqRank]]'s exact schema, whose
    * query_id is as nullable as the request's vec_id.
    */
  private def rankSchema(qidNullable: Boolean): StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("query_id", LongType, qidNullable),
      StructField("neighbor_id", LongType),
      StructField("approx_ip", DoubleType),
      StructField("rank", IntegerType, nullable = false)))
  }

  /** A collected codes row (vec_id, sub, cell, coarse_id). */
  private final case class CodeRow(vecId: Option[Long], sub: Option[Int],
                                   cell: Option[Long], coarseId: Option[Long])

  /** The live codes of a raw codes read: replayed appends folded
    * (distinct) and tombstoned ids removed — the codes log's
    * [[graft.engine.FactLog.live]] on collected
    * rows (a null id is never tombstoned).
    */
  private def liveCodeRows(read: Array[Row], dead: Set[Long]): Seq[CodeRow] =
    read.iterator.map(r => CodeRow(optLong(r, 0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)), optLong(r, 2),
        optLong(r, 3)))
      .filterNot(_.vecId.exists(dead)).toSeq.distinct

  /** The driver side of one call's ranking: the folded probe and
    * distance tables and the tombstoned ids.
    */
  private final case class LocalRank(
      probes: Seq[(Option[Long], Option[Long], Option[Double])],
      dtable: Seq[(Option[Long], Int, Long, Option[Double])],
      dead: Set[Long]) {
    def rank(live: Seq[CodeRow], k: Int)
        : Option[Seq[(Long, Long, Option[Double], Int)]] =
      Similarity.ivfPqRankLocal(
        live.map(c => (c.vecId, c.sub, c.cell, c.coarseId)), probes, dtable, k)
  }

  /** One call's cell-pruned ranking, planned: the probed cells' raw
    * codes scan (coarse_id IN pushed into it), the driver side of the
    * fold when the model, the request and the tombstones fit the
    * driver, and the [[Similarity.ivfPqRank]] plan for a given k.
    */
  private final class RankPlan(val meta: IndexMeta, val qidNullable: Boolean,
                               val codes: DataFrame,
                               val local: Option[LocalRank],
                               val distributed: Int => DataFrame)

  private def rankPlan(spark: SparkSession, store: String,
                       queries: DataFrame, nprobe: Int): RankPlan = {
    val meta = readMeta(spark, store)
    val q = prep(queries)
      .select(col("vec_id").as("query_id"), col("emb"))
    // the probe table (|Q|·nprobe rows) and the ADC distance table
    // (|Q|·m·ksub rows) are KB by contract: fold them on the driver
    // over the collected query table and the held centroid/codebook
    // snapshots when the model fits the literal valve
    // ([[modelFitsDriver]] — sized from META; a 100 TB autoNlist model
    // keeps the distributed form) and the request is serving-sized —
    // the fold materializes |Q|·m·ksub distance-table rows, so |Q| is
    // capped to keep that within the fold cap. Arithmetic is
    // replicated op for op in [[Similarity.ivfPqProbesLocal]] /
    // [[Similarity.ivfPqDtableLocal]] (spec-pinned against the
    // expression forms).
    val dsub = meta.dim / meta.m
    val qidNullable = q.schema("query_id").nullable
    val qRows: Option[IndexedSeq[(Option[Long], Seq[Any])]] =
      if (!modelFitsDriver(meta)) None
      else DriverFold.collect(q, DriverFold.cap / (meta.m * meta.ksub))
        .map(_.toIndexedSeq.map(r => (optLong(r, 0), optSeq(r, 1))))
    def inCells(cells: Seq[Long]): Column = col("coarse_id").isin(cells: _*)
    def rank(cells: Seq[Long], probes: DataFrame, dtable: DataFrame)(
        k: Int): DataFrame =
      Similarity.ivfPqRank(
        codesLog(store).live(spark, tombLog(store)).filter(inCells(cells)),
        probes, dtable, k)
    qRows match {
      case Some(rows) =>
        // declared (coarse_id, c_emb) and (sub, cell, c_sv) rows
        val (centRows, cbRows) = modelRows(spark, store, meta)
        val cents = centRows.map(r => (optLong(r, 0), optSeq(r, 1)))
        val cb = cbRows
          .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
          .map(r => (r.getInt(0), r.getLong(1), optSeq(r, 2)))
        val pl = Similarity.ivfPqProbesLocal(rows, cents, nprobe)
        val dl = Similarity.ivfPqDtableLocal(rows, cb, meta.m, dsub)
        import scala.jdk.CollectionConverters._
        import org.apache.spark.sql.types._
        // query_id keeps the request's nullability, as the
        // distributed probe and distance tables do
        val qid = StructField("query_id", LongType, qidNullable)
        val pDf = spark.createDataFrame(
          pl.map(t => Row(t._1.orNull, t._2.orNull, t._3.orNull)).asJava,
          StructType(Seq(qid, StructField("coarse_id", LongType),
            StructField("qc", DoubleType))))
        val dDf = spark.createDataFrame(
          dl.map(t => Row(t._1.orNull, t._2, t._3, t._4.orNull)).asJava,
          StructType(Seq(qid,
            StructField("sub", IntegerType, nullable = false),
            StructField("cell", LongType, nullable = false),
            StructField("pd", DoubleType))))
        val cells = pl.flatMap(_._2).distinct
        new RankPlan(meta, qidNullable,
          codesLog(store).scan(spark).filter(inCells(cells)),
          tombLog(store).held(spark).map(d => LocalRank(pl, dl, FactLog.ids(d))),
          rank(cells, pDf, dDf))
      case None =>
        val centroids =
          storeDir(store, "centroids", CentroidsSchema, CentroidsSchema)
            .scan(spark)
        val cb1 = storeDir(store, "codebooks", CodebooksSchema,
          CodebooksSchema).scan(spark)
        // coalesce(1): |Q|·nprobe rows by construction (KB at any
        // scale) — single-partition checkpoint keeps the collect and
        // the rank join's probe side 1-task (guide §2.2)
        val probes = Similarity.ivfPqProbes(q, centroids, nprobe)
          .coalesce(1)
          .localCheckpoint(true) // consumed twice: collect + rank join
        val cells = probes.select(col("coarse_id")).distinct()
          .collect().map(_.getLong(0)).toIndexedSeq
        new RankPlan(meta, qidNullable,
          codesLog(store).scan(spark).filter(inCells(cells)), None,
          rank(cells, probes, Similarity.ivfPqDtable(q, cb1, meta.m, dsub)))
    }
  }

  /** Rank from the store WITHOUT touching the corpus: probes rank the
    * KB centroid table, the probed cell ids push into the codes scan as
    * PushedFilters, replayed appends fold via distinct, tombstoned
    * ids anti-join out, and the scoring is [[Similarity.ivfPqRank]]'s.
    * Identical rankings to [[Similarity.ivfPqTopK]] over the same
    * corpus and knobs (spec-pinned; s17's oracle replays s08's SQL).
    *
    * Execution: when the model fits the driver, the request is
    * serving-sized and the tombstones are held, the frame is a
    * [[graft.plans.DriverFold]]: building it runs no Spark job, and
    * collecting it runs ONE — the probed cells' codes read with
    * `limit(cap + 1)` — then ranks on the driver with
    * [[Similarity.ivfPqRankLocal]], op for op the distributed rank.
    * Past the cap ([[DriverFold.cap]] codes rows) the same
    * collect runs the distributed [[Similarity.ivfPqRank]] plan
    * instead. Past any other valve the frame is that plan.
    */
  def query(spark: SparkSession, store: String, queries: DataFrame,
            k: Int, nprobe: Int = 4): DataFrame = {
    val plan = rankPlan(spark, store, queries, nprobe)
    plan.local match {
      case Some(l) =>
        DriverFold.frame(plan.codes.coalesce(1),
            rankSchema(plan.qidNullable),
            "ivfPqRankLocal", DriverFold.cap) { read =>
          l.rank(liveCodeRows(read.toArray, l.dead), k).map(_.map(t =>
            Row(t._1, t._2, t._3.orNull, t._4)))
        }(plan.distributed(k))
      case None => plan.distributed(k)
    }
  }
}
