package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic top-principal-component extraction and projection
  * over the embedding corpus [EXT] — the dimensionality-reduction /
  * whitening step of an embedding-curation pipeline (visualisation,
  * cheap pre-clustering, drift monitoring along the dominant
  * direction; SemDeDup-style pipelines run exactly this before
  * clustering very high-dimensional spaces).
  *
  * The reference has no linear-algebra surface at all (its analytics
  * stop at the catalog plane, `mysql.rb:12-363`); this is a
  * from-scratch [EXT] operator in the repo's portable-arithmetic
  * style, so the WHOLE run — mean, covariance, every power-iteration
  * step — replays in the DuckDB oracle (the s05/x35 discipline):
  *
  *  - sufficient statistics, not passes: training reads the corpus
  *    exactly twice — per-dimension DECIMAL(38,18) sums (+ counts)
  *    for the mean, and RAW second moments S = Σ x·xᵀ where each
  *    product rounds onto the 1e-6 grid and sums as a plain LONG
  *    (order-free EXACT integer addition, replayed verbatim in SQL —
  *    and ~4× the throughput of a decimal buffer). Both statistics
  *    are EXACTLY MERGEABLE, which is what lets the streaming twin
  *    ([[graft.streaming.StreamingPca]]) grow them drain by drain and
  *    still derive the bit-identical model;
  *  - mean: decimal-sum → double division → 6-grid round;
  *  - covariance by the moment identity C = S/1e6 − n·μμᵀ, every step
  *    an exact or correctly-rounded double op on 6-grid inputs (the
  *    classic cancellation caveat applies when |μ| dwarfs the spread —
  *    embedding corpora are near-centered; pre-shift first if yours
  *    is not);
  *  - power iteration from v₀ = 1⃗ with INFINITY-norm normalisation:
  *    w = C·v (decimal sums, 6-grid), v ← round(w / max|wᵢ|, 6).
  *    The ∞-norm is the portability choice: max and |·| are exact,
  *    and the division's denominator is one of the wᵢ themselves, so
  *    the dominant component lands on EXACTLY ±1.0 — no sqrt-of-sum
  *    whose last ulp an engine could disagree on;
  *  - sign canonicalisation: the lowest-indexed component with
  *    |vᵢ| = 1 is made positive (eigenvectors are defined up to sign;
  *    this pins one representative, replayable as a CASE in SQL).
  *
  * EAGER (the pqTrainOn discipline): training collects the
  * per-dimension sums (d rows) and the moment grid (d(d+1)/2 longs) —
  * KB-scale BY CONSTRUCTION for embedding-sized d. The power
  * iterations then FOLD DRIVER-SIDE over that grid (r11 — they used
  * to run as per-step Spark jobs, whose scheduling overhead dominated
  * s13/s16): the fold reproduces the engine casts exactly
  * ([[componentsOf]] — BigDecimal.valueOf + HALF_UP scale-18 IS
  * Spark's double→decimal cast), pinned by the four training-replay
  * oracles (s13/s16/s22/s23).
  *
  * At 100 TB: the two statistics jobs are the only corpus-sized work —
  * narrow posexplode passes whose hash aggregations are d-/d²-bounded
  * per partition, so the shuffles move (#partitions · d²) rows, never
  * the corpus. The moment sum stays inside a LONG for any
  * n·max|xᵢxⱼ| < 9·10¹²; beyond that a corpus would subsample for C
  * anyway (standard practice — likewise for very large d, where the
  * per-row d² term blow-up dominates). The oracle-checked projection
  * shuffles one partial per vector ([[pcaScore]]) and the deployment
  * scorer is a zero-shuffle narrow map ([[pcaScoreMap]]) that runs
  * unchanged on a stream.
  */
object Pca {

  /** The trained component: per-dimension mean and the ∞-norm-unit
    * principal direction (sign-canonicalised), both on the 6-grid.
    */
  final case class PcaModel(mu: Array[Double], v: Array[Double])

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val Dec = "decimal(38,18)"

  private def prep(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("emb"))

  /** Per-dimension first-moment statistics: (i, msum, n) — exact
    * decimal sums, exactly mergeable across batches by re-summing.
    */
  private[graft] def dimSums(e: DataFrame): DataFrame =
    e.select(posexplode(col("emb")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(sum(col("x").cast(Dec)).as("msum"),
        count(lit(1)).as("n"))

  /** Raw second moments, lower triangle only: (i, j ≤ i, s) with
    * s = Σ round(xᵢ·xⱼ·1e6) as a LONG — the 1e-6-quantized product
    * grid (the established HALF_UP round contract; integer sums are
    * order-free exact and exactly mergeable). Quantizing the RAW
    * product (not the centered one) is what makes the statistic
    * incremental: it never depends on the final mean.
    *
    * Accumulated PER PARTITION into d(d+1)/2 longs (r15, guide §2.3
    * "aggregate before you shuffle"): the former double-posexplode
    * emitted n·d²/2 rows (2080 per vector at d=64) through a corpus-
    * scale hash aggregate + exchange, where the partition fold emits
    * ONE partial triangle per task and the final (i, j) re-sum runs
    * over partitions·d²/2 rows. The per-element arithmetic is the
    * engine's exactly: Round's double path (BigDecimal HALF_UP —
    * [[Similarity.localRound]], the pinned replica), then the ANSI
    * double→long cast (NaN / out-of-range fails loudly, as the cast
    * did); a null element contributes nothing but its (i, j) group
    * still exists (SQL sum-over-nulls semantics), so a pair whose
    * every product is null stays a null-sum row. The output contract
    * is unchanged — ONE total row per (i, j) per call — which the
    * streaming store's keyed-distinct replay fold relies on
    * ([[updateStats]]). Long-sum overflow throws (ANSI), as the
    * aggregate's partial sums did.
    */
  private[graft] def rawMoments(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select(col("emb"))
      .mapPartitions(rows => momentPartials(
        rows.map(r => if (r.isNullAt(0)) null else r.getSeq[Any](0))))
      .toDF("i", "j", "s")
      .groupBy(col("i"), col("j"))
      .agg(sum(col("s")).as("s"))
  }

  /** [[rawMoments]]' per-partition fold over one partition's
    * embeddings (a null entry is a NULL embedding): the (i, j ≤ i,
    * s) partial triangle, s None where every product of the pair was
    * null. Over a whole corpus in one call it yields the TOTALS — the
    * driver-built vector store ([[VectorIndex.init]]) takes its PCA
    * moments from here, so the two paths share one body.
    */
  private[graft] def momentPartials(embs: Iterator[Seq[Any]])
      : Iterator[(Int, Int, Option[Long])] = {
    var sums = new Array[Long](0)
    var defined = new Array[Boolean](0) // any non-null product
    var exists = new Array[Boolean](0)  // pair exploded at all
    var maxLen = 0
    def grow(len: Int): Unit = if (len > maxLen) {
      val k = len * (len + 1) / 2
      sums = java.util.Arrays.copyOf(sums, k)
      defined = java.util.Arrays.copyOf(defined, k)
      exists = java.util.Arrays.copyOf(exists, k)
      maxLen = len
    }
    embs.foreach { emb =>
      if (emb != null) {
        grow(emb.length)
        var i = 0
        while (i < emb.length) {
          val base = i * (i + 1) / 2
          val a = emb(i)
          var j = 0
          while (j <= i) {
            val b = emb(j)
            exists(base + j) = true
            if (a != null && b != null) {
              val p = Similarity.localRound(
                a.asInstanceOf[Double] * b.asInstanceOf[Double] * 1e6, 0)
              if (p.isNaN || p < Long.MinValue.toDouble ||
                  p > Long.MaxValue.toDouble)
                throw new ArithmeticException(
                  s"casting $p to bigint causes overflow (ANSI)")
              sums(base + j) = Math.addExact(sums(base + j), p.toLong)
              defined(base + j) = true
            }
            j += 1
          }
          i += 1
        }
      }
    }
    for {
      i <- (0 until maxLen).iterator
      j <- 0 to i
      k = i * (i + 1) / 2 + j
      if exists(k)
    } yield (i, j, if (defined(k)) Some(sums(k)) else None)
  }

  /** The engine's `sum(x.cast("decimal(38,18)"))` step on the driver:
    * double → DECIMAL(38,18) is java.math.BigDecimal.valueOf
    * (canonical shortest representation) + setScale(18, HALF_UP), the
    * cast Spark executes; a non-finite value casts to NULL and a
    * decimal SUM skips NULLs, so it contributes ZERO — and so does
    * |x| ≥ 1e20, where DECIMAL(38,18)'s 20 integer digits OVERFLOW the
    * cast to NULL in the engine while an unlimited-precision setScale
    * would happily keep the value.
    */
  private[graft] def addDec18(acc: java.math.BigDecimal,
                              x: Double): java.math.BigDecimal =
    if (!java.lang.Double.isFinite(x) || math.abs(x) >= 1e20) acc
    else acc.add(java.math.BigDecimal.valueOf(x)
      .setScale(18, java.math.RoundingMode.HALF_UP))

  /** Derive the component from FOLDED statistics — the one
    * definition shared by the batch trainer and the streaming
    * store ([[graft.streaming.StreamingPca.modelFromStore]]), so the
    * two cannot drift: mean, moment-identity covariance, `iters`
    * ∞-norm power iterations over a KB-scale local relation, sign
    * canon. Degenerate input (zero covariance — a constant corpus)
    * keeps the all-ones start vector: no direction is better than
    * another, and every projection is 0 (spec-pinned).
    */
  private[graft] def modelFromStats(
      sums: Map[Int, (java.math.BigDecimal, Long)],
      moments: Map[(Int, Int), Long],
      iters: Int): PcaModel = {
    val (mu, comps) = componentsFromStats(sums, moments, 1, iters)
    PcaModel(mu, comps.head)
  }

  /** [[modelFromStats]] generalised to the top `nComponents`
    * directions (power iteration + deflation, [[componentsOf]]).
    */
  private[graft] def componentsFromStats(
      sums: Map[Int, (java.math.BigDecimal, Long)],
      moments: Map[(Int, Int), Long],
      nComponents: Int,
      iters: Int): (Array[Double], Seq[Array[Double]]) = {
    require(iters >= 1, s"power iteration needs at least 1 step, got $iters")
    require(nComponents >= 1, s"need at least 1 component, got $nComponents")
    require(sums.nonEmpty, "cannot fit PCA on an empty corpus")
    val dim = sums.size
    require(sums.keySet == (0 until dim).toSet,
      s"dimension domain is not contiguous 0..${dim - 1}")
    val ns = sums.values.map(_._2).toSet
    require(ns.size == 1,
      s"ragged embedding dimensions: per-dim counts $ns differ")
    val n = ns.head
    // mean: decimal→double cast, double division, 6-grid (the same
    // value Spark's round(sum(dec).cast(double)/count, 6) computes)
    val mu = Array.tabulate(dim)(i =>
      round6(sums(i)._1.doubleValue / n))
    // covariance via the moment identity, mirrored from the lower
    // triangle (products commute exactly)
    val covLocal = moments.toSeq.flatMap { case ((i, j), s) =>
      val c = round6(s.toDouble / 1e6 - n.toDouble * (mu(i) * mu(j)))
      if (i == j) Seq((i, j, c)) else Seq((i, j, c), (j, i, c))
    }
    (mu, componentsOf(dim, covLocal, nComponents, iters))
  }


  /** The top `nComponents` directions of a covariance grid by power
    * iteration + Hotelling deflation — a PURE DRIVER FOLD over the
    * KB-scale grid (d²·iters multiply-adds: the grid is d² rows by
    * construction, so at ANY corpus scale the corpus-sized work is
    * the statistics pass, and iterating here costs arithmetic, not
    * per-iteration job scheduling). Every operation reproduces the
    * engine arithmetic the oracles replay, EXACTLY:
    *
    *  - double → DECIMAL(38,18) is java.math.BigDecimal.valueOf
    *    (canonical shortest representation) + setScale(18, HALF_UP) —
    *    the cast Spark executes (`Decimal.apply(Double)` routes
    *    through the same valueOf), and the one DuckDB agrees with on
    *    every value this fold produces — proven by the four green
    *    training-replay oracles (s13/s16/s22/s23): any drift in this
    *    arithmetic hash-fails all four;
    *  - sums are exact BigDecimal adds (order-free, associative);
    *  - decimal → double is BigDecimal.doubleValue (correctly
    *    rounded — `Decimal.toDouble` verbatim);
    *  - round-6 is the HALF_UP grid Spark's `round` executes
    *    ([[round6]]).
    *
    * Deflation: C' = round6(C − f·(vᵢvⱼ)) with f = round6(vᵀCv /
    * (vᵀv)²) — the λ/(vᵀv) projector scale for the ∞-norm (non-unit)
    * v. Degenerate zero matvec keeps the previous iterate (the
    * spec-pinned constant-corpus branch).
    */
  private[graft] def componentsOf(dim: Int,
                                  covLocal: Seq[(Int, Int, Double)],
                                  nComponents: Int,
                                  iters: Int): Seq[Array[Double]] = {
    // the engine cast: double → DECIMAL(38,18) ([[addDec18]])
    var grid = covLocal
    val comps = Seq.newBuilder[Array[Double]]
    for (c <- 1 to nComponents) {
      var v = Array.fill(dim)(1.0d)
      var it = 0
      var degenerate = false
      while (it < iters && !degenerate) {
        // matvec: w_i = round6(Σ_j dec18(m_ij · v_j)) — a grid row
        // set missing a whole i leaves w_i at 0.0, exactly as the
        // grouped aggregation left unseen keys at the array default
        val acc = Array.fill(dim)(java.math.BigDecimal.ZERO)
        grid.foreach { case (i, j, m) =>
          acc(i) = addDec18(acc(i), m * v(j)) }
        val w = Array.tabulate(dim)(i => round6(acc(i).doubleValue))
        val mx = w.map(math.abs).max
        if (mx == 0.0d) degenerate = true
        else {
          var i = 0
          while (i < dim) { v(i) = round6(w(i) / mx); i += 1 }
        }
        it += 1
      }
      // sign canon: lowest-indexed dominant component positive
      // (|v_j| = 1.0 EXACTLY — it is w_argmax / w_argmax rounded)
      val j = v.indices.find(i => math.abs(v(i)) == 1.0d).getOrElse(0)
      if (v(j) < 0) v = v.map(x => -x)
      comps += v
      if (c < nComponents) {
        // Rayleigh numerator Σ dec18((m·vᵢ)·vⱼ): the left-assoc
        // double product order of the replayed m * v[i] * v[j]
        var numAcc = java.math.BigDecimal.ZERO
        grid.foreach { case (i2, j2, m) =>
          numAcc = addDec18(numAcc, (m * v(i2)) * v(j2)) }
        val num = round6(numAcc.doubleValue)
        var denAcc = java.math.BigDecimal.ZERO
        var i2 = 0
        while (i2 < dim) {
          denAcc = addDec18(denAcc, v(i2) * v(i2)); i2 += 1
        }
        val den = round6(denAcc.doubleValue)
        val f = round6(num / (den * den))
        grid = grid.map { case (gi, gj, m) =>
          (gi, gj, round6(m - f * (v(gi) * v(gj)))) }
      }
    }
    comps.result()
  }

  private def foldSums(rows: Array[org.apache.spark.sql.Row])
      : Map[Int, (java.math.BigDecimal, Long)] =
    rows.map(r => r.getInt(0) ->
      (r.getDecimal(1), r.getLong(2))).toMap

  private def foldMoments(rows: Array[org.apache.spark.sql.Row])
      : Map[(Int, Int), Long] =
    rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap

  /** Train the top component by `iters` unrolled power iterations —
    * the one-pass batch form of the statistics + [[modelFromStats]].
    */
  def pcaModel(embeddings: DataFrame, iters: Int = 4): PcaModel = {
    require(iters >= 1, s"power iteration needs at least 1 step, got $iters")
    val e = prep(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sums = foldSums(dimSums(e).collect())
      val moments = foldMoments(rawMoments(e).collect())
      modelFromStats(sums, moments, iters)
    } finally e.unpersist()
  }

  /** Append one batch's statistics to a persistent store — the
    * streaming maintenance write ([[graft.streaming.StreamingPca]]):
    * `sums` and `moments` are append-only PARTIALS keyed by the
    * caller's `batchId` (Structured Streaming's epoch id — STABLE
    * across retries of the same micro-batch). An at-least-once replay
    * re-appends BIT-IDENTICAL (batch_id, …) rows, which the
    * read-side `distinct()` folds away — while two DIFFERENT batches
    * that happen to produce identical sums stay distinguishable by
    * their ids. (Unkeyed aggregates could not have both properties:
    * that is why this store tags rows where the BM25 postings — facts
    * already keyed by doc_id — do not need to.) A crash between the
    * two writes is likewise healed by the retry: the sums rows fold,
    * the missing moments rows land.
    */
  def updateStats(batch: DataFrame, store: String,
                  batchId: Long = 0L): Unit = {
    val e = prep(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      dimSums(e).withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(s"$store/sums")
      rawMoments(e).withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(s"$store/moments")
    } finally e.unpersist()
  }

  /** Fold a statistics store back into a model — [[modelFromStats]]
    * over the re-summed partials (replayed appends dropped by the
    * keyed distinct first). Decimal, long and count sums are all
    * EXACT, so this equals the batch [[pcaModel]] over the union of
    * every drained batch (spec-pinned).
    */
  def modelFromStore(spark: SparkSession, store: String,
                     iters: Int = 4): PcaModel = {
    val sums = foldSums(spark.read.parquet(s"$store/sums")
      .distinct()
      .groupBy(col("i"))
      .agg(sum(col("msum").cast(Dec)).as("msum"), sum(col("n")).as("n"))
      .collect())
    val moments = foldMoments(spark.read.parquet(s"$store/moments")
      .distinct()
      .groupBy(col("i"), col("j"))
      .agg(sum(col("s")).as("s"))
      .collect())
    modelFromStats(sums, moments, iters)
  }

  /** Project every vector onto a trained component — the ORACLE-
    * CHECKED truth form: per-dimension terms explode and sum through
    * a DECIMAL(38,18) aggregate (order-free and EXACT — Spark's
    * in-row `aggregate` cannot hold a (38,18) accumulator without
    * precision loss, its add rule caps (38,18)+(38,18) at (38,17),
    * so the exact form is the grouped sum; the shuffle moves one
    * d²-free partial per vector, not the terms). The `+ 0.0`
    * normalises a possible −0.0 projection. For the scan-speed
    * streaming form see [[pcaScoreMap]].
    */
  def pcaScore(embeddings: DataFrame, model: PcaModel): DataFrame = {
    require(model.mu.length == model.v.length && model.mu.nonEmpty,
      "model mean and direction must share a positive dimension")
    val muArr = array(model.mu.map(lit).toIndexedSeq: _*)
    val vArr = array(model.v.map(lit).toIndexedSeq: _*)
    prep(embeddings)
      .select(col("vec_id"),
        explode(zip_with(zip_with(col("emb"), muArr, (x, m) => x - m),
          vArr, (c, vv) => c * vv)).as("t"))
      .groupBy(col("vec_id"))
      .agg((round(sum(col("t").cast(Dec)).cast("double"), 6) +
        lit(0.0d)).as("pc1"))
  }

  /** The projection's DEPLOYMENT scorer — a PURE NARROW MAP (the
    * dsirScore/qualityProbeScoreMap idiom): center and dot in-row as
    * a left-to-right double fold, no explode, no shuffle, no state —
    * runs unchanged on a `readStream` frame at scan speed. Within
    * float-sum error of [[pcaScore]]'s order-free decimal sum
    * (spec-pinned); the decimal form stays the oracle-checked truth
    * twin.
    */
  def pcaScoreMap(embeddings: DataFrame, model: PcaModel): DataFrame = {
    require(model.mu.length == model.v.length && model.mu.nonEmpty,
      "model mean and direction must share a positive dimension")
    val muArr = array(model.mu.map(lit).toIndexedSeq: _*)
    val vArr = array(model.v.map(lit).toIndexedSeq: _*)
    prep(embeddings)
      .select(col("vec_id"),
        (round(aggregate(
          zip_with(zip_with(col("emb"), muArr, (x, m) => x - m), vArr,
            (c, vv) => c * vv),
          lit(0.0d), (acc, t) => acc + t), 6) + lit(0.0d)).as("pc1"))
  }

  /** Train-then-project in one call — the s13 query shape. EAGER at
    * construction (training collects the KB-scale model; the x23
    * caveat), lazy in the returned projection.
    */
  def pcaProject(embeddings: DataFrame, iters: Int = 4): DataFrame =
    pcaScore(embeddings, pcaModel(embeddings, iters))

  /** Top-TWO-component projection — the s16 query shape: one
    * statistics pass, two deflated power-iteration runs, then ONE
    * explode pass projecting onto both directions (a grouped decimal
    * sum per component — pc2 costs no extra scan). The classic
    * 2-D embedding-map / drift-plane output.
    */
  def pcaProject2(embeddings: DataFrame, iters: Int = 4): DataFrame = {
    val e = prep(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (mu, comps) =
      try {
        val sums = foldSums(dimSums(e).collect())
        val moments = foldMoments(rawMoments(e).collect())
        componentsFromStats(sums, moments, 2, iters)
      } finally e.unpersist()
    val muArr = array(mu.map(lit).toIndexedSeq: _*)
    val aggs = comps.zipWithIndex.map { case (v, ci) =>
      val vArr = array(v.map(lit).toIndexedSeq: _*)
      (round(sum((col("c") * element_at(vArr, col("i") + 1)).cast(Dec))
        .cast("double"), 6) + lit(0.0d)).as(s"pc${ci + 1}")
    }
    prep(embeddings)
      .select(col("vec_id"),
        posexplode(zip_with(col("emb"), muArr, (x, m) => x - m))
          .as(Seq("i", "c")))
      .groupBy(col("vec_id"))
      .agg(aggs.head, aggs.tail: _*)
  }
}
