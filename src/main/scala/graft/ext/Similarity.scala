package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField,
  StructType}

/** Similarity search over an embedding column [EXT]:
  * brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH variant as the scale path.
  *
  * Everything is higher-order column expressions (`zip_with` /
  * `aggregate`) over `array<double>` — codegen'd, no UDF, no
  * per-row JVM closure. Dot products evaluate sequentially
  * left-to-right, which keeps results deterministic.
  *
  * Scale design: brute-force is O(Q·N) with the query side broadcast —
  * right when Q is small (a probe set). The LSH path hashes every
  * vector into L tables of m sign-bits once (narrow map), then joins
  * on (table, bucket): candidate generation is a hash join, and only
  * in-bucket pairs pay the O(d) dot product. At 100 TB the bucketed
  * join shuffles each side once on the bucket key; skewed buckets are
  * AQE-splittable since the join is a plain equi-join.
  */
object Similarity {

  /** Sequential-order dot product of two double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  /** Cosine via the native codegen'd expression
    * ([[graft.functions.CosineSimilarity]]) — one fused loop instead
    * of zip_with allocation + three array walks. Bit-identical to
    * `dot(a,b)/(norm_a*norm_b)` (same summation order; asserted in
    * spec).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine_similarity(a, b)

  /** Exact cosine top-k: each query vector against the full corpus.
    * Ranking uses the 4-decimal-rounded similarity with a vec_id
    * tiebreak — a total order that survives float-summation
    * differences across engines.
    */
  def cosineTopK(embeddings: DataFrame, queries: DataFrame,
                 k: Int): DataFrame = {
    // no precomputed norms: cosine() folds dot + both norms into one
    // fused loop, so carrying a norm column would only inflate the
    // broadcast and the cross-join width
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("emb"), col("q_emb")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("sim"), col("rank"))
  }

  /** Hard-negative mining for contrastive retriever training (DPR,
    * Karpukhin et al. 2020 §4.2 — public): for each query vector, the
    * top-k most-similar corpus vectors OUTSIDE its positive class —
    * the near-misses a bi-encoder must learn to push away, far more
    * informative than random negatives. The positive class is the
    * `label` column (the same proxy [[annRecallAtK]]'s ground truth
    * uses); excluding the whole class also excludes self.
    *
    * Plan shape is [[cosineTopK]]'s by design — corpus × broadcast
    * query set (O(Q·N), Q small by construction: mining runs per
    * training batch, not per corpus) with the class anti-predicate
    * BEFORE the similarity so positive-class rows never pay the
    * cosine; the per-query top-k window partitions on query_id. At
    * larger Q, mine through an index instead ([[ivfTopK]]/[[pqTopK]]
    * feeding the same anti-predicate) — this exact form is also the
    * oracle-checkable truth twin for that swap.
    */
  def hardNegatives(embeddings: DataFrame, queries: DataFrame,
                    k: Int): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("emb"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("label").as("q_label"),
      col("embedding").cast("array<double>").as("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("label") =!= col("q_label"))
      .withColumn("sim", round(cosine(col("emb"), col("q_emb")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("negative_id"),
        col("sim"), col("rank"))
  }

  /** The mechanical ceiling on [[mmrRerank]]'s one-job pool collect
    * (r15, VERDICT r14 item 7): pools are |Q|·poolSize rows BY
    * CONTRACT (KB at any corpus scale), so the bound exists only to
    * turn "a caller handed us a corpus" from a silent driver OOM into
    * an immediate, named failure. 65 536 rows is orders of magnitude
    * above any serving request and, at the family's 64-dim
    * embeddings, ~35 MB collected — far below driver heap.
    */
  private[graft] val MmrMaxPoolRows: Int = 1 << 16

  /** MMR diversified top-k [EXT] (Maximal Marginal Relevance,
    * Carbonell & Goldstein, SIGIR 1998 — public): greedy reranking
    * that trades relevance against redundancy — pick_t = argmax of
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s). THE de-duplicating
    * reranker of retrieval pipelines: over a near-dup-heavy corpus a
    * raw top-k returns k copies of one document, MMR returns the k
    * distinct facets.
    *
    * This is the RERANKER half: it takes ANY candidate pool
    * (query_id, vec_id, emb, rel) — at scale the pool comes from an
    * ANN index (s02 LSH / s03 IVF / s08 IVF-PQ feed it unchanged), so
    * the pairwise work is |Q|·poolSize² IN-POOL, never corpus-sized.
    * The greedy unrolls to k−1 rounds over the ONE localCheckpointed
    * pool (EAGER, |Q|·poolSize rows by construction — the semDedup
    * materialization idiom): every round is an equi-join plus a
    * max_by argmax with the vec_id tiebreak — no Window anywhere.
    *
    * Engine-portable by construction (s14 is oracle-checked): rel and
    * pairwise sims live on the round-4 cosine grid (the s01
    * contract), the MMR score on the round-6 grid; the oracle replays
    * every greedy round as unrolled CTEs. A pool smaller than k picks
    * its whole pool and stops (no padding rows).
    *
    * The greedy FOLDS DRIVER-SIDE over the ONE collected pool (r14 —
    * the Pca.componentsOf discipline): the pool is |Q|·poolSize rows
    * BY CONSTRUCTION (KB at any corpus scale — the reranker contract),
    * and the former unrolled Spark rounds cost ~4·(k−1) pool-bounded
    * jobs of pure scheduling/planning overhead per call (measured: the
    * dominant cost of every serving-path query). The fold replicates
    * the engine's arithmetic OP FOR OP — [[localCosine]] is
    * CosineSimilarity.nullSafeEval verbatim (strict left-to-right
    * accumulation, zero-denominator → 0.0, null element/length
    * mismatch → None), [[localRound]] is Spark Round's double path
    * (NaN/±Inf pass through, else BigDecimal HALF_UP), and
    * [[cmpDouble]] is SQLOrderingUtil.compareDoubles (−0.0 == 0.0,
    * NaN greatest, NaN == NaN) with max_by's struct ordering (null
    * field smallest) — so picks are value-identical to the expression
    * form; SimilaritySpec pins the fold against an expression-form
    * reference on adversarial pools (ties, ±0.0, null rel/emb, short
    * pools) and the s14/s18/s19/s24/s28 oracles replay the rounds.
    *
    * Pool contract: at most [[MmrMaxPoolRows]] rows, and no null
    * `query_id` or `vec_id` — a pool breaking either fails with an
    * `IllegalArgumentException` before any pick. (The r14 expression
    * form ranked null-id rows; every engine pool generator derives its
    * ids from non-null corpus and query ids, so only a malformed
    * external pool can hit this.)
    */
  def mmrRerank(pool: DataFrame, k: Int, lambda: Double): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0, 1], got $lambda")
    val spark = pool.sparkSession
    import spark.implicits._
    // ONE job: collect the KB-by-contract pool. The limit makes the
    // KB contract MECHANICAL: an uncapped (corpus-sized) pool stops
    // at MmrMaxPoolRows + 1 collected rows and fails the require
    // below instead of OOMing the driver.
    val rows = pool.select(col("query_id").cast("long").as("query_id"),
        col("vec_id").cast("long").as("vec_id"),
        col("emb").cast("array<double>").as("emb"),
        col("rel").cast("double").as("rel"))
      .limit(MmrMaxPoolRows + 1)
      .collect()
    require(rows.length <= MmrMaxPoolRows,
      s"mmrRerank pool exceeds $MmrMaxPoolRows rows — pools are " +
        "|Q|*poolSize by contract (an ANN index's bounded nomination, " +
        "never a corpus); cap the pool before reranking")
    // null ids fail fast with a name, not an NPE mid-fold: the
    // expression-form greedy produced rows for null keys, but every
    // pool generator derives ids from non-null corpus/query ids —
    // a null here is a malformed pool, not a rankable candidate
    require(rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "mmrRerank pool has null query_id/vec_id rows — pool ids must " +
        "be non-null (they come from corpus vec_ids by contract)")
    final case class Cand(vec: Long, emb: Seq[Any], rel: Option[Double])
    val byQuery = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    val picks = Vector.newBuilder[(Long, Long, Int)]
    for ((qid, rs) <- byQuery) {
      val cands = rs.toSeq.map { r =>
        Cand(r.getLong(1),
          if (r.isNullAt(2)) null else r.getSeq[Any](2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))
      }
      // argmax by (key, −vec_id) under max_by's struct ordering:
      // a null first field is SMALLEST; doubles compare SQL-style
      def argmax(cs: Seq[Cand], key: Cand => Option[Double]): Cand =
        cs.reduceLeft { (a, b) =>
          val c = cmpOpt(key(a), key(b))
          val d = if (c != 0) c
            else java.lang.Long.compare(-a.vec, -b.vec)
          if (d >= 0) a else b
        }
      val nDistinct = cands.map(_.vec).distinct.size
      val picked = scala.collection.mutable.ArrayBuffer(
        argmax(cands, _.rel))
      val pickedIds = scala.collection.mutable.Set(picked.head.vec)
      while (picked.size < k && pickedIds.size < nDistinct) {
        val remaining = cands.filter(c => !pickedIds(c.vec))
        // maxsim = max over picked rows of round-4 cosine, nulls
        // skipped (Max aggregate semantics); none defined → None
        def score(c: Cand): Option[Double] = {
          var maxsim: Option[Double] = None
          for (s <- picked; sim <- localCosine(c.emb, s.emb)) {
            val r = localRound(sim, 4)
            if (maxsim.forall(m => cmpDouble(r, m) > 0)) maxsim = Some(r)
          }
          for (rel <- c.rel; m <- maxsim)
            yield localRound(lambda * rel - (1.0d - lambda) * m, 6)
        }
        val best = argmax(remaining, score)
        picked += best
        pickedIds += best.vec
      }
      picked.zipWithIndex.foreach { case (c, i) =>
        picks += ((qid, c.vec, i + 1))
      }
    }
    picks.result()
      .toDF("query_id", "neighbor_id", "pick_rank")
  }

  /** SQLOrderingUtil.compareDoubles replicated: primitive == first
    * (so −0.0 equals 0.0), then java compare (NaN greatest, and
    * NaN == NaN → 0) — the ordering every Spark double Max/struct
    * comparison runs.
    */
  private[ext] def cmpDouble(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Struct-field ordering over nullable doubles: null smallest
    * (TypeUtils.getInterpretedOrdering's null rule), else
    * [[cmpDouble]].
    */
  private[ext] def cmpOpt(a: Option[Double], b: Option[Double]): Int =
    (a, b) match {
      case (None, None) => 0
      case (None, _) => -1
      case (_, None) => 1
      case (Some(x), Some(y)) => cmpDouble(x, y)
    }

  /** Spark `round(col, scale)`'s DoubleType path replicated: NaN and
    * ±Inf pass through unrounded; everything else is HALF_UP on the
    * double's shortest decimal form (scala BigDecimal, valueOf
    * semantics) — the same idiom the PCA/probe driver folds already
    * pin against the engine.
    *
    * Fast path, equal to the BigDecimal form (spec-pinned): a =
    * |d|·10^scale is within 1.5 ulp(a) of the shortest form scaled, so
    * below 1e9 (error < 4e-7) a fraction more than 1e-6 from .5 rounds
    * the same way; the result k/10^scale is the very division
    * BigDecimal.doubleValue performs for an unscaled k below 2⁵², and
    * a zero result is +0.0. Anything else takes the BigDecimal form.
    * The driver trainers call this millions of times per build.
    */
  private[ext] def localRound(d: Double, scale: Int): Double =
    if (d.isNaN || d.isInfinite) d
    else {
      val a = if (scale >= 0 && scale < Pow10.length)
        math.abs(d) * Pow10(scale) else Double.NaN
      val f = math.floor(a)
      if (a < 1e9 && math.abs(a - f - 0.5) > 1e-6) {
        val k = if (a - f > 0.5) f + 1.0 else f
        if (k == 0.0) 0.0
        else if (d < 0) -(k / Pow10(scale)) else k / Pow10(scale)
      } else BigDecimal(d).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }

  private val Pow10: Array[Double] = Array.iterate(1.0, 16)(_ * 10.0)

  /** [[graft.functions.CosineSimilarity]].nullSafeEval replicated over
    * a collected array<double> value (elements are boxed, possibly
    * null): None where the expression yields NULL — null array, length
    * mismatch, or any null element; 0.0 on a zero denominator; else
    * the strict left-to-right dot / (√nx·√ny).
    */
  private[ext] def localCosine(x: Seq[Any], y: Seq[Any]): Option[Double] = {
    if (x == null || y == null) return None
    if (x.length != y.length) return None
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < x.length) {
      val xi = x(i); val yi = y(i)
      if (xi == null || yi == null) return None
      val xd = xi.asInstanceOf[Double]; val yd = yi.asInstanceOf[Double]
      dot += xd * yd; nx += xd * xd; ny += yd * yd
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    Some(if (denom == 0.0) 0.0 else dot / denom)
  }

  /** A collected row's nullable bigint cell. */
  private[ext] def optLong(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(r.getLong(i))

  /** A collected row's nullable array cell, null when null — the shape
    * [[localCosine]] and the folds take.
    */
  private[ext] def optSeq(r: org.apache.spark.sql.Row, i: Int): Seq[Any] =
    if (r.isNullAt(i)) null else r.getSeq[Any](i)

  /** [[dot]] (aggregate over zip_with) replicated over collected
    * array<double> values: None where the expression yields NULL —
    * null array, length mismatch (zip_with null-pads the shorter
    * side, so one null product poisons the whole sum), or any null
    * element; else the strict left-to-right sum of products.
    */
  private[ext] def localDot(x: Seq[Any], y: Seq[Any]): Option[Double] = {
    if (x == null || y == null) return None
    if (x.length != y.length) return None
    var s = 0.0
    var i = 0
    while (i < x.length) {
      val xi = x(i); val yi = y(i)
      if (xi == null || yi == null) return None
      s += xi.asInstanceOf[Double] * yi.asInstanceOf[Double]
      i += 1
    }
    Some(s)
  }

  /** [[ivfPqProbes]] folded driver-side over the COLLECTED query and
    * centroid tables (r15 — the mmrRerank fold discipline applied to
    * the serving path's other KB stages): the cross product, the
    * round-6 cosine, the (c_sim DESC NULLS LAST, coarse_id ASC NULLS
    * FIRST) row_number cut at nprobe, and the round-4 qc dot are
    * replicated op for op ([[localCosine]]/[[localDot]]/[[localRound]]
    * /[[cmpDouble]] — the same primitives the MMR fold pins).
    * Duplicate query ids rank TOGETHER (the window partitions by
    * query_id, not by input row), exactly like the expression form.
    * Returns (query_id, coarse_id, qc) rows.
    */
  private[ext] def ivfPqProbesLocal(
      q: Seq[(Option[Long], Seq[Any])],
      cents: Seq[(Option[Long], Seq[Any])],
      nprobe: Int): Seq[(Option[Long], Option[Long], Option[Double])] = {
    def r6(o: Option[Double]) = o.map(localRound(_, 6))
    def r4(o: Option[Double]) = o.map(localRound(_, 4))
    q.groupBy(_._1).toSeq.sortBy(_._1)(
        Ordering.Option(Ordering.Long))
      .flatMap { case (qid, qRows) =>
        val scored = for {
          (_, emb) <- qRows
          (cid, cemb) <- cents
        } yield (cid, r6(localCosine(emb, cemb)),
          r4(localDot(emb, cemb)))
        scored.sortWith { (a, b) =>
          // c_sim DESC NULLS LAST, then coarse_id ASC NULLS FIRST
          val c = (a._2, b._2) match {
            case (None, None) => 0
            case (None, _) => 1
            case (_, None) => -1
            case (Some(x), Some(y)) => -cmpDouble(x, y)
          }
          if (c != 0) c < 0
          else (a._1, b._1) match {
            case (None, None) => false
            case (None, _) => true
            case (_, None) => false
            case (Some(x), Some(y)) => x < y
          }
        }.take(nprobe).map(t => (qid, t._1, t._3))
      }
  }

  /** The serving windows' sort, replicated: (score DESC NULLS LAST,
    * id ASC NULLS FIRST) — row_number's orderBy in every exact-rerank
    * / fused-rank tail. Returns true when `a` sorts strictly before
    * `b`; doubles compare SQL-style ([[cmpDouble]]).
    */
  private[ext] def rankLt(a: (Option[Double], Option[Long]),
                          b: (Option[Double], Option[Long])): Boolean = {
    val c = (a._1, b._1) match {
      case (None, None) => 0
      case (None, _) => 1
      case (_, None) => -1
      case (Some(x), Some(y)) => -cmpDouble(x, y)
    }
    if (c != 0) c < 0
    else (a._2, b._2) match {
      case (None, None) => false
      case (None, _) => true
      case (_, None) => false
      case (Some(x), Some(y)) => x < y
    }
  }

  /** The exact re-rank tail folded driver-side over collected KB
    * frames — `cands ⋈ fetched ⋈ q` (multiset inner joins; null keys
    * never match), sim = round-4 [[localCosine]], row_number over
    * (sim DESC NULLS LAST, vec_id ASC) per query_id (null qids group
    * together like a window partition), cut at `k`. The
    * [[graft.ext.VectorIndex.queryRerank]] tail and the hybrid dense
    * legs share this one definition. Returns (query_id, vec_id, sim,
    * rank) rows.
    */
  private[ext] def exactRerankLocal(
      cands: Seq[(Option[Long], Option[Long])],
      fetched: Seq[(Option[Long], Seq[Any])],
      q: Seq[(Option[Long], Seq[Any])], k: Int)
      : Seq[(Option[Long], Option[Long], Option[Double], Int)] = {
    val embById = fetched.collect { case (Some(id), emb) => id -> emb }
      .groupBy(_._1).map { case (key, v) => key -> v.map(_._2) }
    val qById = q.collect { case (Some(id), emb) => id -> emb }
      .groupBy(_._1).map { case (key, v) => key -> v.map(_._2) }
    val scored = for {
      (qid, vid) <- cands
      emb <- vid.toSeq.flatMap(embById.getOrElse(_, Nil))
      qEmb <- qid.toSeq.flatMap(qById.getOrElse(_, Nil))
    } yield (qid, vid, localCosine(emb, qEmb).map(localRound(_, 4)))
    scored.groupBy(_._1).toSeq.flatMap { case (qid, rs) =>
      rs.sortWith((a, b) => rankLt((a._3, a._2), (b._3, b._2)))
        .take(k).zipWithIndex
        .map { case (r, i) => (qid, r._2, r._3, i + 1) }
    }
  }

  /** [[ivfPqDtable]] folded driver-side over the COLLECTED query and
    * codebook tables: [[pqSubvectors]]' posexplode-of-slices — the
    * exploded array is `transform(sequence(0, m-1), …)`, which does
    * NOT depend on emb, so a NULL emb still explodes to m rows whose
    * sv (and hence pd) is null, and a short slice null-pads through
    * zip_with so a ragged query yields null pd — then the inner join
    * on sub and the round-4 subvector dot. Returns
    * (query_id, sub, cell, pd) rows.
    */
  private[ext] def ivfPqDtableLocal(
      q: Seq[(Option[Long], Seq[Any])],
      cb: Seq[(Int, Long, Seq[Any])], m: Int, dsub: Int)
      : Seq[(Option[Long], Int, Long, Option[Double])] = {
    val bySub = cb.groupBy(_._1)
    for {
      (qid, emb) <- q
      sub <- 0 until m
      sv = if (emb == null) null
           else emb.slice(sub * dsub, sub * dsub + dsub)
      (_, cell, cSv) <- bySub.getOrElse(sub, Nil)
    } yield (qid, sub, cell,
      localDot(sv, cSv).map(localRound(_, 4)))
  }

  /** [[ivfPqRank]] folded driver-side over collected LIVE codes rows
    * (vec_id, sub, cell, coarse_id) — already distinct and
    * tombstone-free — and the folded probe and distance tables,
    * op for op:
    *
    *  - codes ⋈ probes on coarse_id, then the self-hit filter
    *    `vec_id =!= query_id` (a null on either side drops the row);
    *  - ⋈ dtable on (query_id, sub, cell) — multiset inner joins, null
    *    keys never match;
    *  - per (query_id, vec_id): `first(qc)` and the decimal(38,18) sum
    *    of pd cast back to double ([[Pca.addDec18]]'s cast; null pds
    *    skipped, all-null → null);
    *  - approx_ip = round(qc + r_ip, 4), null if either is null;
    *  - row_number over (approx_ip DESC NULLS LAST, vec_id ASC) per
    *    query_id ([[rankLt]]), cut at `k`.
    *
    * Returns (query_id, neighbor_id, approx_ip, rank) rows, or None
    * where the engine's answer is not this fold's: a group whose rows
    * carry different qc values (`first` then depends on row order) or
    * a pd the decimal cast cannot hold (non-finite or ≥ 1e20).
    */
  private[ext] def ivfPqRankLocal(
      codes: Seq[(Option[Long], Option[Int], Option[Long], Option[Long])],
      probes: Seq[(Option[Long], Option[Long], Option[Double])],
      dtable: Seq[(Option[Long], Int, Long, Option[Double])], k: Int)
      : Option[Seq[(Long, Long, Option[Double], Int)]] = {
    val probesByCell = probes.collect { case (Some(q), Some(c), qc) =>
        c -> (q, qc) }
      .groupBy(_._1).map { case (c, v) => c -> v.map(_._2) }
    val pdByKey = dtable.collect { case (Some(q), sub, cell, pd) =>
        (q, sub, cell) -> pd }
      .groupBy(_._1).map { case (key, v) => key -> v.map(_._2) }
    final class Acc(val qc: Option[Double]) {
      var sum: java.math.BigDecimal = java.math.BigDecimal.ZERO
      var anyPd = false
    }
    val groups = scala.collection.mutable.LinkedHashMap.empty[(Long, Long), Acc]
    def sameQc(a: Option[Double], b: Option[Double]): Boolean =
      a.map(java.lang.Double.doubleToRawLongBits) ==
        b.map(java.lang.Double.doubleToRawLongBits)
    for {
      (Some(vid), Some(sub), Some(cell), Some(cid)) <- codes
      (qid, qc) <- probesByCell.getOrElse(cid, Nil) if vid != qid
      pd <- pdByKey.getOrElse((qid, sub, cell), Nil)
    } {
      val acc = groups.getOrElseUpdate((qid, vid), new Acc(qc))
      if (!sameQc(acc.qc, qc)) return None
      for (d <- pd) {
        if (!java.lang.Double.isFinite(d) || math.abs(d) >= 1e20) return None
        acc.sum = Pca.addDec18(acc.sum, d)
        acc.anyPd = true
      }
    }
    Some(groups.toSeq.groupBy(_._1._1).toSeq.flatMap { case (qid, rs) =>
      rs.map { case ((_, vid), acc) =>
          val rIp = if (acc.anyPd) Some(acc.sum.doubleValue) else None
          (vid, for (a <- acc.qc; b <- rIp) yield localRound(a + b, 4))
        }
        .sortWith((a, b) => rankLt((a._2, Some(a._1)), (b._2, Some(b._1))))
        .take(k).zipWithIndex
        .map { case ((vid, ip), i) => (qid, vid, ip, i + 1) }
    })
  }

  /** MMR over the exact candidate pool — [[cosineTopK]]'s plan with
    * the embedding carried, feeding [[mmrRerank]]. The pool window is
    * the documented-quadratic truth-twin shape (s01): at scale, swap
    * the generator for an ANN index and rerank the SAME way — this
    * form is the oracle-checkable twin for that swap.
    */
  def mmrTopK(embeddings: DataFrame, queries: DataFrame, k: Int = 4,
              poolSize: Int = 12, lambda: Double = 0.7): DataFrame = {
    require(poolSize >= k, s"pool ($poolSize) must cover k ($k)")
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("vec_id"))
    val pool = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("rel", round(cosine(col("emb"), col("q_emb")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= poolSize)
      .select(col("query_id"), col("vec_id"), col("emb"), col("rel"))
    mmrRerank(pool, k, lambda)
  }

  /** MMR over an LSH-index-fed candidate pool — the PRODUCTION
    * diversified retriever ([[mmrTopK]]'s scale form): the pool is
    * [[annTopK]]'s sign-LSH candidate generation (bucket-equality
    * join, only in-bucket pairs pay a cosine — never corpus × probes)
    * capped at `poolSize` per query, and the greedy rerank is
    * [[mmrRerank]] unchanged — which is the point: the reranker
    * accepts ANY pool, so swapping the quadratic truth-twin generator
    * (s14) for an index costs nothing in the selection logic. The
    * only Window runs over the CANDIDATE set (query-keyed, bucket-
    * bounded), not the corpus (PlanSpec pins exactly one query-keyed
    * window in the whole plan). Oracle-checked (s18): the plane
    * family, the candidate join, the pool cut and every greedy round
    * replay in SQL.
    */
  def mmrTopKLsh(embeddings: DataFrame, queries: DataFrame, k: Int = 4,
                 poolSize: Int = 12, lambda: Double = 0.7,
                 tables: Int = 8, bits: Int = 8,
                 dim: Int = 64): DataFrame = {
    require(poolSize >= k, s"pool ($poolSize) must cover k ($k)")
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("q_emb"))
    val eSig = signatures(e, "vec_id", tables, bits, dim)
    val qSig = signatures(q.withColumnRenamed("q_emb", "emb")
        .withColumnRenamed("query_id", "qid"), "qid", tables, bits, dim)
    val candidates = eSig.join(broadcast(qSig), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid").as("query_id"), col("vec_id"))
      .distinct() // a pair can collide in several tables
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("vec_id"))
    val pool = candidates
      .join(e, "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("rel", round(cosine(col("emb"), col("q_emb")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= poolSize)
      .select(col("query_id"), col("vec_id"), col("emb"), col("rel"))
    mmrRerank(pool, k, lambda)
  }

  /** Embedding-corpus integrity audit [EXT] — the e05-e11 integrity
    * family for the VECTOR table: one row of corpus-health facts a
    * pipeline checks before it trusts an embedding drop (a broken
    * encoder ships zero vectors; a ragged export ships mixed
    * dimensions; a numerics bug ships NaN/Inf — each silently
    * poisons every downstream cosine):
    *
    *  - n_vectors, dim (max), dim_consistent (min == max);
    *  - n_zero: vectors with zero squared norm (cosine undefined);
    *  - n_nonfinite: vectors carrying any NaN/±Inf element (excluded
    *    from the norm mass so the stats stay finite);
    *  - min/max/avg L2 norm on the 6-grid — norms via exact decimal
    *    sums of squares then sqrt (the one power IEEE requires
    *    correctly rounded), the average over the 6-grid norms.
    *
    * One narrow explode + two aggregations (per-vector, then the
    * one-row corpus fold), plus a vec_id-keyed left join of the
    * exploded stats back onto the base table — a NULL or empty
    * `embedding` emits no exploded rows, and without the join those
    * vectors would silently vanish from exactly the corruption report
    * this audit exists for. They count as d = 0 zero-norm finite
    * vectors (dim_consistent trips, n_zero counts them, min_norm hits
    * 0.0). Scan-bound at any SF. Oracle-checked (s15): every stat —
    * including the left-join accounting — replays relationally.
    */
  def embeddingAudit(embeddings: DataFrame): DataFrame = {
    val e = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val bad = isnan(col("x")) ||
      col("x") === lit(Double.PositiveInfinity) ||
      col("x") === lit(Double.NegativeInfinity)
    val exploded = e
      .select(col("vec_id"), posexplode(col("emb")).as(Seq("i", "x")))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("d"),
        sum(when(bad, lit(0.0d)).otherwise(col("x") * col("x"))
          .cast("decimal(38,18)")).cast("double").as("nsq"),
        max(when(bad, 1L).otherwise(0L)).as("bad"))
    val pv = e.select(col("vec_id"))
      .join(exploded, Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("d"), lit(0L)).as("d"),
        coalesce(col("nsq"), lit(0.0d)).as("nsq"),
        coalesce(col("bad"), lit(0L)).as("bad"))
    pv.agg(
      count(lit(1)).as("n_vectors"),
      max(col("d")).cast("int").as("dim"),
      (min(col("d")) === max(col("d"))).as("dim_consistent"),
      sum(when(col("nsq") === 0.0d, 1L).otherwise(0L)).as("n_zero"),
      sum(col("bad")).as("n_nonfinite"),
      (round(min(sqrt(col("nsq"))), 6) + lit(0.0d)).as("min_norm"),
      (round(max(sqrt(col("nsq"))), 6) + lit(0.0d)).as("max_norm"),
      (round(sum(round(sqrt(col("nsq")), 6).cast("decimal(38,18)"))
        .cast("double") / count(lit(1)), 6) + lit(0.0d)).as("avg_norm"))
  }

  /** Quantized-candidate top-k: the int8 fast path in front of an
    * exact re-rank. Corpus and queries are quantized once (narrow
    * maps, [[Quantize.int8]]); candidate scoring touches ONLY the
    * int8 vectors (exact 64-bit integer dot products, rescaled — at
    * 100 TB the candidate scan reads 4x fewer bytes than float and
    * never deserializes the originals), then just the k·rerank
    * survivors per query join back to the float corpus by id for the
    * exact cosine. That join shuffles candidate ids only — the float
    * corpus is touched via an equi-join the same way an IVF posting
    * fetch would be.
    *
    * With rerank large enough to cover the corpus this degenerates to
    * the exact ranking (spec asserts equality with cosineTopK);
    * at sane rerank the quantization error (≤ scale/2 per element)
    * only threatens neighbors separated by less than ~1% cosine.
    */
  def quantizedTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
                    rerank: Int = 4): DataFrame = {
    val eq = Quantize.int8(
      embeddings.select(col("vec_id"), col("embedding")), "embedding")
      .select(col("vec_id"), col("q_vec"), col("q_scale"))
    val qq = Quantize.int8(
      queries.select(col("vec_id"), col("embedding")), "embedding")
      .select(col("vec_id").as("query_id"), col("q_vec").as("qq_vec"),
        col("q_scale").as("qq_scale"))
    def qnorm(v: Column, s: Column): Column =
      sqrt(aggregate(v, lit(0L),
        (acc, x) => acc + x.cast("long") * x.cast("long")).cast("double")) * s
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("q_sim").desc, col("vec_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    val denom = qnorm(col("q_vec"), col("q_scale")) *
      qnorm(col("qq_vec"), col("qq_scale"))
    val candidates = eq.crossJoin(broadcast(qq))
      .filter(col("vec_id") =!= col("query_id"))
      // zero vectors have no direction: score them out instead of NaN
      .withColumn("q_sim", when(denom === 0.0, lit(-1.0)).otherwise(
        Quantize.dotRescaled(col("q_vec"), col("q_scale"),
          col("qq_vec"), col("qq_scale")) / denom))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= k * rerank)
      .select("query_id", "vec_id")
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("q_emb"))
    candidates
      .join(e, "vec_id")
      .join(broadcast(q), col("query_id") === col("qid"))
      .withColumn("sim", round(cosine(col("emb"), col("q_emb")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("sim"), col("rank"))
  }

  /** Engine-portable integer mix for the hyperplane family, the d09
    * trick applied to sign-LSH: two quadratic rounds with a
    * multiplicative stir, everything mod the Mersenne prime 2³¹−1.
    * Every intermediate is < 2⁶³ ((p−1)² ≈ 4.6·10¹⁸), so any engine
    * with exact 64-bit integer arithmetic — Spark longs, DuckDB
    * BIGINT, ANSI bigints generally — reproduces it without the
    * wrapping-multiply / unsigned-shift machinery splitmix64 would
    * need (DuckDB BIGINT *errors* on overflow; emulating 2⁶⁴ wraps
    * needs HUGEINT gymnastics). The squarings are the nonlinearity: a
    * pure LCG is linear in the seed, and these seeds are structured
    * ((t,b,j) packed), so a linear map would leak an arithmetic
    * lattice into the planes and collapse recall.
    */
  private[graft] val LshPrime = 2147483647L // 2^31 - 1
  private[graft] def lshMix(x: Long): Long = {
    var k = x % LshPrime
    k = (k * k + 12345L) % LshPrime
    k = (k * 48271L) % LshPrime
    k = (k * k + 6789L) % LshPrime
    k
  }

  /** Deterministic pseudo-random hyperplanes: component (t, b, j) is
    * a sum of 4 mixed uniforms (Irwin–Hall ≈ Gaussian — sign-LSH for
    * angular distance wants rotation-invariant-ish projections).
    * The 4 draws are summed as EXACT integers and divided once:
    * (Σk)/p − 2.0 is two IEEE ops on an exactly-representable
    * numerator (Σk < 2³³ ≪ 2⁵³), so the plane doubles are
    * bit-identical in every engine that does the same integer math —
    * which is what lets d07's oracle recompute the signatures in
    * DuckDB (see SimilarityQueries.oracles). Empirical quality at
    * dim 64: component mean ≈ 0.006, std ≈ 0.574 (ideal 0.577),
    * max inter-plane |cosine| ≈ 0.47, planted-dup recall 600/600 —
    * same as the splitmix64 family this replaces.
    */
  def plane(table: Int, bit: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      val base = ((table.toLong << 40) | (bit.toLong << 32) | j.toLong) * 4
      var kSum = 0L
      var s = 0
      while (s < 4) { kSum += lshMix(base + s); s += 1 }
      kSum.toDouble / LshPrime - 2.0
    }

  /** Auto-sizing for the banding width: smallest `bits` ≥ 6 with
    * 2^bits ≥ ⌈n / occupancy⌉, capped at 20 — the standard LSH sizing
    * rule that holds expected bucket occupancy CONSTANT as the corpus
    * grows. With fixed bits the in-bucket pair work of a self-join is
    * O(n²/2^bits): the r6 scaling sweep measured d07 at 30× cost for
    * 10× rows under fixed 6-bit buckets, vs ~linear once bits scale.
    * Exact integer arithmetic (ceil-div then bit length), NOT float
    * log2 — the oracle recomputes the same rule in SQL and a one-ulp
    * disagreement at a power-of-two boundary would change the whole
    * signature table.
    */
  private[graft] val LshTargetOccupancy = 32L
  private[graft] val LshMaxBits = 20
  private[graft] def autoBits(n: Long): Int = {
    // overflow-free ceil-div (n + occ - 1 wraps negative at n near
    // Long.MaxValue and would silently size a huge corpus at 6 bits)
    val groups = math.max(1L, n / LshTargetOccupancy +
      (if (n % LshTargetOccupancy > 0) 1L else 0L))
    val width =
      if (groups <= 1L) 1
      else 64 - java.lang.Long.numberOfLeadingZeros(groups - 1)
    math.min(LshMaxBits, math.max(6, width))
  }

  /** (id, table, bucket) signature rows via a tight per-partition
    * loop. Expressing the L·m plane dot products as column expressions
    * plants thousands of literal nodes in the plan and chokes
    * planning/codegen (measured 77 s at sf0.1); a typed map with the
    * plane matrix in the task closure does the same math in
    * microseconds per row and stays a narrow (shuffle-free) transform.
    */
  private def signatures(df: DataFrame, idCol: String, tables: Int,
                         bits: Int, dim: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val planes = Array.tabulate(tables, bits)((t, b) => plane(t, b, dim))
    df.select(col(idCol).cast("long"),
        col("emb").cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.flatMap { case (id, e) =>
          (0 until tables).iterator.map { t =>
            var bucket = 0L
            var b = 0
            while (b < bits) {
              val p = planes(t)(b)
              var s = 0.0
              var j = 0
              val d = math.min(dim, e.length)
              while (j < d) { s += e(j) * p(j); j += 1 }
              if (s > 0) bucket |= (1L << b)
              b += 1
            }
            (id, t, bucket)
          }
        }
      }.toDF(idCol, "tbl", "bucket")
  }

  /** Centroid-table bytes below which nearest-centroid assignment
    * rides the expression tree as literals: below it
    * the assignment is a PURE NARROW MAP (no n·k row blowup, no
    * argmax aggregate with array-typed buffers — which HashAggregate
    * cannot hold, so the old form paid an ObjectHashAggregate of the
    * whole corpus); above it the broadcast-join + max_by form is kept
    * (a 100 TB autoNlist centroid table cannot ride an expression).
    * A performance DISPATCH, not a semantic one — the in-row
    * comparator is the aggregate's EXACTLY (array_max over
    * (c_sim, −id, …) == max_by over (c_sim, −id): null fields
    * smallest, NaN greatest, −0.0 == 0.0 in both).
    *
    * The same bound caps the corpus [[ivfPqIndex]] trains on the
    * driver ([[driverCorpus]]), measured as rows × (8 + 8·dim): a
    * corpus that fits is an upper bound on every centroid table its
    * training can produce, so one bound keeps both driver-side forms
    * inside the same few MiB (~8k vectors at dim 64).
    */
  private[graft] val LitAssignMaxBytes: Long = 4L << 20

  /** Collect a KB-scale (centroid_id, c_emb) frame to rows (doubles
    * round-trip exactly; on an already-local frame this runs no job).
    */
  private def centroidRows(c: DataFrame): IndexedSeq[(Long, Seq[Double])] =
    c.select(col("centroid_id").cast("long"),
        col("c_emb").cast("array<double>"))
      .collect().toIndexedSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))

  private def centroidBytes(cents: IndexedSeq[(Long, Seq[Double])]): Long =
    cents.iterator.map(c => 8L + 8L * c._2.length).sum

  /** The in-row argmax struct over literal centroids: max of
    * (c_sim, −centroid_id, centroid_id, c_emb) — fields 1–2 ARE the
    * crossJoin+max_by ordering, fields 3–4 the payload (never
    * compared: −id is unique). `scale` is the site's cosine round.
    *
    * The centroid table rides ONE typedLit array and the candidate
    * structs come from a `transform` lambda, NOT an unrolled
    * array(...) of per-centroid expressions: the unrolled form
    * inlines k cosine loops into the generated method, which blows
    * janino's 64 KB limit near k ≈ 50 and silently drops the whole
    * stage to interpreted execution (measured: s07/s08 1.7× slower).
    * The HOF body is interpreted per element either way, but the
    * surrounding stage keeps codegen and the literal is built once.
    */
  private def bestCentroidStruct(emb: Column,
      cents: IndexedSeq[(Long, Seq[Double])], scale: Int): Column = {
    val centsLit = typedLit(cents)
    array_max(transform(centsLit, c =>
      struct(round(cosine(emb, c.getField("_2")), scale).as("c_sim"),
        (-c.getField("_1")).as("neg"),
        c.getField("_1").as("centroid_id"),
        c.getField("_2").as("c_emb"))))
  }

  /** Lloyd-trained coarse quantizer for the IVF family [EXT] — the
    * d09/s03 mod-prime seed sample refined by `iters − 1` Lloyd
    * passes, [[kmeansClusters]]' exact contract re-expressed for the
    * coarse level: assignment is the rounded-4 cosine argmax with a
    * centroid-id tiebreak (partial-aggregable max_by, no window over
    * the corpus), the update is per-dimension DECIMAL means (exact,
    * order-free — bit-identical across engines, which is what keeps
    * s03/s08 oracle-checked with training on), centroid ids stay the
    * seed vec_ids, and a centroid that captures no vectors drops out
    * (s05's empty-cluster policy). Runs `iters` Spark executions: one
    * collects the seed, and each pass collects its nlist·dim-double
    * update — KB by construction — into a literal local relation, so
    * plan depth is O(1) in the iteration count and no cache outlives
    * the call. [[ivfPqIndex]] runs this same training on the driver
    * for a corpus [[driverCorpus]] admits ([[ivfPqIndexLocal]]).
    * `iters = 1` is the bare seed sample (the untrained baseline the
    * recall-improvement spec compares against).
    */
  private[graft] def coarseCentroids(e: DataFrame, nlist: Int,
                                     iters: Int): DataFrame = {
    require(iters >= 1,
      s"coarse training needs at least one pass, got $iters")
    val spark = e.sparkSession
    import spark.implicits._
    def localize(df: DataFrame): DataFrame =
      df.select(col("centroid_id").cast("long"), col("c_emb"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .toDF("centroid_id", "c_emb")
    // the seed is collected up front (nlist rows — KB at trainer
    // scale): every refinement pass and every caller-side assignment
    // then starts from literals (the pqLocal discipline); doubles
    // round-trip exactly, so values are unchanged
    var c = localize(e
      .orderBy(((col("vec_id") % CentroidPrime) * CentroidMult)
          % CentroidPrime,
        col("vec_id"))
      .limit(nlist)
      .select(col("vec_id").as("centroid_id"), col("emb").as("c_emb")))
    for (_ <- 2 to iters) {
      val cents = centroidRows(c)
      // assignment: narrow in-row argmax below the literal valve (no
      // n·k blowup, no object aggregate), the join+max_by form beyond
      // — same comparator, same means, same result
      val assigned =
        if (cents.nonEmpty && centroidBytes(cents) <= LitAssignMaxBytes)
          e.withColumn("cc", bestCentroidStruct(col("emb"), cents, 4))
            .select(col("cc.centroid_id").as("centroid_id"), col("emb"))
        else
          e.crossJoin(broadcast(c))
            .withColumn("c_sim",
              round(cosine(col("emb"), col("c_emb")), 4))
            .groupBy(col("vec_id"))
            .agg(max_by(col("centroid_id"),
                struct(col("c_sim"), (-col("centroid_id")).as("neg")))
                .as("centroid_id"),
              first(col("emb")).as("emb"))
      c = localize(assigned
        .select(col("centroid_id"),
          posexplode(col("emb")).as(Seq("dim", "v")))
        .groupBy(col("centroid_id"), col("dim"))
        .agg((sum(col("v").cast("decimal(38,18)")).cast("double") /
          count(lit(1))).as("m"))
        .groupBy(col("centroid_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).as("c_emb")))
    }
    c
  }

  /** IVF (inverted-file) ANN — the clustered-data scale path, the
    * counterpart to sign-bit LSH: assign every vector to its nearest
    * coarse centroid once (narrow map over a broadcast centroid list),
    * then each query probes only the `nprobe` nearest centroids'
    * posting lists. Centroids are the deterministic mod-prime seed
    * sample refined by `coarseIters − 1` Lloyd passes
    * ([[coarseCentroids]] — no RNG anywhere, so results are stable
    * across runs and topologies AND the whole training replays in the
    * oracle). Trained centroids sit at cluster means instead of
    * arbitrary corpus points, so a fixed nprobe captures more of each
    * probe's true neighborhood (recall-improves spec). At 100 TB the
    * posting lists are a partitioned table bucketed by centroid id;
    * candidate generation is a bucket-pruned scan, not a join of the
    * full corpus.
    */
  def ivfTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              coarseIters: Int = 1): DataFrame = {
    val e = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val centroids = coarseCentroids(e, nlist, coarseIters)
    val cents = centroidRows(centroids)

    def nearestCentroids(df: DataFrame, idCol: String, embCol: String,
                         keep: Int): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol))
        .orderBy(col("c_sim").desc, col("centroid_id"))
      df.crossJoin(broadcast(centroids))
        .withColumn("c_sim", round(cosine(col(embCol), col("c_emb")), 6))
        .withColumn("c_rank", row_number().over(w))
        .filter(col("c_rank") <= keep)
        .drop("c_emb", "c_sim", "c_rank")
    }

    // corpus-side posting assignment (keep = 1): a narrow in-row
    // argmax below the literal valve — no n·nlist blowup and no
    // corpus-keyed Window sort; same (c_sim desc, id asc) pick,
    // NaN-greatest/nulls-last included. Probes stay on the window
    // form: |Q|·nlist rows, and keep > 1 needs the rank anyway.
    val postings =
      if (cents.nonEmpty && centroidBytes(cents) <= LitAssignMaxBytes)
        e.withColumn("cc", bestCentroidStruct(col("emb"), cents, 6))
          .select(col("vec_id"), col("emb"),
            col("cc.centroid_id").as("centroid_id"))
      else nearestCentroids(e, "vec_id", "emb", 1)
    val probes = nearestCentroids(
      queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("q_emb")),
      "query_id", "q_emb", nprobe)

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    postings.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("emb"), col("q_emb")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("sim"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs (a < b, cosine ≥
    * threshold) — the dedup-flavored twin of top-k search. Brute
    * pairwise: O(n²) all-pairs, exact. This is the ORACLE/TRUTH form
    * only — it is the recall baseline [[cosineDupPairsLsh]] is
    * spec-tested against, and the oracle-checkable exact twin (d05) at
    * small n. At corpus scale use [[cosineDupPairsLsh]] (d07), whose
    * candidate set comes from sign-LSH banding and only candidates pay
    * the dot product.
    */
  def cosineDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cosine(col("a.emb"), col("b.emb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Candidate-pruned embedding near-dup pairs — the 100 TB form of
    * [[cosineDupPairs]]: sign-LSH banding proposes candidate pairs via
    * a bucket-equality self-join (shuffle on (table, bucket) of 8-byte
    * keys — never all-pairs), exact cosine verifies each candidate, so
    * precision is 1.0 by construction and recall is the banding's
    * collision probability (spec-tested at 1.0 on planted near-dups).
    * Skewed buckets split under AQE since the join is a plain
    * equi-join.
    *
    * More tables × fewer bits than [[annTopK]]'s defaults: near-dup
    * pairs sit at much higher cosine than top-k neighbors, so shorter
    * bucket keys with more independent tables drive the miss
    * probability of a true near-dup pair to ~0 (at cosine ≥ 0.99 a
    * pair collides in ≥1 of 12 6-bit tables with p > 1 − 1e-7; even
    * at 20 bits the miss stays < 1e-3, so the auto-sizing below never
    * trades recall for speed on true near-dups).
    *
    * `bits = 0` (the default) auto-sizes the banding width from a
    * corpus count via [[autoBits]] — one metadata-cheap count job —
    * so bucket occupancy stays constant as the corpus grows and the
    * self-join's in-bucket pair work scales linearly instead of
    * O(n²/2^bits). The oracle reproduces the same integer sizing
    * rule, so the contract query stays oracle-checked at any sf.
    *
    * Cache lifetime: the signature table backs both self-join sides,
    * so it is persisted for the candidate join and unpersisted HERE —
    * the candidate list (pairs only, far below corpus size) is eagerly
    * localCheckpoint'ed first so later consumers never replay the
    * signature computation. A caller-side plan-keyed release (the
    * Dedup.release idiom) cannot work for this table: `signatures`
    * goes through mapPartitions, whose fresh lambda instance defeats
    * the CacheManager's sameResult plan matching.
    */
  def cosineDupPairsLsh(embeddings: DataFrame, threshold: Double,
                        tables: Int = 12, bits: Int = 0,
                        dim: Int = 64): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val b = if (bits > 0) bits else autoBits(e.count())
    val sig = signatures(e, "vec_id", tables, b, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = sig.as("x").join(sig.as("y"),
        col("x.tbl") === col("y.tbl") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct() // a pair can collide in several tables
      .localCheckpoint(true)
    sig.unpersist()
    candidates
      .join(e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a")),
        "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b")),
        "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("emb_a"), col("emb_b")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus around coarse centroids,
    * then drop any vector that has a smaller-id near-duplicate
    * (cosine ≥ `threshold`) WITHIN ITS CLUSTER — the quadratic pair
    * check never crosses cluster boundaries, which is the whole trick.
    * With `nlist = 0` (the default) the cluster count auto-sizes to
    * ⌈N/128⌉ (floor 16), holding expected per-cluster population
    * CONSTANT: intra-cluster pairing is then O(N·128) — linear —
    * instead of the O(N²/nlist) a fixed nlist degrades to (the same
    * failure mode the r6 scaling sweep caught in d07's fixed banding).
    * The price is the assignment term, N·nlist broadcast dot products
    * — a narrow shuffle-free map, the trade IVF and the SemDeDup paper
    * itself (fixed cluster-size k-means) both make. 128 is a power of
    * two, so the oracle's float division ⌈count/128.0⌉ is EXACT and
    * agrees with the integer ceil-div here at every N.
    *
    * Engine-portable determinism (this query is oracle-checked):
    *  - centroid sample: the `nlist` rows ranked smallest by the
    *    universal-hash key ((vec_id mod p)·40503 mod p, vec_id) with
    *    p = 999983 prime — pure integer arithmetic any SQL engine
    *    reproduces, unlike xxhash64 ([[ivfTopK]] adopted the same key
    *    in r6 for the same reason). Reducing mod an odd prime
    *    FIRST keeps the key sensitive to all id bits (a power-of-two
    *    modulus sees only low bits — constant across a snowflake id
    *    stream) and bounds the product at ~4·10¹⁰, so the arithmetic
    *    can never overflow ANSI bigint multiplication at any real id.
    *    A TakeOrdered(nlist) — heap per partition, no global sort.
    *  - assignment: argmax of 4-decimal-rounded cosine with a
    *    centroid_id tiebreak, computed as a `max_by` over a broadcast
    *    crossJoin — partial-aggregable (map-side combine), one shuffle
    *    on vec_id, no window sort. The embedding rides along via
    *    `first(emb)` (functionally dependent on the group key).
    *  - survivor rule: keep vec v unless ∃ u in v's cluster with
    *    u.vec_id < v.vec_id and cosine(u,v) ≥ threshold (d01's min-id
    *    survivor, applied per cluster; non-transitive by design — the
    *    rule is a pure predicate of the pair set, so it is
    *    order-independent and needs no iteration).
    *
    * At 100 TB: assignment is one shuffle; the pair stage shuffles on
    * cluster_id (hash equi-join, AQE-splittable on skewed clusters);
    * a pathological mega-cluster is bounded by raising nlist — the
    * centroid list stays a broadcast until nlist ~ 10⁷.
    *
    * Returns the SURVIVORS: (vec_id, cluster_id), one row per kept
    * vector.
    */
  /** The engine-portable centroid ranking key, shared between the
    * Column form below, the spec's brute-force twin, and the
    * PropertySpec bijection guard (so editing the constants here
    * cannot silently diverge from the tests that pin them). The d09
    * oracle SQL states the same arithmetic for DuckDB.
    */
  private[graft] val CentroidPrime = 999983L
  private[graft] val CentroidMult = 40503L
  private[graft] def centroidKey(id: Long): Long =
    ((id % CentroidPrime) * CentroidMult) % CentroidPrime

  private[graft] val SemDedupOccupancy = 128L
  private[graft] def autoNlist(n: Long): Int = {
    val groups = n / SemDedupOccupancy +
      (if (n % SemDedupOccupancy > 0) 1L else 0L) // overflow-free ceil
    math.max(16L, groups).min(Int.MaxValue).toInt
  }

  def semDedup(embeddings: DataFrame, threshold: Double,
               nlist: Int = 0): DataFrame = {
    val e = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val k = if (nlist > 0) nlist else autoNlist(e.count())
    val centroids = e
      .orderBy(((col("vec_id") % CentroidPrime) * CentroidMult)
          % CentroidPrime,
        col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("centroid_id"), col("emb").as("c_emb"))
    // materialize the assignment once: its three consumers (both pair
    // sides, the anti-join left) would otherwise each replay the
    // scan → broadcast-crossJoin → argmax agg subtree (12 corpus scans
    // in the unmaterialized plan — runtime exchange reuse MAY dedupe
    // them, but a 100 TB design can't hinge on it). Same idiom as
    // d07's candidate table; (id, cluster, emb) is input-sized.
    val assigned = e.crossJoin(broadcast(centroids))
      .withColumn("c_sim", round(cosine(col("emb"), col("c_emb")), 4))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("centroid_id"),
          struct(col("c_sim"), (-col("centroid_id")).as("neg")))
          .as("cluster_id"),
        first(col("emb")).as("emb"))
      .localCheckpoint(true)
    // no distinct on the drop side: left_anti is insensitive to
    // duplicate keys on its right input, so deduplicating them would
    // only add a shuffle
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.vec_id") < col("b.vec_id") &&
          round(cosine(col("a.emb"), col("b.emb")), 4) >= threshold)
      .select(col("b.vec_id").as("vec_id"))
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster_id"))
  }

  /** Deterministic spherical k-means [EXT] — document clustering for
    * mixture balancing / topic-sliced curation (the "cluster, then
    * sample per cluster" step of a curation pipeline; SemDeDup's
    * paper uses exactly this as its coarse structure): Lloyd's
    * algorithm, UNROLLED to a fixed `iters` so the whole run is one
    * lazy Catalyst plan with no driver-side convergence loop.
    *
    * Engine-portable by construction (s05 is oracle-checked):
    *  - init: the d09/s03 mod-prime sample — k seed vectors, their
    *    vec_ids become the (stable) cluster ids;
    *  - assign: argmax of 4-decimal-rounded cosine with a cluster_id
    *    tiebreak (the d09 `max_by` shape — partial-aggregable, one
    *    shuffle on vec_id, no window sort);
    *  - update: per-dimension mean through DECIMAL sums (exact,
    *    order-free — the x05 centroid contract), so the next
    *    iteration's centroids are bit-identical across engines, and
    *    a cluster that captures no vectors simply has no mean (it
    *    drops out, the standard empty-cluster policy).
    *
    * At 100 TB: per iteration, centroids (k·dim doubles) broadcast;
    * assignment is map-side + one vec_id shuffle; the mean update
    * shuffles (cluster, dim) pairs — k·dim rows of output, input-
    * bounded exchange. Cost is the canonical n·d·k per iteration;
    * raising k moves work into the broadcast, which holds to k ~ 10⁶
    * before you'd shard the centroid table.
    */
  def kmeansClusters(embeddings: DataFrame, k: Int = 8,
                     iters: Int = 2): DataFrame = {
    require(iters >= 1, "kmeans needs at least one assignment pass")
    val e = embeddings.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spark = embeddings.sparkSession
    import spark.implicits._
    // assignment is a narrow in-row argmax over the literal centroid
    // table below the valve (the coarseCentroids form — no n·k blowup,
    // no argmax aggregate), the crossJoin+max_by form beyond; the
    // picked struct's c_sim IS max(c_sim), so `sim` is unchanged
    def assign(cents: IndexedSeq[(Long, Seq[Double])],
               c: DataFrame): DataFrame =
      if (cents.nonEmpty && centroidBytes(cents) <= LitAssignMaxBytes)
        e.withColumn("cc", bestCentroidStruct(col("emb"), cents, 4))
          .select(col("vec_id"), col("cc.centroid_id").as("cluster_id"),
            col("cc.c_sim").as("sim"), col("emb"))
      else
        e.crossJoin(broadcast(c))
          .withColumn("c_sim", round(cosine(col("emb"), col("c_emb")), 4))
          .groupBy(col("vec_id"))
          .agg(
            max_by(col("cluster_id"),
              struct(col("c_sim"), (-col("cluster_id")).as("neg")))
              .as("cluster_id"),
            max(col("c_sim")).as("sim"),
            first(col("emb")).as("emb"))
    def localize(df: DataFrame): DataFrame = df.collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .toDF("cluster_id", "c_emb")
    // refinement passes are EAGER (the pqTrainOn discipline): each
    // collects the k·dim-double centroid table — KB by construction —
    // into a literal local relation, so the cache serves every pass
    // and is dropped before the lazy plan returns (no CacheManager
    // entry outlives the call); the final assignment recomputes the
    // narrow cast map once. The seed is collected up front so every
    // pass (and the final assignment) starts from literals.
    val cent =
      try {
        var c = localize(e
          .orderBy(((col("vec_id") % CentroidPrime) * CentroidMult)
              % CentroidPrime,
            col("vec_id"))
          .limit(k)
          .select(col("vec_id").as("cluster_id"), col("emb").as("c_emb")))
        var it = 1
        while (it < iters) {
          val byDim = assign(centroidRows(
              c.withColumnRenamed("cluster_id", "centroid_id")), c)
            .select(col("cluster_id"),
              posexplode(col("emb")).as(Seq("dim", "v")))
          c = localize(byDim.groupBy(col("cluster_id"), col("dim"))
            .agg((sum(col("v").cast("decimal(38,18)")).cast("double") /
              count(lit(1))).as("c"))
            .groupBy(col("cluster_id"))
            .agg(transform(
              array_sort(collect_list(struct(col("dim"), col("c")))),
              s => s.getField("c")).as("c_emb")))
          it += 1
        }
        c
      } finally e.unpersist()
    assign(centroidRows(
        cent.withColumnRenamed("cluster_id", "centroid_id")), cent)
      .select(col("vec_id"), col("cluster_id"), col("sim"))
  }

  /** Cluster-balanced corpus sample [EXT] — semantic diversity
    * sampling (the "cluster, then cap per cluster" curation draw —
    * the embedding-space sibling of [[TextAnalysis.domainCap]]'s
    * domain balancing): assign every vector to a [[kmeansClusters]]
    * cluster, then keep at most `cap` per cluster in the
    * deterministic hash order of vec_id. A topic that dominates the
    * crawl contributes at most cap vectors; small topics keep
    * everything. Skew-safe like domainCap: a cap-bounded per-cluster
    * bottom-k AGGREGATION (map-side partials ≤ cap rows per cluster
    * per partition) — no Window, no hot partition when one cluster
    * holds half the corpus.
    */
  def clusterBalancedSample(embeddings: DataFrame, k: Int = 8,
                            cap: Int = 10, iters: Int = 2): DataFrame = {
    val bottomK = udaf(graft.functions.BottomKAggregator.bottomK(cap))
    kmeansClusters(embeddings, k, iters)
      .select(col("cluster_id"),
        graft.ext.Hashing.base60(col("vec_id").cast("string")).as("h"),
        col("vec_id"))
      .groupBy(col("cluster_id"))
      .agg(bottomK(col("h"), col("vec_id")).as("picked"))
      .select(col("cluster_id"), posexplode(col("picked")))
      .select(col("col._2").as("vec_id"), col("cluster_id"),
        (col("pos") + 1).cast("long").as("pick"))
  }

  /** Squared L2 distance of two double arrays, sequential order (the
    * PQ codebook-assignment metric; no sqrt — monotone for argmin and
    * one transcendental cheaper per candidate). The native codegen
    * expression ([[graft.functions.L2Squared]]) — bit-identical to
    * `aggregate(zip_with(a, b, (x,y) => (x-y)²), 0.0, _+_)` (same
    * summation order; asserted in spec), but one fused register loop
    * instead of an interpreted HOF chain: s07 evaluates this
    * corpus·m·ksub times per training pass.
    */
  private[graft] def l2sq(a: Column, b: Column): Column =
    graft.functions.L2Squared.l2_squared(a, b)

  /** Product-quantization ANN [EXT] — the Jégou et al. PQ/ADC scheme
    * that completes the family: exact (s01) → LSH buckets (s02) → IVF
    * posting lists (s03) → int8 re-rank (s04) → PQ codes (here).
    *
    * Train: the embedding is split into `m` subspaces of dim/m dims;
    * each subspace gets its own `ksub`-cell codebook — the d09/s03
    * mod-prime seed sample (the SAME ksub seed vectors sliced per
    * subspace, their vec_ids doubling as stable cell ids) refined by
    * one Lloyd update (argmin of 4-decimal-rounded squared L2 with a
    * cell-id tiebreak; per-dim means through DECIMAL sums — the
    * s05/x05 contract, so the refined codebooks are bit-identical
    * across engines and the whole operator is oracle-checkable).
    * Empty cells drop, s05's empty-cluster policy.
    *
    * Encode: each vector becomes `m` cell ids — at float32 dim=64
    * that is a 16–32× compression (m shorts vs 64 floats). THE point
    * at 100 TB: the codes table is ~3 TB where the raw corpus is
    * 100 TB, so the candidate scan never touches a float vector.
    *
    * Query (ADC — asymmetric distance computation): per probe, a
    * distance table of round(dot(q_sub, cell), 4) for all m·ksub
    * cells (tiny, broadcast); approximate inner product is the sum of
    * m table entries looked up by the vector's codes — a broadcast
    * hash join on (sub, cell) plus a partially-aggregable DECIMAL sum
    * (order-free, engine-portable). Rank by rounded approx ip with
    * the family's vec_id tiebreak.
    *
    * At 100 TB: codebooks train on two subvector passes (narrow
    * explode, broadcast seed join, one shuffle of n·m compact rows
    * for the argmin, m·ksub·dsub rows out); the ADC scan reads ONLY
    * the codes table, map-side-combines the per-subspace partials
    * m→1, and shuffles n·nq skinny rows into the per-probe top-k.
    * Composition with s03 (coarse IVF cells + per-cell PQ residuals)
    * is the standard IVF-PQ layout; the pieces here are exactly its
    * stages. Like s02/s04 this is the candidate generator — chase it
    * with a s04-style exact re-rank of the top candidates when
    * serving.
    */
  /** (id, [extra...], sub, sv): one narrow map, n·m rows, no join.
    * Expects an `emb` array<double> column alongside `idCol`; `extra`
    * columns ride along (IVF-PQ's coarse cell id).
    */
  private[ext] def pqSubvectors(df: DataFrame, idCol: String, m: Int,
                                dsub: Int,
                                extra: Seq[String] = Nil): DataFrame =
    df.select((col(idCol) +: extra.map(col)) :+ posexplode(
      transform(sequence(lit(0), lit(m - 1)),
        s => slice(col("emb"), s * dsub + 1, lit(dsub))))
      .as(Seq("sub", "sv")): _*)

  /** Argmin codebook assignment of every subvector: broadcast hash
    * join on `sub`, 4-decimal-rounded squared L2, cell-id tiebreak —
    * one shuffle of n·m compact rows. `carry` names extra
    * functionally-dependent-on-vec_id columns to keep (the subvector
    * for a training pass, a coarse cell id for IVF-PQ) — the encode
    * pass carries nothing, so its shuffle rows are three scalars, not
    * the subvector arrays.
    */
  private[ext] def pqAssign(svs: DataFrame, cb: DataFrame,
                            carry: Seq[String] = Seq("sv")): DataFrame =
    svs.join(broadcast(cb), "sub")
      .withColumn("d2", round(l2sq(col("sv"), col("c_sv")), 4))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("cell"), struct(col("d2"), col("cell")))
          .as("cell"),
        carry.map(c => first(col(c)).as(c)): _*)

  /** In-row PQ cell assignment over a COLLECTED codebook — the
    * [[pqEncode]] argmin (array_min of rounded-4 (d2, cell) structs,
    * comparator-identical to [[pqAssign]]'s min_by, spec-pinned
    * in-row == distributed) dispatched per `sub` by a when-chain, so
    * the corpus-sized side is a PURE NARROW MAP instead of a
    * broadcast-join + argmin aggregate whose array-typed buffers
    * forced ObjectHashAggregate. The same [[LitAssignMaxBytes]] valve
    * applies: callers fall back to [[pqAssign]] beyond it.
    */
  private def pqAssignInRow(svs: DataFrame,
      model: Map[(Int, Long), Array[Double]],
      carry: Seq[String] = Seq("sv")): DataFrame = {
    val subs = model.keys.map(_._1).toSeq.distinct.sorted
    // the codebook rides ONE nested typedLit indexed by sub — data,
    // not unrolled code (the bestCentroidStruct codegen-size lesson)
    val cbLit = typedLit((0 to subs.max).map(s =>
      model.collect { case ((`s`, cell), c_sv) => (cell, c_sv.toSeq) }
        .toSeq.sortBy(_._1)))
    val cellExpr = array_min(
      transform(element_at(cbLit, col("sub") + 1), c =>
        struct(round(l2sq(col("sv"), c.getField("_2")), 4).as("d2"),
          c.getField("_1").as("cell")))).getField("cell")
    // the join form DROPS svs rows whose sub has no codebook cells —
    // replicate with the filter (subs are 0..m−1 in practice)
    svs.filter(col("sub").isin(subs: _*))
      .select(Seq(col("vec_id"), col("sub"), cellExpr.as("cell")) ++
        carry.map(col): _*)
  }

  private def pqModelBytes(model: Map[(Int, Long), Array[Double]]): Long =
    model.valuesIterator.map(v => 12L + 8L * v.length).sum

  private def pqModelOf(cb: DataFrame): Map[(Int, Long), Array[Double]] =
    cb.select(col("sub").cast("int"), col("cell").cast("long"),
        col("c_sv").cast("array<double>"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) ->
        r.getSeq[Double](2).toArray).toMap

  /** One Lloyd refinement over `svs` under a COLLECTED codebook:
    * rounded-4 argmin assignment (in-row below the valve, the join
    * form beyond), then per-(sub, cell, dim) DECIMAL means. Cells
    * that attract no vector drop out (standard empty-cell handling —
    * the codebook can only shrink).
    */
  private def pqRefine(svs: DataFrame, cb: DataFrame): DataFrame = {
    val model = pqModelOf(cb)
    val assigned =
      if (model.nonEmpty && pqModelBytes(model) <= LitAssignMaxBytes)
        pqAssignInRow(svs, model)
      else pqAssign(svs, cb)
    assigned
      .select(col("sub"), col("cell"), posexplode(col("sv"))
        .as(Seq("dim", "v")))
      .groupBy(col("sub"), col("cell"), col("dim"))
      .agg((sum(col("v").cast("decimal(38,18)")).cast("double") /
        count(lit(1))).as("c"))
      .groupBy(col("sub"), col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c")).as("c_sv"))
  }

  /** Collect a codebook frame (m·ksub rows — KB scale BY
    * CONSTRUCTION, the [[pqCodebook]] contract) into a LITERAL local
    * relation. Doubles round-trip exactly through collect, so values
    * are bit-identical to the lazy form; what changes is the plan:
    * every Lloyd iteration restarts from literals (depth stays O(1)
    * in the iteration count), and the training lineage — including
    * any cached input — never rides the returned query plan.
    */
  private def pqLocal(cb: DataFrame): DataFrame = {
    val spark = cb.sparkSession
    import spark.implicits._
    cb.collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .toDF("sub", "cell", "c_sv")
  }

  /** The refined per-subspace codebooks (sub, cell, c_sv): mod-prime
    * seed sample + `iters` Lloyd updates through DECIMAL means (each
    * pass: rounded-4 argmin assignment + per-dim mean — within-cell
    * SSE is non-increasing up to the 4-decimal rounds, the standard
    * Lloyd guarantee; real codebooks want ~10-25 passes, the oracle
    * twins pin iters=1). `svs` must be `pqSubvectors(e, "vec_id",
    * ...)` over the same `e`. EAGER, `iters + 1` Spark executions:
    * the first pass collects the seed codebook ([[pqModelOf]]) and
    * every pass collects its KB-scale update ([[pqLocal]]), so calling
    * this runs the training and the result is a literal local
    * relation — callers unpersist their `svs` cache as soon as this
    * returns instead of leaking it into the returned lazy plan.
    * [[ivfPqIndex]] runs the same passes on the driver for a corpus
    * [[driverCorpus]] admits ([[ivfPqIndexLocal]]).
    */
  private[ext] def pqTrainOn(e: DataFrame, svs: DataFrame, ksub: Int,
                             m: Int, dsub: Int,
                             iters: Int): DataFrame = {
    require(iters >= 1,
      s"PQ training needs at least one Lloyd pass, got $iters")
    // ksub seed vectors (mod-prime sample); sliced per subspace their
    // vec_ids are the cell ids of codebook 0 in EVERY subspace
    val cb0 = pqSubvectors(
      e.orderBy(((col("vec_id") % CentroidPrime) * CentroidMult)
          % CentroidPrime,
        col("vec_id"))
        .limit(ksub)
        .select(col("vec_id").as("cell"), col("emb")), "cell", m, dsub)
      .select(col("cell"), col("sub"), col("sv").as("c_sv"))
    var cb = cb0
    for (_ <- 1 to iters) cb = pqLocal(pqRefine(svs, cb))
    cb
  }

  def pqTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 16, dim: Int = 64,
             iters: Int = 1): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m subspaces")
    val dsub = dim / m
    val e = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val svs = pqSubvectors(e, "vec_id", m, dsub)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // training is EAGER (pqTrainOn collects each KB-scale codebook),
    // so the cache serves every Lloyd pass and is dropped before
    // return: repeated invocations (bench sweeps) leave no
    // CacheManager entries behind, and the returned lazy plan just
    // recomputes the narrow subvector map once.
    val cb1 =
      try pqTrainOn(e, svs, ksub, m, dsub, iters)
      finally svs.unpersist()
    // encode: in-row argmin below the valve (the pqEncode form), the
    // join+min_by aggregate beyond — identical codes either way
    val model1 = pqModelOf(cb1)
    val codes =
      if (model1.nonEmpty && pqModelBytes(model1) <= LitAssignMaxBytes)
        pqAssignInRow(svs, model1, carry = Nil)
      else pqAssign(svs, cb1, carry = Nil)
    // per-probe ADC table: m·ksub rounded partial inner products
    val dtable = pqSubvectors(
      queries.select(col("vec_id").cast("long").as("query_id"),
        col("embedding").cast("array<double>").as("emb")),
      "query_id", m, dsub)
      .join(broadcast(cb1), "sub")
      .select(col("query_id"), col("sub"), col("cell"),
        round(dot(col("sv"), col("c_sv")), 4).as("pd"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("approx_ip").desc, col("vec_id"))
    codes.join(broadcast(dtable), Seq("sub", "cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd").cast("decimal(38,18)")).cast("double")
        .as("approx_ip"))
      .withColumn("approx_ip", round(col("approx_ip"), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("approx_ip"), col("rank"))
  }

  /** The trained PQ model: [[pqTopK]]'s refined codebooks collected
    * to ((sub, cell) → subvector) — at most m·ksub entries, KB scale
    * BY CONSTRUCTION (the dsirRatios idiom: this is the one
    * deliberate collect in the PQ family; the model is the artifact
    * you ship to the encoder, exactly like a broadcast dictionary).
    */
  def pqCodebook(embeddings: DataFrame, m: Int = 8, ksub: Int = 16,
                 dim: Int = 64,
                 iters: Int = 1): Map[(Int, Long), Array[Double]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m subspaces")
    val dsub = dim / m
    val e = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val svs = pqSubvectors(e, "vec_id", m, dsub)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model =
      try pqTrainOn(e, svs, ksub, m, dsub, iters).collect()
        .map(r => (r.getInt(0), r.getLong(1)) ->
          r.getSeq[Double](2).toArray).toMap
      finally svs.unpersist()
    model
  }

  /** PQ deployment encoder — the index-maintenance shape: codebooks
    * trained offline ([[pqCodebook]]), then every incoming vector
    * encoded by a PURE NARROW MAP (slice in-row, argmin over the
    * literal cells via an array_min of (d2, cell) structs — the same
    * 4-decimal round and cell-id tiebreak as the distributed
    * assignment, so codes are IDENTICAL, spec-pinned). No explode, no
    * join, no shuffle, no state — it runs unchanged on a `readStream`
    * frame (spec-pinned) and at scan speed over 100 TB: this is how a
    * PQ index ingests new embeddings without retraining.
    */
  def pqEncode(df: DataFrame, model: Map[(Int, Long), Array[Double]],
               m: Int = 8, dim: Int = 64,
               embCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m subspaces")
    val dsub = dim / m
    val emb = col(embCol).cast("array<double>")
    val codes = array((0 until m).map { s =>
      val cells = model.collect { case ((`s`, cell), c_sv) =>
        (cell, c_sv) }.toSeq.sortBy(_._1)
      require(cells.nonEmpty, s"codebook has no cells for subspace $s")
      val sv = slice(emb, s * dsub + 1, dsub)
      array_min(array(cells.map { case (cell, c_sv) =>
        struct(round(l2sq(sv, typedLit(c_sv)), 4).as("d2"),
          lit(cell).as("cell"))
      }: _*)).getField("cell")
    }: _*)
    df.withColumn("codes", codes)
  }

  /** IVF-PQ ANN [EXT] — the composed layout the Faiss default index
    * family is built on, assembled from this file's own stages: s03's
    * coarse quantizer prunes the search to `nprobe` cells, s07's
    * product quantizer compresses what is left — trained on the
    * RESIDUALS (x − coarse centroid), the standard trick that makes
    * the codebooks spend their 4 bits/subspace on the within-cell
    * noise instead of re-encoding the cell mean.
    *
    * All arithmetic is the engine-portable kind the family already
    * uses, so the WHOLE composition is oracle-checkable:
    *  - coarse: the d09/s03 mod-prime seed sample, Lloyd-refined by
    *    `coarseIters − 1` DECIMAL-mean passes ([[coarseCentroids]] —
    *    the training itself replays in SQL); posting/probe assignment
    *    is the rounded-6 cosine argmax with a centroid-id tiebreak;
    *  - residuals: exact element-wise double subtraction;
    *  - PQ on residuals: [[pqTrainOn]] verbatim (mod-prime seeds over
    *    residual vectors, one DECIMAL-mean Lloyd update, rounded-4
    *    argmin encode);
    *  - query: approx ip = round(dot(q, coarse) + Σ_sub ADC, 4) —
    *    the coarse term is the probe table's rounded-4 dot, the
    *    residual term the s07 DECIMAL ADC sum.
    *
    * At 100 TB: the codes table (m cell ids + one coarse id per
    * vector, ~3 TB for a 100 TB float corpus) is stored clustered by
    * coarse cell; a probe reads nprobe/nlist of it — the broadcast
    * probe join here IS that pruning (codes rows for unprobed cells
    * never leave the scan). Centroids and both codebooks stay
    * KB-scale broadcasts. The ADC partials combine map-side m→1 and
    * only (probe, candidate) skinny rows shuffle into the top-k
    * window. Raising nlist tightens residuals AND sharpens pruning;
    * the recall dial is (nlist, nprobe, m, ksub) exactly as in the
    * published scheme.
    */
  /** A trained IVF-PQ index: the three frames, plus the corpus rows
    * when they were trained on the driver.
    */
  private[ext] final case class IvfPqIndex(centroids: DataFrame,
      codebooks: DataFrame, codes: DataFrame, corpus: Option[DriverCorpus])

  /** The trained IVF-PQ index — centroids (coarse_id, c_emb), residual
    * codebooks (sub, cell, c_sv) and codes (vec_id, sub, cell,
    * coarse_id) — ONE definition shared by the in-query [[ivfPqTopK]]
    * and the persisted [[VectorIndex.init]] (the winnowFp discipline:
    * the spec-pinned "store query == in-query ranking exactly"
    * contract cannot drift). `e` is (vec_id long, emb array<double>).
    *
    * Two forms with identical rows and schemas: a corpus that
    * [[driverCorpus]] admits (clean, within `maxBytes`) is collected
    * ONCE and trained on the driver ([[ivfPqIndexLocal]]), and its
    * rows come back in `corpus` for the caller's statistics; any other
    * corpus runs the distributed trainer ([[ivfPqIndexDistributed]]).
    * `knownRows` (the caller's row count, or −1) skips the collect for
    * a corpus already known to be past the cap.
    */
  private[ext] def ivfPqIndex(e: DataFrame, nlist: Int, m: Int,
                              ksub: Int, dim: Int, iters: Int,
                              coarseIters: Int, knownRows: Long = -1L,
                              maxBytes: Long = LitAssignMaxBytes)
      : IvfPqIndex = {
    require(dim % m == 0, s"dim $dim not divisible by m $m subspaces")
    val corpus =
      if (nlist >= 1 && iters >= 1 && coarseIters >= 1)
        driverCorpus(e, dim, maxBytes, knownRows)
      else None
    corpus match {
      case Some(c) =>
        val (cents, cb, codes) = ivfPqIndexLocal(e.sparkSession, c,
          e.schema("vec_id").nullable, nlist, m, ksub, dim, iters,
          coarseIters)
        IvfPqIndex(cents, cb, codes, corpus)
      case None =>
        val (cents, cb, codes) = ivfPqIndexDistributed(e, nlist, m, ksub,
          dim, iters, coarseIters)
        IvfPqIndex(cents, cb, codes, None)
    }
  }

  /** A clean corpus held on the driver: its (vec_id, emb) rows in
    * source-partition order, grouped by source partition (`parts`
    * holds the non-empty ones), so a frame rebuilt from them keeps the
    * corpus's partitioning and hence its written file count.
    */
  private[ext] final case class DriverCorpus(
      parts: IndexedSeq[IndexedSeq[(Long, Array[Double])]]) {
    val rows: IndexedSeq[(Long, Array[Double])] = parts.flatten
  }

  /** Collect a prepped (vec_id, emb) corpus to the driver when it fits
    * `maxBytes` — rows × (8 + 8·dim), the raw id + vector bytes, the
    * measure [[LitAssignMaxBytes]] already bounds the centroid
    * literal with (the corpus is an upper bound on any centroid
    * table). The collect is bounded in code (`limit(capRows + 1)`).
    * Only CLEAN input qualifies, the domain on which the driver
    * trainer provably reproduces the engine bit for bit:
    *
    *  - every vec_id non-null and distinct (the distributed forms group
    *    by vec_id; duplicate ids would make its seed order ambiguous);
    *  - every embedding non-null, exactly `dim` long, every component
    *    non-null and finite;
    *  - magnitudes small enough that no DECIMAL(38,18) sum (means,
    *    drift sums, norms) and no 1e-6-grid LONG moment sum can
    *    overflow in ANY summation order: with M = max |xᵢ| and n rows,
    *    n·(dim+2)·M < 1e19, dim·M² < 1e19 and n·(M²·1e6 + 1) < 9e18.
    *
    * None (the distributed path) for anything else: an empty, dirty,
    * huge-valued or past-the-cap corpus.
    */
  private[ext] def driverCorpus(e: DataFrame, dim: Int, maxBytes: Long,
                                knownRows: Long = -1L): Option[DriverCorpus] = {
    val capRows = maxBytes / (8L + 8L * dim)
    if (dim < 1 || capRows <= 0L || knownRows > capRows) None
    else {
      val got = e.select(spark_partition_id(), col("vec_id"), col("emb"))
        .limit(math.min(capRows, Int.MaxValue - 1L).toInt + 1)
        .collect()
      val clean = got.nonEmpty && got.length <= capRows &&
        got.forall(r => !r.isNullAt(1) && !r.isNullAt(2) && {
          val v = r.getSeq[Any](2)
          v.length == dim && v.forall(x =>
            x != null && java.lang.Double.isFinite(x.asInstanceOf[Double]))
        })
      if (!clean) None
      else {
        val rows = got.map(r =>
          (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
        val n = rows.length.toDouble
        val mx = rows.iterator.map(_._3.iterator.map(math.abs).max).max
        val bounded = decimalSumsFit(n, dim, mx) &&
          n * (mx * mx * 1e6 + 1.0) < 9e18
        if (!bounded || rows.map(_._2).distinct.length != rows.length) None
        else Some(DriverCorpus(rows.toIndexedSeq.groupBy(_._1).toIndexedSeq
          .sortBy(_._1).map(_._2.map(r => (r._2, r._3)))))
      }
    }
  }

  /** Whether no DECIMAL(38,18) sum over `n` vectors of `dim`
    * components of magnitude at most `mx` (per-dim sums, squared
    * norms, norm sums) can overflow in any summation order:
    * n·(dim+2)·mx < 1e19 and dim·mx² < 1e19.
    */
  private[ext] def decimalSumsFit(n: Double, dim: Int, mx: Double): Boolean =
    n * (dim + 2) * mx < 1e19 && dim * mx * mx < 1e19

  /** [[ivfPqIndexDistributed]] run on the driver over a clean
    * collected corpus — every step the engine's, bit for bit:
    *
    *  - coarse: the mod-prime seed order ([[centroidKey]], vec_id), then
    *    `coarseIters − 1` Lloyd passes — rounded-4 cosine argmax with
    *    the (c_sim, −id) tiebreak ([[nearestCentroid]]), per-cell
    *    per-dim means as `sum(decimal(38,18)).cast(double) / count`
    *    ([[Pca.addDec18]]), empty cells dropping out;
    *  - residuals against the rounded-6 argmax;
    *  - PQ: the seed is the first `ksub` NON-centroid vectors in
    *    mod-prime order, refined `iters` times over every vector's
    *    residual subvectors (rounded-4 squared-L2 argmin, cell-id
    *    tiebreak, [[nearestCell]]; decimal means; empty cells drop);
    *  - codes: [[encodeRow]], the kernel the store's closure encode
    *    runs.
    *
    * Returns the same three frames as literal local relations (codes
    * in the corpus's partitioning, `vecIdNullable` carrying the input
    * column's nullability), so writes and the ranking tail see the
    * schemas the distributed form produces.
    */
  private[ext] def ivfPqIndexLocal(spark: SparkSession, c: DriverCorpus,
      vecIdNullable: Boolean, nlist: Int, m: Int, ksub: Int, dim: Int,
      iters: Int, coarseIters: Int): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val dsub = dim / m
    val rows = c.rows
    def seedOrder(id: Long) = (centroidKey(id), id)
    var cents: Array[(Long, Array[Double])] =
      rows.sortBy(r => seedOrder(r._1)).take(nlist).toArray
    for (_ <- 2 to coarseIters) {
      val assigned = rows.map(r => nearestCentroid(r._2, cents, 4))
      cents = decimalMeans(cents.map(_._1), dim,
        rows.indices.iterator.map(i => (assigned(i), rows(i)._2, 0)))
    }
    cents = cents.sortBy(_._1)
    val owner = rows.map(r => nearestCentroid(r._2, cents, 6))
    val resid = rows.indices.map { i =>
      val (x, ce) = (rows(i)._2, cents(owner(i))._2)
      Array.tabulate(dim)(j => x(j) - ce(j))
    }
    val seeds = rows.indices
      .filter(i => rows(i)._1 != cents(owner(i))._1)
      .sortBy(i => seedOrder(rows(i)._1))
      .take(ksub)
    var cb: Array[Array[(Long, Array[Double])]] = Array.tabulate(m)(s =>
      seeds.map(i => (rows(i)._1, resid(i).slice(s * dsub, s * dsub + dsub)))
        .sortBy(_._1).toArray)
    for (_ <- 1 to iters)
      cb = Array.tabulate(m) { s =>
        if (cb(s).isEmpty) cb(s)
        else decimalMeans(cb(s).map(_._1), dsub, resid.iterator.map(r =>
          (nearestCell(r, s * dsub, cb(s)), r, s * dsub)))
      }
    val centDf = cents.toSeq.map(t => (t._1, t._2.toSeq))
      .toDF("coarse_id", "c_emb")
    val cbDf = cb.toSeq.zipWithIndex.flatMap { case (cs, s) =>
      cs.map(t => (s, t._1, t._2.toSeq)) }.toDF("sub", "cell", "c_sv")
    val codeRows = c.parts.map(_.flatMap { case (id, x) =>
      val (cid, cells) = encodeRow(x, cents, cb, dsub)
      cells.indices.map(s => Row(id, s, cells(s), cid))
    })
    val codesSchema = StructType(Seq(
      StructField("vec_id", LongType, vecIdNullable),
      StructField("sub", IntegerType, nullable = false),
      StructField("cell", LongType),
      StructField("coarse_id", LongType)))
    val codesDf = spark.createDataFrame(
      spark.sparkContext.parallelize(codeRows, codeRows.length)
        .flatMap(rs => rs),
      codesSchema)
    (centDf, cbDf, codesDf)
  }

  /** One Lloyd update on the driver: per-cell means of the member
    * slices `(cell index, vector, offset)` over `len` dims, each
    * `sum(decimal(38,18)).cast(double) / count` exactly as the engine
    * aggregates it; cells with no member drop out (ids kept in order).
    */
  private def decimalMeans(ids: Array[Long], len: Int,
      members: Iterator[(Int, Array[Double], Int)])
      : Array[(Long, Array[Double])] = {
    val sums = Array.fill(ids.length, len)(java.math.BigDecimal.ZERO)
    val counts = new Array[Long](ids.length)
    members.foreach { case (k, v, off) =>
      counts(k) += 1
      val acc = sums(k)
      var j = 0
      while (j < len) { acc(j) = Pca.addDec18(acc(j), v(off + j)); j += 1 }
    }
    ids.indices.filter(counts(_) > 0).map(k =>
      (ids(k), sums(k).map(_.doubleValue / counts(k).toDouble))).toArray
  }

  /** The IVF-PQ per-row encode kernel — the store's closure encode
    * ([[VectorIndex]] past its literal valve) and the driver-built
    * index ([[ivfPqIndexLocal]]) run this one body. A vector is `dim`
    * doubles with any null component (or a null vector) already NaN —
    * the literal form's codes for such rows are the same, because a
    * null and a NaN poison a cosine or a subspace distance for EVERY
    * candidate alike, and an all-tied argmin picks the smallest id
    * either way. Returns (coarse_id, the m cell ids); an empty
    * codebook encodes nothing.
    */
  private[ext] def encodeRow(x: Array[Double],
      cents: Array[(Long, Array[Double])],
      cells: Array[Array[(Long, Array[Double])]],
      dsub: Int): (Long, Array[Long]) = {
    val (cid, ce) = cents(nearestCentroid(x, cents, 6))
    val resid = Array.tabulate(x.length)(i => x(i) - ce(i))
    (cid, if (cells.exists(_.isEmpty)) Array.empty[Long]
      else cells.indices.map(s =>
        cells(s)(nearestCell(resid, s * dsub, cells(s)))._1).toArray)
  }

  /** Index of `x`'s nearest centroid: the minimum of (−round(cosine,
    * `scale`), coarse_id) under the engine's double ordering
    * ([[cmpDouble]]: NaN greatest, −0.0 == 0.0) — the literal encode's
    * array_min, and for finite cosines ivfPqIndex's (c_sim, −id)
    * argmax. Cosine is the [[graft.functions.CosineSimilarity]] loop
    * verbatim (strict left-to-right, zero denominator → 0.0).
    */
  private[ext] def nearestCentroid(x: Array[Double],
      cents: Array[(Long, Array[Double])], scale: Int): Int = {
    var best = -1
    var bestNeg = 0.0
    var c = 0
    while (c < cents.length) {
      val ce = cents(c)._2
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      val n = math.min(x.length, ce.length)
      while (i < n) {
        val xi = x(i); val yi = ce(i)
        dot += xi * yi; nx += xi * xi; ny += yi * yi
        i += 1
      }
      val denom = math.sqrt(nx) * math.sqrt(ny)
      val neg = -localRound(if (denom == 0.0) 0.0 else dot / denom, scale)
      val cmp = if (best < 0) -1 else cmpDouble(neg, bestNeg)
      if (cmp < 0 || (cmp == 0 && cents(c)._1 < cents(best)._1)) {
        best = c; bestNeg = neg
      }
      c += 1
    }
    best
  }

  /** Index of the cell nearest to `x(off until off + dsub)`: the minimum
    * of (round(squared L2, 4), cell) under [[cmpDouble]] — the
    * [[pqEncode]] / [[pqAssignInRow]] argmin; squared L2 is the
    * [[graft.functions.L2Squared]] loop verbatim.
    */
  private[ext] def nearestCell(x: Array[Double], off: Int,
                               cells: Array[(Long, Array[Double])]): Int = {
    var best = -1
    var bestD2 = 0.0
    var k = 0
    while (k < cells.length) {
      val sv = cells(k)._2
      var acc = 0.0
      var i = 0
      while (i < sv.length) {
        val d = x(off + i) - sv(i)
        acc += d * d
        i += 1
      }
      val d2 = localRound(acc, 4)
      val cmp = if (best < 0) -1 else cmpDouble(d2, bestD2)
      if (cmp < 0 || (cmp == 0 && cells(k)._1 < cells(best)._1)) {
        best = k; bestD2 = d2
      }
      k += 1
    }
    best
  }

  /** The distributed IVF-PQ trainer — [[ivfPqIndex]] past the driver
    * cap, and for any corpus [[driverCorpus]] does not admit.
    */
  private[ext] def ivfPqIndexDistributed(e: DataFrame, nlist: Int, m: Int,
                                         ksub: Int, dim: Int, iters: Int,
                                         coarseIters: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val dsub = dim / m
    val centroids = coarseCentroids(e, nlist, coarseIters)
      .select(col("centroid_id").as("coarse_id"), col("c_emb"))
    val cents = centroidRows(
      centroids.withColumnRenamed("coarse_id", "centroid_id"))
    // coarse argmax + residual in the same pass: a narrow in-row
    // argmax over the literal centroids below the valve (no n·nlist
    // blowup, no object aggregate),
    // the crossJoin + max_by form beyond — same pick, same residual
    val er = (if (cents.nonEmpty && centroidBytes(cents) <= LitAssignMaxBytes)
        e.withColumn("cc", bestCentroidStruct(col("emb"), cents, 6))
          .select(col("vec_id"), col("cc.centroid_id").as("coarse_id"),
            zip_with(col("emb"), col("cc.c_emb"), _ - _).as("emb"))
      else
        e.crossJoin(broadcast(centroids))
          .withColumn("c_sim", round(cosine(col("emb"), col("c_emb")), 6))
          .groupBy(col("vec_id"))
          .agg(max_by(struct(col("coarse_id"), col("c_emb")),
              struct(col("c_sim"), (-col("coarse_id")).as("neg"))).as("cc"),
            first(col("emb")).as("x"))
          .select(col("vec_id"), col("cc.coarse_id").as("coarse_id"),
            zip_with(col("x"), col("cc.c_emb"), _ - _).as("emb")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val svs = pqSubvectors(er, "vec_id", m, dsub,
        extra = Seq("coarse_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // seed the residual codebooks from NON-centroid vectors: the
    // mod-prime seed order is the same one that picked the coarse
    // seeds, and an UNTRAINED centroid's residual is exactly zero —
    // seeding from them collapses every subspace codebook to one zero
    // cell (all-equal d2, min-cell tiebreak) and ADC scores go
    // constant. With trained centroids the seed's residual is merely
    // near-zero; the filter stays (deterministic, oracle-replayed) so
    // the seeding rule is one rule at every coarseIters.
    // A vector owns its coarse seed iff vec_id == coarse_id.
    // Training is EAGER (pqTrainOn collects each KB-scale codebook),
    // so both caches serve every Lloyd pass and are dropped before
    // return — nothing cached rides the lazy plan, repeated
    // invocations leave no CacheManager entries; the final job
    // recomputes the coarse assignment once (same work the original
    // cache-miss path did).
    val cb1 =
      try pqTrainOn(er.filter(col("vec_id") =!= col("coarse_id")),
        svs, ksub, m, dsub, iters)
      finally { svs.unpersist(); er.unpersist() }
    // coarse_id rides the encode (functionally dependent on vec_id)
    // instead of a post-hoc n·m ⋈ n join; in-row below the valve
    val model1 = pqModelOf(cb1)
    val codes =
      if (model1.nonEmpty && pqModelBytes(model1) <= LitAssignMaxBytes)
        pqAssignInRow(svs, model1, carry = Seq("coarse_id"))
      else pqAssign(svs, cb1, carry = Seq("coarse_id"))
    (centroids, cb1, codes)
  }

  /** The per-probe coarse pruning table (query_id, coarse_id, qc):
    * nprobe nearest cells by rounded-6 cosine with the coarse-id
    * tiebreak, qc = the rounded-4 query·centroid dot the final score
    * adds back. Shared by [[ivfPqTopK]] and [[VectorIndex.query]].
    */
  private[ext] def ivfPqProbes(q: DataFrame, centroids: DataFrame,
                               nprobe: Int): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("c_sim").desc, col("coarse_id"))
    q.crossJoin(broadcast(centroids))
      .withColumn("c_sim", round(cosine(col("emb"), col("c_emb")), 6))
      .withColumn("c_rank", row_number().over(wp))
      .filter(col("c_rank") <= nprobe)
      .select(col("query_id"), col("coarse_id"),
        round(dot(col("emb"), col("c_emb")), 4).as("qc"))
  }

  /** The per-probe ADC distance table (query_id, sub, cell, pd). */
  private[ext] def ivfPqDtable(q: DataFrame, cb1: DataFrame, m: Int,
                               dsub: Int): DataFrame =
    pqSubvectors(q, "query_id", m, dsub)
      .join(broadcast(cb1), "sub")
      .select(col("query_id"), col("sub"), col("cell"),
        round(dot(col("sv"), col("c_sv")), 4).as("pd"))

  /** The scoring/selection tail — codes ⋈ broadcast probes (the cell
    * pruning) ⋈ broadcast distance table, DECIMAL ADC sum, rank on
    * round(coarse_dot + ADC, 4) with the family's vec_id tiebreak.
    */
  private[ext] def ivfPqRank(codes: DataFrame, probes: DataFrame,
                             dtable: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("approx_ip").desc, col("vec_id"))
    codes.join(broadcast(probes), Seq("coarse_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(dtable), Seq("query_id", "sub", "cell"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(first(col("qc")).as("qc"),
        sum(col("pd").cast("decimal(38,18)")).cast("double").as("r_ip"))
      .withColumn("approx_ip", round(col("qc") + col("r_ip"), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("approx_ip"), col("rank"))
  }

  /** `nlist = 0` (the default) auto-sizes the coarse cell count to
    * ⌈N/128⌉ with floor 16 — the d09 occupancy-constant rule
    * ([[autoNlist]]), shared with [[VectorIndex.init]] so the
    * in-query form and the persisted store resolve IDENTICAL models
    * at every corpus size (the s08 == s17 oracle contract). A fixed
    * nlist at 100× the corpus would degrade nprobe/nlist pruning to a
    * constant 4/16; under the rule the probed fraction shrinks as the
    * corpus grows. The s08/s17/s19 oracles replay the same integer
    * sizing in SQL.
    */
  def ivfPqTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
                nlist: Int = 0, nprobe: Int = 4,
                m: Int = 8, ksub: Int = 16, dim: Int = 64,
                iters: Int = 1, coarseIters: Int = 1): DataFrame = {
    val dsub = dim / m
    val e = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val (nl, n) =
      if (nlist > 0) (nlist, -1L)
      else { val n = e.count(); (autoNlist(n), n) }
    val ix = ivfPqIndex(e, nl, m, ksub, dim, iters, coarseIters, n)
    val q = queries.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").cast("array<double>").as("emb"))
    ivfPqRank(ix.codes, ivfPqProbes(q, ix.centroids, nprobe),
      ivfPqDtable(q, ix.codebooks, m, dsub), k)
  }

  /** ANN via L hash tables of `bits` sign-bits: bucket-equality join
    * for candidates, then exact cosine re-rank of candidates only.
    */
  def annTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
              tables: Int = 8, bits: Int = 8, dim: Int = 64): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("q_emb"))
    val eSig = signatures(e, "vec_id", tables, bits, dim)
    val qSig = signatures(q.withColumnRenamed("q_emb", "emb")
        .withColumnRenamed("query_id", "qid"), "qid", tables, bits, dim)

    val candidates = eSig.join(broadcast(qSig), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid").as("query_id"), col("vec_id"))
      .distinct() // a pair can collide in several tables

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    candidates
      .join(e, "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("sim", round(cosine(col("emb"), col("q_emb")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("sim"), col("rank"))
  }

  /** ANN recall@k — the quality metric every approximate-index
    * deployment reports: per probe, the fraction of the EXACT top-k
    * neighbors the LSH index ([[annTopK]]) actually returned. Run on
    * a probe SAMPLE in production (the exact side is the [[cosineTopK]]
    * truth twin — quadratic in the corpus, which is the point: this is
    * an offline evaluation operator, not a serving path; sample size,
    * not corpus size, bounds its cost). Both sides rank on 4-decimal
    * rounded similarity with a vec_id tiebreak, so the metric is
    * deterministic across runs/engines/partitionings.
    */
  def annRecallAtK(embeddings: DataFrame, queries: DataFrame,
                   k: Int): DataFrame =
    recallAtK(cosineTopK(embeddings, queries, k),
      annTopK(embeddings, queries, k),
      queries.select(col("vec_id").as("query_id")))

  /** The metric itself, index-agnostic: per-probe fraction of the
    * `exact` top-k that `approx` returned — any two (query_id,
    * neighbor_id) rankings compare, so every index family (s02 LSH,
    * s07 PQ, s08 IVF-PQ, or an external one) grades through ONE
    * definition that cannot drift per family.
    *
    * Single-consumption shape: the expensive exact side (s01's
    * quadratic truth twin) feeds ONE left-outer join + ONE grouped
    * aggregation — not a semi-join branch AND a count branch that
    * would evaluate the cross-join twice if exchange reuse doesn't
    * fire. approx is rank-deduped, so the outer join cannot
    * multiply exact rows.
    */
  def recallAtK(exactTopK: DataFrame, approxTopK: DataFrame,
                probes: DataFrame): DataFrame = {
    val exact = exactTopK.select(col("query_id"), col("neighbor_id"))
    val approx = approxTopK
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val perProbe = exact
      .join(approx, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k_eval"), count(col("hit")).as("n_hits"))
    // probe-complete: a probe whose exact top-k is empty (degenerate
    // corpus) still gets a row — k_eval 0, recall 0.0 — instead of
    // silently vanishing from the quality report
    probes.select(col("query_id")).distinct()
      .join(perProbe, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("k_eval"), lit(0L)).as("k_eval"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("k_eval"), lit(0L)) === 0, lit(0.0d))
          .otherwise(round(coalesce(col("n_hits"), lit(0L))
            .cast("double") / col("k_eval"), 4)).as("recall"))
  }
}
