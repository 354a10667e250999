package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch-based integrity probes beyond HLL/quantiles: Bloom-filter
  * membership — "did every key we exported land in the restore?"
  * answered in constant memory instead of an anti-join of two 100 TB
  * key sets.
  *
  * Scale shape: the filter builds in one distributed aggregation
  * (per-partition filters OR-merged — commutative, so the result is
  * deterministic under any partitioning); membership testing broadcasts
  * the filter once per executor and stays a narrow map. A false
  * negative is impossible by construction, so "exported key missing
  * from the filter" is a hard integrity failure, while false positives
  * are bounded by fpp.
  */
object Sketches {

  import graft.ext.Hashing

  /** Bloom sizing is INTEGER-ONLY by contract: `m = n·bitsPerKey`
    * bits and a fixed hash count, instead of the textbook
    * `⌈−n·ln p / ln²2⌉` — a float formula whose `ceil` could disagree
    * across engines by one ulp and silently shear every position.
    * 10 bits/key with 7 hashes realizes fpp ≈ 0.0082 (< the 1%
    * design point). m is capped at P−1 (2³¹−2 bits = 256 MB): beyond
    * that, shard keys by hash into independent sub-filters each under
    * the cap (a blocked Bloom) — the build below is a commutative
    * OR-merge either way, so sharding composes without new machinery.
    */
  val BloomBitsPerKey = 10
  val BloomHashes = 7

  /** The i-th bit position of hash h in an m-bit filter: the portable
    * universal family `(a_i·(h mod P) + b_i) mod P mod m` — every
    * intermediate < 2⁶², exact in any 64-bit engine, and the SAME
    * family the minhash operators share with their oracles.
    */
  @inline private[graft] def bloomPos(i: Int, h: Long, m: Int): Int =
    (((Hashing.As(i) * (h % Hashing.P) + Hashing.Bs(i)) % Hashing.P)
      % m).toInt

  /** Distributed bitmap build: per-partition Array[Long] partials,
    * OR-merged (commutative ⇒ deterministic under any partitioning —
    * the same argument as the KMV set-minima). The buffer is the
    * filter itself, m/64 words, independent of input size.
    */
  private def bloomAgg(m: Int, k: Int): org.apache.spark.sql.expressions
      .Aggregator[Long, Array[Long], Array[Long]] =
    new org.apache.spark.sql.expressions
        .Aggregator[Long, Array[Long], Array[Long]] {
      def zero: Array[Long] = new Array[Long]((m + 63) >>> 6)
      def reduce(b: Array[Long], h: Long): Array[Long] = {
        var i = 0
        while (i < k) {
          val pos = bloomPos(i, h, m)
          b(pos >>> 6) |= 1L << (pos & 63)
          i += 1
        }
        b
      }
      def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
        var i = 0
        while (i < a.length) { a(i) |= b(i); i += 1 }
        a
      }
      def finish(r: Array[Long]): Array[Long] = r
      def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
      def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    }

  /** Build a Bloom filter over `keys.keyCol` and probe every
    * `candidates.candCol`: returns `candidates` with a `might_contain`
    * verdict column appended (all other candidate columns pass
    * through — no join-back needed).
    *
    * Integral, string, boolean, date, timestamp and binary keys are
    * supported: both sides are normalized to their canonical string
    * form and hashed with the portable base60 family, so the filter
    * and the probes always hash the same representation even when the
    * two columns have different integer widths (int keys vs bigint
    * probes) — and an oracle can recompute every bit position (e10 is
    * a green CORRECTNESS row, not an engine-only claim). Fractional
    * types (float/double/decimal) are REJECTED rather than silently
    * mis-normalized — double 5.0 renders "5.0" while a bigint probe
    * renders "5", a guaranteed false negative that would violate the
    * no-false-negative integrity contract; pre-normalize such keys to
    * a single type on both sides before calling. The 60-bit pre-hash
    * adds ~n²/2⁶⁰ collision probability — noise next to fpp. Null
    * keys probe as non-members.
    *
    * The filter materializes on the driver (one `head()` action, the
    * same lifecycle Spark's own `stat.bloomFilter` has) and
    * broadcasts once per executor; the probe is a narrow map.
    */
  def bloomMembership(spark: SparkSession, keys: DataFrame, keyCol: String,
                      candidates: DataFrame, candCol: String,
                      expectedItems: Long): DataFrame = {
    def rejectFractional(df: DataFrame, c: String): Unit = {
      import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
      df.schema(c).dataType match {
        case FloatType | DoubleType | _: DecimalType =>
          throw new IllegalArgumentException(
            s"bloomMembership: column '$c' is fractional — its string " +
              "form ('5.0'/'5.00') can never match an integral probe's " +
              "('5'), guaranteeing false negatives. Cast both sides to " +
              "one type first.")
        case _ => ()
      }
    }
    rejectFractional(keys, keyCol)
    rejectFractional(candidates, candCol)
    import spark.implicits._
    val m = math.min(math.max(expectedItems, 1L) * BloomBitsPerKey,
      (Hashing.P - 1).toLong).toInt
    val k = BloomHashes
    // md5(null) is null, so null keys drop out of the build and probe
    // as non-members — no special casing beyond the null gate.
    val words = keys.filter(col(keyCol).isNotNull)
      .select(Hashing.base60(col(keyCol).cast("string")).as("h"))
      .as[Long]
      .select(bloomAgg(m, k).toColumn)
      .head()
    // native codegen probe (graft.functions.BloomMightContain): the
    // bitmap rides in the plan's reference array — distributed with
    // the task binary's broadcast, and the scan → hash → probe path
    // stays inside one whole-stage loop (a UDF would break it)
    candidates.withColumn("might_contain",
      graft.functions.SketchProbes.bloom_might_contain(
        when(col(candCol).isNotNull,
          Hashing.base60(col(candCol).cast("string"))), words, k, m))
  }

  /** Heavy hitters via Count-Min-Sketch candidate pruning + exact
    * re-verification: items occurring more than `minShare` of the
    * total stream.
    *
    * Returns EXACTLY the rows of the brute-force
    * `group-by → filter(count > minShare·total)` — not an
    * approximation — because (a) CMS only ever OVER-estimates, so
    * every true heavy hitter survives the candidate filter (no false
    * negatives by construction), and (b) candidates are re-counted
    * exactly before the final threshold, which removes the false
    * positives. That makes the operator oracle-checkable against the
    * exact SQL.
    *
    * Scale shape (the point vs the exact form): the exact group-by
    * shuffles one row per DISTINCT item — at 100 TB of web tokens
    * that is billions of rows of exchange for a handful of answers.
    * Here pass 1 builds the sketch (fixed ~`2/eps · ln(1/(1-conf))`
    * counters, merged commutatively across partitions) and pass 2
    * probes each scanned item against the broadcast sketch BEFORE the
    * group-by, so only occurrences of near-heavy tokens ever reach an
    * exchange — the exact re-count falls out of the same aggregation.
    * The probe is a native codegen expression
    * ([[graft.functions.CmsEstimate]] — no public built-in probes a
    * CountMinSketch, and a Scala UDF would break the whole-stage
    * pipeline), same pattern as the bloom probe above — narrow, no
    * shuffle.
    *
    * `eps` trades sketch memory for candidate precision: estimates
    * exceed truth by at most eps·total with prob ≥ confidence, so the
    * candidate set is ~{items with share > minShare − eps}. Choose
    * eps ≪ minShare.
    */
  def heavyHittersCms(items: DataFrame,
                      itemCol: String, minShare: Double,
                      eps: Double = 1e-4, confidence: Double = 0.99,
                      seed: Int = 42): DataFrame = {
    require(minShare > 0 && minShare < 1, s"minShare=$minShare out of (0,1)")
    val stream = items.filter(col(itemCol).isNotNull)
      .select(col(itemCol).cast("string").as("token"))
    val cms = stream.stat.countMinSketch("token", eps, confidence, seed)
    val total = cms.totalCount // exact: CMS tracks the true add count
    // floor(minShare·total) is a safe candidate bar: a true hitter has
    // n > minShare·total ⇒ n ≥ floor+1 > floor, and est ≥ n.
    val bar = (minShare * total).toLong
    // native codegen probe (graft.functions.CmsEstimate) — same
    // plan-reference distribution as the bloom probe above
    val est = graft.functions.SketchProbes.cms_estimate(col("token"), cms)
    // est is deterministic per token, so filtering the stream IS the
    // candidate selection: every occurrence of a surviving token
    // passes, so the group-by after the filter re-counts candidates
    // exactly — no separate distinct + semi-join pass (which would
    // cost a third full scan) needed.
    stream.filter(est > lit(bar))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") > lit(total) * lit(minShare))
      .select(col("token"), col("n_occurrences"),
        (col("n_occurrences").cast("double") / lit(total)).as("share"))
  }

  // ---------------------------------------------------------------
  // Portable HyperLogLog — Flajolet et al. 2007 with the standard
  // small-range (linear-counting) correction, over the base60 hash
  // family. The POINT vs approx_count_distinct: Spark's HLL++ bias
  // tables are engine-private, so its estimates can never be
  // oracle-checked; this one is arithmetic all the way down —
  // register index = top HllP hash bits, rho via the bin()-string
  // length (exact integer ops in both engines), and the harmonic sum
  // kept as a SCALED BIGINT (Σ 2^(L−ρ_j)) so no float summation
  // order exists to disagree about. Only the final two IEEE ops and
  // ln() touch doubles, and the result is rounded to a long, which
  // absorbs any last-ulp libm skew.
  // ---------------------------------------------------------------

  /** Register-index bits: m = 2^12 = 4096 registers → rsd ≈ 1.6%. */
  val HllP = 12
  val HllM: Int = 1 << HllP
  /** Max rho: 60−p zero bits + 1. */
  val HllL: Int = 60 - HllP + 1
  /** alpha_m · m² (m ≥ 128 form), one double whose decimal repr the
    * oracle re-parses to the identical bits. */
  val HllAlphaMM: Double = 0.7213 / (1 + 1.079 / HllM) * HllM * HllM
  /** 2^L as an exact double (power of two). */
  val HllTwoL: Double = (1L << HllL).toDouble

  /** One-pass mergeable NDV estimates for several columns of `df` at
    * once: returns one row per (tag, column) with the exact scanned
    * row count and the rounded HLL estimate. Scale shape: the only
    * exchanges are a (tag, idx) hash aggregate bounded by tags·4096
    * rows and its tag-level fold — nothing keyed by the data's values
    * is ever shuffled, and partial registers MAX-merge commutatively
    * (deterministic under any partitioning, like the KMV minima).
    */
  def hllEstimates(df: DataFrame,
                   cols: Seq[(String, String)]): DataFrame = {
    val mask = (1L << (60 - HllP)) - 1
    val hs = cols.map { case (tag, c) =>
      df.filter(col(c).isNotNull)
        .select(lit(tag).as("c"),
          Hashing.base60(col(c).cast("string")).as("h"))
    }.reduce(_ unionAll _)
    val rr = hs.select(col("c"), shiftright(col("h"), 60 - HllP).as("idx"),
      col("h").bitwiseAND(lit(mask)).as("rest"))
    val reg = rr.groupBy(col("c"), col("idx"))
      .agg(max(when(col("rest") === 0, HllL)
        .otherwise(lit(HllL) - length(bin(col("rest"))))).as("r"),
        count(lit(1)).as("cnt"))
    val ag = reg.groupBy(col("c"))
      .agg(count(lit(1)).as("nreg"), sum(col("cnt")).as("nrows"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $HllL - r)")).as("s1"))
    val v = lit(HllM) - col("nreg")
    val s = col("s1") + v.cast("long") * lit(1L << HllL)
    val raw = lit(HllAlphaMM) * (lit(HllTwoL) / s.cast("double"))
    val est = when(v > 0 && raw <= lit(2.5 * HllM),
      lit(HllM.toDouble) * log(lit(HllM.toDouble) / v.cast("double")))
      .otherwise(raw)
    ag.select(col("c"), col("nrows"),
      round(est).cast("long").as("est"))
  }

  // ---------------------------------------------------------------
  // KMV (k-minimum-values) distinct-value sketch — the cardinality
  // op HLL cannot answer: the NDV of an INTERSECTION (user overlap
  // between two event streams, key overlap between two backup
  // sessions). Beyer et al., "On synopses for distinct-value
  // estimation under multiset operations", SIGMOD'07.
  //
  // The sketch is the k smallest DISTINCT hash values — fully
  // deterministic under any partitioning (a set minimum is
  // order-free), mergeable (union = merge-and-trim), and k longs of
  // state regardless of input size. At 100 TB both sketches build in
  // one pass with k-bounded map-side partials; nothing about the
  // user/key population is ever shuffled or collected.
  // ---------------------------------------------------------------

  /** Insert into a sorted-ascending distinct k-bounded buffer.
    * Reject decisions (duplicate, or k smaller values already present
    * — after warm-up almost every row) are made in ONE allocation-free
    * walk of the ≤k-element list; only a genuine insert pays the
    * rebuild.
    */
  private[graft] def kmvInsert(buf: List[Long], x: Long,
                               k: Int): List[Long] = {
    // pass 1, allocation-free: count elements < x, detect duplicates
    var rest = buf
    var n = 0
    var reject = false
    while (!reject && rest.nonEmpty && rest.head < x) {
      n += 1
      if (n == k) reject = true // k smaller values exist: x can't enter
      else rest = rest.tail
    }
    if (reject || (rest.nonEmpty && rest.head == x)) buf
    else {
      // pass 2: rebuild prefix, splice x, keep at most k elements
      val pre = List.newBuilder[Long]
      var p = buf
      var i = 0
      while (i < n) { pre += p.head; p = p.tail; i += 1 }
      pre += x
      pre.result() ::: rest.take(k - n - 1)
    }
  }

  /** The KMV input projection — the ONE place that encodes the hash
    * family: the engine-portable [[graft.ext.Hashing.base60]] (top 60
    * md5 bits of the key's canonical string form, a positive long, so
    * signed ordering IS hash ordering with no sign-flip gymnastics).
    * Portability is the point: DuckDB recomputes the identical hashes
    * with `md5()` + `substr()`, so the k-minima — and therefore every
    * estimate derived from them — are oracle-checkable (ev13), the
    * same trade d03 makes for its minhash family. md5's mixing is
    * cryptographic, strictly stronger than the xxhash64 this family
    * replaced.
    */
  def kmvInput(df: DataFrame, keyCol: String, isA: Column,
               isB: Column): Dataset[(Long, Boolean, Boolean)] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        graft.ext.Hashing.base60(col(keyCol).cast("string")).as("h"),
        isA.as("ia"), isB.as("ib"))
      .as[(Long, Boolean, Boolean)]
  }

  /** One-pass paired KMV: input rows are (hash, inA, inB); the two
    * sketches build side by side so overlap queries scan the stream
    * once. Hashes are [[kmvInput]]'s positive 60-bit values, so plain
    * signed ordering is hash ordering.
    */
  def kmvPair(k: Int): org.apache.spark.sql.expressions.Aggregator[
      (Long, Boolean, Boolean), (List[Long], List[Long]),
      (Seq[Long], Seq[Long])] =
    new org.apache.spark.sql.expressions.Aggregator[
        (Long, Boolean, Boolean), (List[Long], List[Long]),
        (Seq[Long], Seq[Long])] {
      def zero: (List[Long], List[Long]) = (Nil, Nil)
      def reduce(b: (List[Long], List[Long]), e: (Long, Boolean, Boolean))
          : (List[Long], List[Long]) =
        (if (e._2) kmvInsert(b._1, e._1, k) else b._1,
          if (e._3) kmvInsert(b._2, e._1, k) else b._2)
      def merge(a: (List[Long], List[Long]), b: (List[Long], List[Long]))
          : (List[Long], List[Long]) =
        (b._1.foldLeft(a._1)(kmvInsert(_, _, k)),
          b._2.foldLeft(a._2)(kmvInsert(_, _, k)))
      def finish(r: (List[Long], List[Long])): (Seq[Long], Seq[Long]) = r
      def bufferEncoder
          : org.apache.spark.sql.Encoder[(List[Long], List[Long])] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
      def outputEncoder
          : org.apache.spark.sql.Encoder[(Seq[Long], Seq[Long])] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    }

  /** Fraction of the 2⁶⁰ base60 hash space at or below hash x — ONE
    * IEEE division on exact inputs, mirrored verbatim by the ev13
    * oracle so estimates agree bit-for-bit.
    */
  val HashSpace: Double = 1.152921504606846976e18 // 2^60, exact
  private def hashFraction(x: Long): Double = x.toDouble / HashSpace

  /** NDV estimate from a k-sketch: exact when the sketch never filled
    * (it then holds EVERY distinct hash); (k−1)/F(x_k) otherwise.
    */
  def kmvNdv(sketch: Seq[Long], k: Int): Double =
    if (sketch.lengthCompare(k) < 0) sketch.length.toDouble
    else (k - 1).toDouble / hashFraction(sketch.last)

  /** Intersection-NDV estimate from two k-sketches: the k smallest of
    * the union form a valid union sketch; the fraction of them present
    * in BOTH input sketches estimates the Jaccard index, scaled by the
    * union NDV. Exact when neither sketch filled.
    */
  def kmvOverlap(a: Seq[Long], b: Seq[Long], k: Int): Double = {
    val union = (a ++ b).distinct.sorted.take(k)
    val sa = a.toSet
    val sb = b.toSet
    val rho = union.count(x => sa(x) && sb(x))
    if (union.isEmpty) 0.0
    else rho.toDouble / union.length * kmvNdv(union, k)
  }
}
