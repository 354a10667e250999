package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.engine.{Compactor, FactLog}
import graft.plans.DriverFold

/** Deduplication operators for a training-data pipeline [EXT]:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (the point of each variant):
  *  - exact: one hash-shuffle on the digest — embarrassingly scalable.
  *  - jaccard: exact pairwise similarity but only over pairs sharing a
  *    shingle, with a document-frequency cap so stop-shingles can't
  *    create quadratic candidate blowup. Shuffles on shingle, then on
  *    (a,b) pair — never a cross join.
  *  - minhash LSH: constant-size signature per doc (k=16 longs)
  *    regardless of doc length; candidates = bucket-equality join on
  *    band keys. The only all-pairs work is within a bucket.
  *  - simhash: one 60-bit fingerprint per doc; banded self-join is
  *    EXACT for Hamming ≤ 3 (pigeonhole over 4 bands) — no verify
  *    pass needed at that radius.
  *
  * Corpus growth is O(delta), not a recompute: see the incremental
  * signature-maintenance block ([[writeSignatures]] /
  * [[updateSignatures]] / [[updatePairs]]).
  */
object Dedup {

  import Hashing._

  def tokens: Column = TextAnalysis.tokens(col("text"))

  /** Word n-gram shingle STRINGS, distinct per doc, over a BOUND token
    * array column (callers materialize `tokens` in a prior projection —
    * passing the split() expression itself re-evaluates it per slice on
    * the interpreted HOF path, O(tokens²) per doc; see
    * [[windowHashArr]]). Guarded for docs shorter than n tokens (empty
    * set, not an error). The string form exists for the operators whose
    * DuckDB oracle must recompute the SAME shingle text (minhash's
    * base60 family); everything else keys on [[windowHashArr]] hashes.
    */
  def shinglesOf(tk: Column, n: Int): Column =
    when(size(tk) >= n,
      array_distinct(transform(sequence(lit(0), size(tk) - n),
        i => concat_ws(" ", slice(tk, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))

  /** Winnowing fingerprints [EXT] — the MOSS local-fingerprint
    * selection (Schleimer/Wilkerson/Aiken, SIGMOD 2003): slide a
    * window of `w` consecutive shingle hashes per doc and keep each
    * window's MINIMUM; the distinct minima are the doc's fingerprint
    * set. Guarantees: any shared run of w+n-1 tokens contributes at
    * least one common fingerprint (detection), and density is
    * ~2/(w+1) of the shingles (compression) — the partial-overlap
    * primitive that whole-doc digests (x04) miss entirely and that a
    * copy-detection / cross-corpus attribution pass joins on.
    *
    * Emitting the distinct-minima SET (rather than (pos, hash) pairs)
    * makes the operator tie-free by construction — equal hashes from
    * repeated shingles can change WHICH position wins a window but
    * never the winning hash value — so the DuckDB twin reproduces the
    * output exactly with the same window min, no argmin/tiebreak
    * hazard. Short docs (fewer than w shingles) contribute their
    * global min: the frame clamps at the partition end identically in
    * both engines.
    *
    * Scale: ZERO SHUFFLE. Winnowing is per-document-local, so the
    * window minima are computed INSIDE the row with array functions
    * (least() over w adjacent hashes, then array_distinct) — a narrow
    * codegen-friendly map over the scan, no doc-keyed exchange, no
    * skew exposure from giant docs beyond their own row, and
    * stateless-streaming-capable as-is (`readStream` docs → winnow →
    * sink needs no watermark or state). Hashes are the portable base60
    * (shingle strings, not xxhash), because the fingerprint VALUES are
    * the output and the oracle must rebuild them — the oracle keeps
    * the equivalent window-min SQL form.
    */
  def winnow(docs: DataFrame, n: Int = 3, w: Int = 4): DataFrame = {
    // HOF-trap discipline: bind the token array, then the hash array,
    // each in its OWN projection (interpreted lambdas have no CSE —
    // an unbound expression re-evaluates per element reference)
    val shArr = when(size(col("tk")) >= n,
        transform(sequence(lit(0), size(col("tk")) - n),
          i => concat_ws(" ", slice(col("tk"), i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
    val hashArr = transform(col("sh"), s =>
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.Base60HashExpr(
          org.apache.spark.sql.GraftColumnBridge.expression(s))))
    // minima of every full w-window; docs with 1..w-1 shingles keep
    // their global min (same clamped-frame semantics as the oracle)
    val winMins = when(size(col("hs")) >= w,
        array_distinct(transform(sequence(lit(0), size(col("hs")) - w),
          i => least((0 until w).map(j =>
            element_at(col("hs"), i + j + 1)): _*))))
      .when(size(col("hs")) >= 1, array(array_min(col("hs"))))
      .otherwise(array().cast("array<long>"))
    docs.select(col("doc_id"), tokens.as("tk"))
      .select(col("doc_id"), shArr.as("sh"))
      .select(col("doc_id"), hashArr.as("hs"))
      .select(col("doc_id"), explode_outer(winMins).as("fp"))
      .filter(col("fp").isNotNull)
  }

  /** Winnowed overlap pairs [EXT] — the copy-detection join [[winnow]]
    * exists for: doc pairs sharing ≥ `minShared` fingerprints. This is
    * the pairwise-overlap SCALE PATH: the join runs at winnowed
    * density (~2/(w+1) of the shingle table — 60% smaller at w=4),
    * with d02's counted-pairs shape (hash-partition once on fp;
    * df-cap, doc-list collect and pair explosion all exchange-free on
    * that partitioning; the ONLY shuffle is the final pair-count
    * aggregation). `maxDf` drops boilerplate fingerprints shared by
    * more than maxDf docs — same stop-shingle rationale as
    * [[jaccardPairs]]: a viral snippet's C(df,2) pair explosion buys
    * no dedup signal.
    */
  /** The fp-partitioned fingerprint plan [[winnowOverlapPairs]] caches
    * and [[release]] uncaches. ONE definition on purpose: CacheManager
    * matches by canonical plan, so if the two call sites ever derived
    * it independently a drift (projection, storage level, partition
    * expression) would silently turn release() into a no-op cache
    * leak.
    */
  private def winnowFp(docs: DataFrame, n: Int, w: Int): DataFrame =
    winnow(docs, n, w).repartition(col("fp"))

  def winnowOverlapPairs(docs: DataFrame, n: Int = 3, w: Int = 4,
                         minShared: Int = 2, maxDf: Int = 50): DataFrame = {
    val fp = winnowFp(docs, n, w)
      .transform(SharedCache.persistShared)
    val rare = fp.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
      .select("fp")
    val lists = fp.join(rare, "fp")
      .groupBy(col("fp"))
      .agg(array_sort(collect_list(col("doc_id"))).as("docs"))
    val k = size(col("docs"))
    lists.select(explode(flatten(transform(sequence(lit(0), k - 2),
        i => transform(slice(col("docs"), i + 2, k - i - 1), b =>
          struct(element_at(col("docs"), i + 1).as("a"), b.as("b"))))))
        .as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Exact dedup: group by content digest, keep the minimum doc_id —
    * deterministic survivor choice (`dropDuplicates` picks an
    * arbitrary row; a reproducible pipeline must not).
    */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("digest"))
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Corpus-wide PARAGRAPH dedup (d18) — the CCNet/Dolma boilerplate
    * pass: split each document's text on newlines, keep only the
    * GLOBALLY FIRST occurrence of each paragraph (winner = the
    * lexicographically smallest `(doc_id, idx)` — total order, so
    * replays are bit-stable), and reassemble each document from its
    * surviving paragraphs in original order. Repeated chrome (nav
    * bars, footers, legal blurbs) appears once corpus-wide and
    * vanishes everywhere else — the page-boilerplate removal an
    * HTML-extracted crawl needs before quality scoring.
    *
    * Scale notes: winner selection is `min(struct(doc_id, idx))`
    * under `groupBy(para)` — partial aggregation combines map-side,
    * so a boilerplate paragraph shared by a billion pages costs one
    * row per task, not a billion-row window partition (the skew that
    * kills a `row_number() OVER (PARTITION BY para)` plan at 100 TB).
    * Three shuffles total (para-agg, para-join, doc-reassembly); the
    * reassembly collects only SURVIVING paragraphs per doc.
    * `collect_list` skips nulls, so the keep-marked join feeds one
    * doc-side aggregate for counts and rebuild alike.
    */
  def paragraphDedup(docs: DataFrame): DataFrame = {
    val lines = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("idx", "para")))
    val pos = struct(col("doc_id"), col("idx"))
    val winners = lines.groupBy("para").agg(min(pos).as("w"))
    lines.join(winners, "para")
      .withColumn("keep", pos === col("w"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_paras"),
        sum(when(col("keep"), 1).otherwise(0)).cast("int")
          .as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("idx"), col("para"))))),
            x => x.getField("para")),
          "\n").as("clean_text"))
  }

  /** The exploded, hash-keyed shingle table shared by [[jaccardPairs]]'
    * consumers. Joins/aggregates key on a 64-bit xxhash64 of the
    * shingle, not the string: 8-byte shuffle keys instead of ~25-byte
    * strings, whole-stage-codegen'd and an order of magnitude cheaper
    * than a cryptographic digest. The hash never appears in operator
    * output, so the DuckDB oracle joins raw shingle strings instead (a
    * collision merging two shingles is ~2^-64 per pair — ignorable).
    */
  private[ext] def hashedShingles(docs: DataFrame, n: Int): DataFrame =
    hashedShingles(docs, n, Nil)

  /** As above with extra functionally-dependent-on-doc_id columns
    * carried through (the pqAssign `carry` idiom —
    * [[jaccardClusterEdges]] rides its representative multiplicity
    * along so the weighted df needs no post-hoc join against the
    * shingle-partitioned table).
    */
  private[ext] def hashedShingles(docs: DataFrame, n: Int,
                                  carry: Seq[String]): DataFrame = {
    // hash each TOKEN once, then key each n-token window by an
    // xxhash64 over its n token hashes (order-sensitive, same ~2^-64
    // collision class) — cheaper than materializing every window as a
    // concatenated string and hashing its bytes: per-token work is
    // O(chars), per-window work is n O(1) array reads + one fixed-width
    // hash, and no per-window string allocation. Each exploded row
    // carries its doc's distinct-shingle count `n_sh` (an int per row)
    // so downstream jaccard arithmetic needs NO per-doc sizes join.
    val extra = carry.map(col)
    docs.select(col("doc_id") +: extra :+
        transform(tokens, t => xxhash64(t)).as("th"): _*)
      .select(col("doc_id") +: extra :+
        windowHashArr(n, distinctWindows = true).as("sh_set"): _*)
      // explode_OUTER + post-explode null filter, deliberately: with a
      // plain explode, InferFiltersFromGenerate adds size(sh_set) > 0
      // below the Generate and predicate pushdown inlines the whole
      // shingling expression into that (non-codegen) Filter — the
      // tokenize+hash chain then re-evaluates per element_at reference,
      // O(tokens²) per doc (measured 15× slower). The rule skips outer
      // generators; empty docs surface as one null row dropped here.
      .select(col("doc_id") +: extra :+ size(col("sh_set")).as("n_sh") :+
        explode_outer(col("sh_set")).as("shingle"): _*)
      .filter(col("shingle").isNotNull)
      .repartition(col("shingle"))
  }

  /** The n-token window-hash array over a BOUND `th` column (the
    * per-token hash array) — callers MUST materialize `th` in a prior
    * projection: referencing the tokenize+hash expression directly
    * inside the window lambda re-evaluates it per element_at (the
    * interpreted HOF path has no common-subexpression elimination),
    * O(tokens²) per doc.
    */
  private[ext] def windowHashArr(n: Int,
                                 distinctWindows: Boolean): Column = {
    val windows = transform(sequence(lit(0), size(col("th")) - n),
      i => xxhash64((0 until n).map(j =>
        element_at(col("th"), i + j + 1)): _*))
    when(size(col("th")) >= n,
      if (distinctWindows) array_distinct(windows) else windows)
      .otherwise(array().cast("array<bigint>"))
  }

  /** Exploded `(doc_id?, sh)` window-hash rows, string-free — the
    * narrow (no repartition) sibling of [[hashedShingles]] for
    * broadcast-side and per-doc consumers. Same explode_outer
    * rationale as there.
    */
  private[ext] def shingleHashRows(df: DataFrame, n: Int,
                                   withDocId: Boolean): DataFrame = {
    val th = transform(tokens, t => xxhash64(t)).as("th")
    val base =
      if (withDocId) df.select(col("doc_id"), th) else df.select(th)
    val arr = windowHashArr(n, distinctWindows = true)
    val sel =
      if (withDocId)
        base.select(col("doc_id"), explode_outer(arr).as("sh"))
      else base.select(explode_outer(arr).as("sh"))
    sel.filter(col("sh").isNotNull)
  }

  /** Free the materialized intermediates the dedup operators created
    * for `docs`. CacheManager matches entries by canonical plan, so
    * re-deriving the same lazy DataFrame and unpersisting releases
    * exactly what [[jaccardPairs]]/[[minhashCandidates]]/
    * [[simhashPairs]] cached — call after consuming their results in a
    * long-lived session (blocking = false: lazy release).
    */
  def release(docs: DataFrame, n: Int = 3, w: Int = 4): Unit = {
    hashedShingles(docs, n).unpersist()
    minhashSignatures(docs, n).unpersist()
    simhashFingerprints(docs).unpersist()
    positionedWindows(docs, n).unpersist()
    // winnowOverlapPairs' fingerprint cache: the SAME def builds the
    // persisted and the unpersisted plan, so they cannot diverge
    winnowFp(docs, n, w).unpersist()
  }

  /** Exact n-gram Jaccard near-dup pairs (a < b, jaccard ≥ threshold).
    * |A∩B| via the shingle self-join, |A∪B| = |A|+|B|−|A∩B|.
    * The exploded shingle set is built once and reused for sizes,
    * doc-frequency cap and the join (one shingling pass, not three).
    */
  def jaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
                   maxDf: Int = 50): DataFrame = {
    // Materialize the exploded shingle table once: its four consumers
    // (per-doc sizes, doc-frequency cap, both self-join sides) would
    // otherwise each re-evaluate the shingling subtree (tokenize →
    // n-gram transform → explode) against the corpus scan — measured
    // as six scans and ~5× the runtime in the unmaterialized plan
    // (Catalyst cannot unify the branches: column pruning shapes each
    // copy differently). Pre-partitioning on the hash key lets the
    // df-cap aggregation and the self-join read cache-local partitions
    // without reshuffling. (doc_id, hash64) is 16 bytes/shingle —
    // orders of magnitude smaller than the corpus — and MEMORY_AND_DISK
    // spills rather than OOMs. Call [[release]] to free the entry in a
    // long-lived session; re-invocations on the same input reuse it
    // (CacheManager keys by canonical plan) rather than accumulating.
    countedPairs(docs, n, maxDf)
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Shared intersection machinery for [[jaccardPairs]] and
    * [[containmentPairs]]: `(doc_a, doc_b, na, nb, n_inter)` with
    * doc_a < doc_b, where na/nb are the docs' distinct-shingle counts.
    */
  private def countedPairs(docs: DataFrame, n: Int,
                           maxDf: Int): DataFrame = {
    val shAll = hashedShingles(docs, n)
      .transform(SharedCache.persistShared)
    val freq = shAll.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
      .select("shingle")
    // |A∩B| without a shingle self-join: the cached table is already
    // hash-partitioned on shingle, so df-cap count, cap join, and
    // per-shingle doc-list collect all run exchange-free in one stage;
    // each capped list (≤ maxDf docs — the cap join runs BEFORE the
    // collect, so no stop-shingle ever builds a giant list) explodes
    // to its C(df,2) ordered pairs. Each list element is
    // (doc_id, n_sh), so |A|/|B| ride along and the ONLY shuffle on
    // the whole path is the pair-count aggregation — no sizes join.
    val docLists = shAll.join(freq, "shingle")
      .groupBy(col("shingle"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("n_sh"))))
        .as("docs"))
    val k = size(col("docs"))
    inter_pairs(docLists, k)
      .groupBy(col("p.a.doc_id").as("doc_a"),
        col("p.b.doc_id").as("doc_b"),
        col("p.a.n_sh").as("na"), col("p.b.n_sh").as("nb"))
      .agg(count(lit(1)).as("n_inter"))
  }

  /** Directed containment pairs: C(A→B) = |A∩B| / |A| ≥ threshold —
    * the asymmetric twin of [[jaccardPairs]] that catches
    * SUBSET duplication (a quote, an excerpt, boilerplate inclusion):
    * a short doc fully contained in a long one has low jaccard (the
    * union is large) but containment ≈ 1. Both directions of each
    * intersecting pair are emitted and filtered independently. Same
    * plan as jaccard up to the final projection — one shuffle total.
    */
  def containmentPairs(docs: DataFrame, n: Int = 3,
                       threshold: Double = 0.6,
                       maxDf: Int = 50): DataFrame =
    countedPairs(docs, n, maxDf)
      .select(explode(array(
        struct(col("doc_a").as("src_doc"), col("doc_b").as("in_doc"),
          (col("n_inter").cast("double") / col("na")).as("containment")),
        struct(col("doc_b").as("src_doc"), col("doc_a").as("in_doc"),
          (col("n_inter").cast("double") / col("nb")).as("containment"))))
        .as("c"))
      .select(col("c.src_doc").as("src_doc"), col("c.in_doc").as("in_doc"),
        col("c.containment").as("containment"))
      .filter(col("containment") >= threshold)

  /** Explode each capped per-shingle doc list into its C(df,2)
    * ordered pairs `p = (a, b)` with a < b by doc_id (the lists are
    * sorted, and struct order sorts by the leading doc_id field).
    */
  private def inter_pairs(docLists: DataFrame, k: Column): DataFrame =
    docLists.select(explode(flatten(transform(sequence(lit(0), k - 2),
      i => transform(slice(col("docs"), i + 2, k - i - 1), b =>
        struct(element_at(col("docs"), i + 1).as("a"),
          b.as("b")))))).as("p"))

  /** Edge set sufficient to CLUSTER the capped-jaccard near-dup graph
    * — [[jaccardPairs]] ∘ [[clusters]]'s scale form: exact-duplicate
    * documents (identical text) collapse to their min-id
    * REPRESENTATIVE before the quadratic in-group pair expansion.
    * This is the first move of every production dedup cascade — on a
    * replicated corpus a k-copy family pays C(k,2) expanded pairs per
    * shared shingle under the naive plan, quadratic in the
    * replication factor, while the collapsed plan pays k member
    * edges; the shingling itself also runs over unique texts only.
    *
    * Connectivity (hence [[clusters]]' output — components, min-id
    * cluster ids, survivors) is preserved EXACTLY, including the
    * maxDf cap's semantics, which make this non-trivial:
    *  - the cap counts document frequency over the FULL corpus, so
    *    the collapsed df is the multiplicity-WEIGHTED sum (a shingle
    *    on 30 copies of one text has df 30, not 1);
    *  - members of a k ≥ 2 group pair with capped jaccard
    *    m/(2n − m) — m their text's capped shingle count, n its
    *    shingle count (the cap undercounts the intersection, so the
    *    union formula overcounts: identical docs do NOT automatically
    *    qualify) — the group's members join the edge set iff that
    *    value clears the threshold;
    *  - any cross-group member pair has EXACTLY its representatives'
    *    jaccard (identical shingle sets), so one representative pair
    *    stands for the complete bipartite member clique — and because
    *    that clique connects BOTH groups' members in the full graph
    *    even when a group's internal pairs don't qualify, member →
    *    representative edges are emitted for every group incident to
    *    a representative edge as well as for intra-qualifying ones.
    * DedupSpec pins clusters(these edges) == clusters(jaccardPairs)
    * row-for-row on replicated and adversarial corpora; the d08/d17
    * oracles (recursive CTE over the FULL pair SQL) hold unchanged.
    *
    * Exact-text grouping keys on xxhash64(text) — the repo's ~2⁻⁶⁴
    * collision class (shingles, band keys), not a byte shuffle of the
    * corpus. At 100 TB: one narrow hash + one (key, id) shuffle to
    * group, a broadcast of the representative list back onto the
    * scan, then the whole jaccard machinery runs on unique texts.
    */
  /** The collapse only pays when duplicates are a material fraction —
    * below this, the naive pair plan wins back its ~5 extra driver
    * jobs (group pass, intra/qualifying checkpoints, member joins) and
    * is taken instead. A performance DISPATCH, not a semantic one:
    * both branches cluster identically (spec-pinned on both sides of
    * the valve), exactly like the autoBits/autoNlist sizing rules.
    */
  private[ext] val CollapseMinDupFraction = 0.10

  def jaccardClusterEdges(docs: DataFrame, n: Int = 3,
                          threshold: Double = 0.5,
                          maxDf: Int = 50): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("text"),
      xxhash64(col("text")).as("tk"))
    val groups = keyed.select(col("doc_id"), col("tk"))
      .groupBy(col("tk"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("c"))
      .transform(SharedCache.persistShared)
    val statsRow = groups
      .agg(sum(col("c")).as("n_docs"), count(lit(1)).as("n_unique"))
      .collect()(0)
    val (nDocs, nUnique) =
      (statsRow.getAs[Long]("n_docs"), statsRow.getAs[Long]("n_unique"))
    if (nDocs - nUnique < nDocs * CollapseMinDupFraction)
      return jaccardPairs(docs, n, threshold, maxDf)
        .select(col("doc_a"), col("doc_b"))
    val repDocs = keyed
      .join(groups.select(col("rep").as("doc_id"), col("c")), "doc_id")
    val sh = hashedShingles(repDocs, n, carry = Seq("c"))
      .transform(SharedCache.persistShared)
    // the FULL-corpus df is the multiplicity-weighted sum
    val freq = sh.groupBy(col("shingle"))
      .agg(sum(col("c")).as("df"))
      .filter(col("df").between(2, maxDf))
      .select("shingle")
    val capped = sh.join(freq, "shingle")
    // representative pairs: countedPairs' machinery over unique texts.
    // Unlike there, a capped shingle can live on ONE representative
    // (weighted df ≥ 2 from its multiplicity alone — an intra-group
    // fact, handled below): single-element lists emit no pairs and
    // must not reach inter_pairs' expansion.
    val docLists = capped.groupBy(col("shingle"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("n_sh"))))
        .as("docs"))
      .filter(size(col("docs")) >= 2)
    val repPairs = inter_pairs(docLists, size(col("docs")))
      .groupBy(col("p.a.doc_id").as("doc_a"),
        col("p.b.doc_id").as("doc_b"),
        col("p.a.n_sh").as("na"), col("p.b.n_sh").as("nb"))
      .agg(count(lit(1)).as("n_inter"))
      .filter((col("n_inter").cast("double") /
        (col("na") + col("nb") - col("n_inter"))) >= threshold)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true) // consumed twice: edges + qualifying reps
    // groups whose INTERNAL member pairs qualify: capped jaccard of
    // identical texts is m/(2n − m) — the full plan's exact value
    val intraReps = capped.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("m"), first(col("n_sh")).as("n_sh"),
        first(col("c")).as("c"))
      .filter(col("c") >= 2)
      .filter((col("m").cast("double") /
        (lit(2) * col("n_sh") - col("m"))) >= threshold)
      .select(col("doc_id").as("rep"))
    val interReps = repPairs.select(col("doc_a").as("rep"))
      .unionByName(repPairs.select(col("doc_b").as("rep")))
    // eager and tiny (qualifying rep ids): the last consumer of the
    // shingle cache, so the cache releases HERE and the returned lazy
    // edge plan carries no cached lineage — its one execution (the
    // caller's clusters() truncates immediately) only replays the
    // cheap keyed/group branch
    val qualifying = intraReps.unionByName(interReps).distinct()
      .localCheckpoint(true)
    sh.unpersist()
    // groups stays shared-cached (the noveltyScores discipline): the
    // lazy member-edge plan reads it once more when the caller's
    // clusters() materializes, and persistShared keys by canonical
    // plan so re-invocations reuse one entry instead of accreting
    val memberEdges = keyed.select(col("doc_id"), col("tk"))
      .join(groups.select(col("tk"), col("rep")), "tk")
      .filter(col("doc_id") =!= col("rep"))
      .join(qualifying, "rep")
      .select(col("doc_id").as("doc_a"), col("rep").as("doc_b"))
    memberEdges.unionByName(repPairs)
  }

  /** Connected components over an undirected near-dup pair set →
    * `(doc_id, cluster_id, survivor)` — the step that turns pairwise
    * candidates (jaccard/minhash/simhash/embedding pairs) into "keep
    * one doc per duplicate cluster". `cluster_id` is the minimum doc id
    * reachable through the pair graph (deterministic, like [[exact]]'s
    * min-id survivor); `survivor` marks the cluster representative.
    *
    * Shape: Pregel-style min-label propagation with pointer jumping —
    * each round (a) takes the min over neighbors' labels (one
    * shuffle-agg over the EDGE list, never the corpus) and (b) path-
    * halves by following the label's own label, so convergence is
    * O(log diameter) rounds rather than O(diameter). The edge list is
    * the near-dup pair set — tiny relative to a 100 TB corpus (dedup
    * keeps it sparse by construction) — and every iterated frame is
    * three longs per doc (id, pre-round label, label; the carried
    * pre-round label is what lets the convergence probe run against
    * the round's own checkpoint with no extra join). The probe is a
    * limit-1 job over the changed-label set, not a count.
    *
    * Every round CHECKPOINTS its label frame rather than caching it:
    * with a plain persist the logical plan still grows by five
    * operators per round (cached data short-circuits execution, not
    * planning), so Catalyst re-analyzes an ever-longer tree each
    * iteration and by round k the fixed per-round cost is O(k) —
    * quadratic over the loop. Truncating lineage keeps every round's
    * plan three joins deep regardless of iteration count (measured 2×
    * on the d08 corpus). The checkpoint MODE follows the session: when
    * `SparkContext.setCheckpointDir` is set, rounds use reliable
    * `checkpoint()` against that (cluster) FS — an executor loss
    * mid-loop recovers from the written blocks, the right mode for a
    * long pipeline on flaky spot executors; with no checkpoint dir
    * they use `localCheckpoint`, which trades fault tolerance for
    * speed (an executor loss fails the job and the driver reruns —
    * fine for seconds-long rounds). Same plans, same results either
    * way (pinned in DedupSpec).
    *
    * Block lifetime: checkpoint blocks cannot be freed through the
    * Dataset API (unpersist only touches CacheManager entries), so
    * superseded rounds are reclaimed by the ContextCleaner once
    * unreachable — at most edges + two label frames are referenced at
    * any point in the loop, and the frames are three longs per
    * doc-that-has-a-dup, far below corpus size by construction.
    *
    * A symmetric edge list of at most [[graft.plans.DriverFold.cap]]
    * rows is read in one bounded collect and folded on the driver
    * (union-find, the same cluster ids and StructType); a larger dup
    * graph keeps the distributed min-label loop, which is the 100 TB
    * path (the pair set grows with the corpus).
    */
  def clusters(pairs: DataFrame, aCol: String = "doc_a",
               bCol: String = "doc_b", maxIters: Int = 25): DataFrame = {
    // eager: materializes the (possibly expensive) pair computation
    // once AND cuts its lineage out of every iteration's plan.
    // Partitioned by src so the per-round edges⨝labels join reuses
    // this partitioning every iteration — the edge side (the big side)
    // never re-shuffles inside the loop.
    val edges = truncate(pairs
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .repartition(col("src")))
    // r15 (VERDICT r14 item 5): the iterated frames are bounded by the
    // DUP GRAPH, not the corpus — at bench scale a few hundred rows
    // paying ~5 rounds × (3 joins + checkpoint + probe) of pure fixed
    // cost. Under the edge valve, fold the components on the driver
    // with union-by-min-root + path compression: cluster_id is the
    // minimum id reachable through the pair graph — the SAME value the
    // min-label loop converges to, by definition, not by replication
    // (spec-pinned equal on randomized graphs). A null-keyed edge
    // falls back to the loop (its null algebra stays authoritative),
    // as does any graph past the valve — the 100 TB path.
    DriverFold.collect(edges, DriverFold.cap)
      .filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
      .map { edgeRows =>
        val parent = new scala.collection.mutable.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var root = x
          while (parent.getOrElse(root, root) != root)
            root = parent.getOrElse(root, root)
          var cur = x // path compression
          while (parent.getOrElse(cur, cur) != root) {
            val nxt = parent.getOrElse(cur, cur)
            parent.update(cur, root); cur = nxt
          }
          root
        }
        val nodes = scala.collection.mutable.TreeSet.empty[Long]
        edgeRows.foreach { r =>
          val a = r.getLong(0); val b = r.getLong(1)
          nodes += a; nodes += b
          val ra = find(a); val rb = find(b)
          if (ra != rb) { // attach the larger root under the smaller:
            if (ra < rb) parent.update(rb, ra) // the root stays the
            else parent.update(ra, rb)         // component's MIN id
          }
        }
        import scala.jdk.CollectionConverters._
        import org.apache.spark.sql.types._
        val nullableIds = edges.schema("src").nullable
        pairs.sparkSession.createDataFrame(
          nodes.toSeq.map { id =>
            val root = find(id)
            org.apache.spark.sql.Row(id, root, id == root)
          }.asJava,
          // the loop's plan derives every column's nullability from the
          // edge ids (a null-keyed edge keeps its nulls); the fold declares
          // the same, so both paths return one StructType
          StructType(Seq(StructField("doc_id", LongType, nullableIds),
            StructField("cluster_id", LongType, nullableIds),
            StructField("survivor", BooleanType, nullableIds))))
      }
      .getOrElse(clustersLoop(edges, maxIters))
  }

  /** An eager lineage cut, reliable iff the session has a checkpoint
    * dir.
    */
  private def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint() else df.localCheckpoint(true)

  /** The distributed min-label loop over an already-materialized
    * SYMMETRIC edge list — [[clusters]]' past-the-cap path.
    */
  private def clustersLoop(edges: DataFrame, maxIters: Int): DataFrame = {
    // round 1 folded into the init: with identity labels, the min over
    // neighbors' labels IS the min neighbor id, which the symmetric
    // edge list yields in one agg — no join, and one fewer loop round
    var labels = truncate(edges.groupBy(col("src").as("doc_id"))
      .agg(least(col("src"), min(col("dst"))).as("cluster_id")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val lab = labels.select(col("doc_id"), col("cluster_id"))
      val nbrMin = edges.join(lab.withColumnRenamed("doc_id", "src"), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("cluster_id")).as("nbr_min"))
      // carry the pre-step label through the round: convergence is then
      // a local filter over the SAME checkpointed result — no extra
      // join/shuffle per iteration just to detect a fixpoint
      val stepped = lab.withColumnRenamed("cluster_id", "prev")
        .join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("prev"),
          least(col("prev"), coalesce(col("nbr_min"), col("prev")))
            .as("cluster_id"))
      // pointer jumping: my label's own label is ≤ my label (labels
      // only ever decrease), so following it halves path lengths
      val next = truncate(stepped.as("l")
        .join(stepped.select(col("doc_id").as("cluster_id"),
          col("cluster_id").as("root")).as("r"), Seq("cluster_id"), "left")
        .select(col("doc_id"), col("prev"),
          coalesce(col("root"), col("cluster_id")).as("cluster_id")))
      converged = next.filter(col("cluster_id") < col("prev"))
        .limit(1).isEmpty
      labels = next
      iter += 1
    }
    require(converged,
      s"clusters did not converge in $maxIters rounds — pathological " +
        "chain-shaped dup graph; raise maxIters")
    // result (cluster membership — bounded by docs-that-have-a-dup, far
    // below corpus size) is already materialized and lineage-free via
    // the last round's checkpoint
    labels.select(col("doc_id"), col("cluster_id"),
      (col("doc_id") === col("cluster_id")).as("survivor"))
  }

  /** MinHash signatures: k universal-hash minima over the doc's
    * shingle set — k longs per doc, one shuffle (the per-doc min agg).
    */
  def minhashSignatures(docs: DataFrame, n: Int = 3): DataFrame = {
    val sh = docs.select(col("doc_id"), tokens.as("tk"))
      .select(col("doc_id"),
        explode_outer(shinglesOf(col("tk"), n)).as("shingle"))
      .filter(col("shingle").isNotNull)
      .withColumn("h", base60(col("shingle")))
    val aggs = (0 until K).map(i =>
      min(minhashTerm(i, col("h"))).as(s"mh$i"))
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: docs agreeing on all rows of ≥1 band.
    * Bands explode to (band_idx, band_key) and self-join — the
    * standard banding scheme; bucket size bounds the pair work.
    */
  def minhashCandidates(docs: DataFrame, n: Int = 3): DataFrame = {
    // both self-join sides consume the signature table; materialize it
    // once (k longs per doc — far smaller than the corpus) instead of
    // recomputing shingle → hash → 16-way min agg per side
    val sigs = minhashSignatures(docs, n)
      .transform(SharedCache.persistShared)
    val banded = bandedKeys(sigs)
    banded.as("a").join(banded.as("b"),
        col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** `(doc_id, key)` banding rows of a signature table. Band key =
    * xxhash64 over (band index, the band's signature minima): an
    * 8-byte join key instead of a concat string. The key never
    * surfaces in output — only pair identities — so the d03 oracle
    * keeps its concat form and agreement is modulo a ~2^-64 collision
    * (same class as the shingle keys). Band index inside the hash
    * keeps different bands' buckets disjoint without a second column.
    */
  private def bandedKeys(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      val rows = (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}"))
      xxhash64(lit(b) +: rows: _*)
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("key"))
  }

  /** LSH candidates scored by their SIGNATURE-estimated jaccard [EXT]
    * — the pairing you actually threshold at 100 TB: exact jaccard
    * (d02) re-touches shingle sets; the minhash estimator touches only
    * the k-long signatures already in hand (E[matches/k] = J(A,B), the
    * MinHash identity). Banding already guarantees ≥ RowsPerBand
    * matching components per candidate, so a meaningful `minEst` sits
    * above RowsPerBand/k (0.5 here = ≥8 of 16, the LSH analog of
    * d02's 0.5 exact threshold). Estimates are exact multiples of
    * 1/16 — a power of two, so the double division has no ulp hazard
    * and the oracle reproduces it bit-for-bit.
    *
    * Scale: candidates join the cached signature table (plan-shared
    * with [[minhashCandidates]]' internal cache) twice on doc ids —
    * shuffles move only (pair, signature) rows, never shingles.
    */
  def minhashEstimatedPairs(docs: DataFrame, n: Int = 3,
                            minEst: Double = 0.5): DataFrame = {
    val sigs = minhashSignatures(docs, n)
      .transform(SharedCache.persistShared)
    val matches = (0 until K).map(i =>
      when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    minhashCandidates(docs, n)
      .join(sigs.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sigs.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (matches / lit(K.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
  }

  /** Fuzzy decontamination [EXT] — the NEAR-dup upgrade of
    * [[contamination]]'s exact n-gram overlap (the GPT-3/Pile
    * protocol: eval leakage hides behind small edits that exact
    * n-gram matching misses): training docs whose minhash signature
    * estimates jaccard ≥ `minEst` against ANY eval doc, found by
    * cross-split LSH banding — train band keys join eval band keys,
    * so candidate work is bucket-bounded exactly as in d03's
    * self-join form, never |train|×|eval|.
    *
    * Scale shape: the eval split is the small side by construction
    * (benchmarks are MBs, the corpus is TBs) — its banded keys and
    * its signatures are broadcast, so the train side is never
    * shuffled at all: band-probe and signature-score are both
    * map-side, and the only exchange is the final per-train-doc
    * aggregate over the (tiny) flagged set. Returns one row per
    * contaminated train doc: (doc_id, n_eval_dups, max_est_jaccard).
    */
  def crossContamination(train: DataFrame, eval_ : DataFrame,
                         n: Int = 3, minEst: Double = 0.5): DataFrame = {
    val st = minhashSignatures(train, n)
      .transform(SharedCache.persistShared)
    val se = minhashSignatures(eval_, n)
    val cand = bandedKeys(st).as("ta")
      .join(broadcast(bandedKeys(se).as("eb")),
        col("ta.key") === col("eb.key"))
      .select(col("ta.doc_id").as("train_doc"),
        col("eb.doc_id").as("eval_doc"))
      .distinct()
    val matches = (0 until K).map(i =>
      when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    // est is an exact multiple of 1/16 (power of two) — no ulp hazard
    cand.join(st.as("a"), col("train_doc") === col("a.doc_id"))
      .join(broadcast(se.as("b")), col("eval_doc") === col("b.doc_id"))
      .select(col("train_doc"), col("eval_doc"),
        (matches / lit(K.toDouble)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
      .groupBy(col("train_doc"))
      .agg(count(lit(1)).as("n_eval_dups"),
        max(col("est_jaccard")).as("max_est_jaccard"))
  }

  /** Zero-shuffle twin of [[despanContaminated]] for STREAMS (and for
    * batch callers that want the narrowest possible plan): the eval
    * window-hash set collects to the driver (tiny by the same contract
    * that lets x08/x24 broadcast it) and ships as a broadcast
    * variable; each doc's cut is then computed locally from its own
    * window-hash array — one projection, no explode, no join, no
    * island window, so the transform is STATELESS and applies to a
    * streaming DataFrame unchanged (windows/joins on streams would
    * need watermarks; a narrow map needs nothing). The udf is the
    * engine's one justified udf class — a broadcast set probe with no
    * built-in equivalent — and its per-doc work is O(tokens·n).
    * Output rows are bit-identical to [[despanContaminated]]
    * (spec-pinned): same window hashes, same cover-all cut.
    */
  def despanContaminatedMap(spark: org.apache.spark.sql.SparkSession,
                            corpus: DataFrame, eval_ : DataFrame,
                            n: Int = 5): DataFrame = {
    val evalHashes: Set[Long] = shingleHashRows(eval_, n, withDocId = false)
      .distinct().collect().map(_.getLong(0)).toSet
    val bc = spark.sparkContext.broadcast(evalHashes)
    val cut = udf { (toks: Seq[String], whs: Seq[Long]) =>
      val set = bc.value
      val flags = new Array[Boolean](toks.size)
      var any = false
      var p = 0
      while (p < whs.size) {
        if (set.contains(whs(p))) {
          any = true
          var j = p
          while (j <= p + n - 1) { flags(j) = true; j += 1 }
        }
        p += 1
      }
      if (!any) (toks.mkString(" "), toks.size.toLong, 0L)
      else {
        val kept = toks.indices.collect { case j if !flags(j) => toks(j) }
        (kept.mkString(" "), toks.size.toLong,
          (toks.size - kept.size).toLong)
      }
    }
    corpus
      .select(col("doc_id"), tokens.as("tk"))
      .select(col("doc_id"), col("tk"),
        transform(col("tk"), t => xxhash64(t)).as("th"))
      .select(col("doc_id"), col("tk"),
        windowHashArr(n, distinctWindows = false).as("wh"))
      .select(col("doc_id"), cut(col("tk"), col("wh")).as("r"))
      .select(col("doc_id"), col("r._1").as("text"),
        col("r._2").as("n_tokens"), col("r._3").as("n_removed"))
  }

  // ---- incremental signature maintenance ----------------------------
  //
  // The export side of the pipeline is O(delta) (StreamingBackup,
  // ZoneMap.update, Rollup); these three members make the dedup side
  // match: signatures persist as an ordinary parquet table, corpus
  // growth computes signatures for the NEW documents only, and the
  // candidate join emits only pairs with a new member — never
  // re-pairing the old corpus against itself. A signature row is a
  // pure function of its document (k universal-hash minima), so
  // delta-computed rows are identical to what a full rebuild would
  // produce — the ZoneMap.update == rebuild contract, spec-pinned in
  // DedupSpec. At 100 TB the store is k longs per doc (~128 B), read
  // once per delta; the delta side is small, so AQE turns the
  // new-vs-all band join into a broadcast join automatically.
  //
  // The store is a fact log ([[graft.engine.FactLog]]): signature rows
  // appended, folded at read on doc_id, taken back by the tombstone
  // log, compacted by a log rewrite. The signature rows are read by
  // schema inference (their schema depends on the store's age, see
  // [[requireDlSchema]]); the tombstones have a declared schema and are
  // appended by the driver.

  /** The store row form of [[minhashSignatures]] (r13): the same k
    * minima PLUS the doc's token count `dl` — one extra grouping
    * column in the same single pass, no second scan. The store carries
    * it so the drift advisory ([[sigDriftReportFromStore]]) can read
    * average document length from the store alone; the in-query
    * [[minhashSignatures]] keeps its lean schema.
    */
  private[graft] def signatureRowsWithDl(docs: DataFrame,
                                         n: Int): DataFrame = {
    val sh = docs.select(col("doc_id"), tokens.as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode_outer(shinglesOf(col("tk"), n)).as("shingle"))
      .filter(col("shingle").isNotNull)
      .withColumn("h", base60(col("shingle")))
    val aggs = (0 until K).map(i =>
      min(minhashTerm(i, col("h"))).as(s"mh$i"))
    sh.groupBy(col("doc_id"), col("dl")).agg(aggs.head, aggs.tail: _*)
  }

  /** Bootstrap the persisted signature store: full-corpus signatures
    * (with the `dl` store column), overwriting anything at `path`,
    * then record the drift BASELINE (the s23/s26 discipline on the
    * dedup plane): corpus size, token mass, and the band-bucket pair
    * mass — the exact integers [[sigDriftReportFromStore]] compares
    * the grown store against — plus the argument corpus's fingerprint
    * ([[initSignaturesIfStale]]'s staleness probe).
    */
  def writeSignatures(docs: DataFrame, path: String, n: Int = 3): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    signatureRowsWithDl(docs, n).write.mode("overwrite").parquet(path)
    val rows = spark.read.parquet(path)
    val s = rows.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("dls")).collect()(0)
    val pm = bandPairMass(rows)
    val fp = sigFingerprint(docs)
    Seq((s.getLong(0), s.getLong(1), pm, n,
        fp._1, fp._2, fp._3, fp._4))
      .toDF("n_docs", "dl_sum", "pair_mass", "n_shingle",
        "fp_n", "fp_id_sum", "fp_len_sum", "fp_crc_sum")
      .coalesce(1).write.mode("overwrite").parquet(path + "_baseline")
  }

  /** Band-bucket candidate-pair mass of a signature row set:
    * Σ c·(c−1)/2 over LSH buckets — the number of candidate pairs the
    * banding would emit, the load the n/k/bands knobs were sized for.
    * Long arithmetic throughout (shiftright, not a double divide), so
    * the statistic is exact at any corpus size.
    */
  private def bandPairMass(sigs: DataFrame): Long =
    bandedKeys(sigs).groupBy(col("key"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(shiftright(col("c") * (col("c") - 1), 1)),
        lit(0L)).as("pm"))
      .collect()(0).getLong(0)

  /** Corpus fingerprint (count, id sum, length sum, text crc sum) —
    * the [[graft.ext.Retrieval.initIndexIfStale]] discipline: long
    * sums, modular and order-free.
    */
  private def sigFingerprint(docs: DataFrame): (Long, Long, Long, Long) = {
    val r = docs.agg(count(lit(1)),
      coalesce(sum(col("doc_id")), lit(0L)),
      coalesce(sum(length(col("text")).cast("long")), lit(0L)),
      coalesce(sum(crc32(encode(col("text"), "UTF-8"))), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Idempotent bootstrap: (re)build the signature store IFF it is
    * missing, pre-baseline, or its recorded fingerprint differs from
    * `docs` — the [[graft.ext.VectorIndex.initIfStale]] contract on
    * the dedup plane, so a scheduled job can call it unconditionally.
    * Returns true when a rebuild happened.
    */
  def initSignaturesIfStale(docs: DataFrame, path: String,
                            n: Int = 3): Boolean = {
    val spark = docs.sparkSession
    Compactor.recover(spark, path)
    val fresh = Compactor.fs(spark, path)
        .exists(new org.apache.hadoop.fs.Path(path + "_baseline")) && {
      val b = spark.read.parquet(path + "_baseline").collect()(0)
      val fp = sigFingerprint(docs)
      b.getAs[Int]("n_shingle") == n &&
        (b.getAs[Long]("fp_n"), b.getAs[Long]("fp_id_sum"),
          b.getAs[Long]("fp_len_sum"), b.getAs[Long]("fp_crc_sum")) == fp
    }
    if (!fresh) writeSignatures(docs, path, n)
    !fresh
  }

  /** Existence probe that first recovers a crash-interrupted
    * [[compactSignatures]] swap — the [[graft.ext.Retrieval
    * .indexExists]] discipline on the dedup plane: after a crash
    * between the swap's renames the root is missing but `<path>__old`
    * holds the truth, and a raw FileSystem probe would report "no
    * store" for one a single rename away from live.
    */
  def storeExists(spark: org.apache.spark.sql.SparkSession,
                  path: String): Boolean =
    Compactor.recover(spark, path)

  /** Read the signature store. Appends are made idempotent HERE, not
    * at write time: a retried [[updateSignatures]] may leave duplicate
    * rows (parquet append has no cross-attempt atomicity), but a doc's
    * signature is a pure function of its text, so duplicates are
    * bit-identical and a keyed drop restores exactly-once semantics —
    * the append-log + fold-at-read idiom of BackupCatalog, with a
    * trivial fold.
    */
  def readSignatures(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame = {
    Compactor.recover(spark, path)
    spark.read.parquet(path).dropDuplicates("doc_id")
      .join(tombLog(path).scan(spark).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
  }

  /** The signature store's deletion facts, kept in a SIBLING directory
    * (`<path>_tombstones` — the store itself is a flat parquet dir, so
    * facts cannot nest inside it without polluting its schema). The
    * log is its own root: its appends stage under
    * `<path>_tombstones/_staging` (not under the parent other stores
    * may share, nor under the store, which an append must never create
    * or mask), where [[compactSignatures]] clears a crashed one.
    */
  private def tombLog(path: String): FactLog[Row] =
    FactLog.tombstones(path + "_tombstones", path + "_tombstones", "doc_id")

  // the tombstone parts' written schema: the footer of the Spark write
  // of a driver id list the driver-written parts replace
  private[graft] val TombstonesWritten: StructType =
    FactLog.tombstoneSchema("doc_id", written = true)

  /** Delete documents from the signature store — the takedown path
    * ([[graft.ext.VectorIndex.delete]]'s discipline on the dedup
    * plane): appends (doc_id, deleted_at) tombstone facts (replays
    * harmless — consumers anti-join on doc_id), [[readSignatures]]
    * and therefore [[updatePairs]]' candidate join exclude the doc
    * immediately, [[updateSignatures]]/[[updatePairs]] refuse to
    * re-add it, and [[compactSignatures]] drops the dead rows
    * physically. Already-emitted pairs naming the doc are downstream
    * artifacts the caller re-derives (pairs are facts about past
    * corpus states); the STORE stops producing new ones.
    */
  def deleteSignatures(spark: org.apache.spark.sql.SparkSession,
                       path: String, docIds: Seq[Long]): Unit = {
    require(docIds.nonEmpty, "deleteSignatures needs at least one doc_id")
    val now = System.currentTimeMillis()
    tombLog(path).append(spark, docIds.distinct.map(Row(_, now)))
  }

  /** Physically compact the signature store: rewrite it as the folded,
    * tombstone-free row set in few sized files, a fact-log rewrite
    * ([[graft.engine.FactLog.rewrite]], sized from the data files), and
    * clear the tombstone appends a crash left staged. Read
    * results unchanged by construction; the physics of N drains'
    * append files stop accumulating.
    */
  def compactSignatures(spark: org.apache.spark.sql.SparkSession,
                        path: String,
                        targetBytes: Long = 512L << 20): Unit = {
    require(storeExists(spark, path), s"no signature store at $path")
    // cross-process writer lease across the whole rewrite (r14)
    graft.engine.StoreLease.withLease(Compactor.fs(spark, path), path) {
      val live = readSignatures(spark, path)
      FactLog.rows(path, path, live.schema, live.schema)
        .rewrite(spark, targetBytes) { (tmp, n) =>
          live.coalesce(n).write.mode("overwrite").parquet(tmp)
        }
      tombLog(path).clearStaging(spark)
    }
  }

  /** Appends must keep the store schema-uniform: a pre-r13 store has
    * no `dl` column, and appending dl-bearing rows would make the
    * dir's visible schema footer-sample-dependent (read without
    * mergeSchema, whichever footer Spark samples wins — a future dl
    * reader would see nulls for old rows). The drift machinery
    * already demands a rebuild for such stores; the append paths
    * refuse with the same actionable message instead of quietly
    * mixing schemas (r13 ADVICE). One footer read, KB cost.
    */
  private def requireDlSchema(spark: org.apache.spark.sql.SparkSession,
                              path: String): Unit = {
    if (Compactor.fs(spark, path).exists(new org.apache.hadoop.fs.Path(path)) &&
        !spark.read.parquet(path).schema.fieldNames.contains("dl"))
      throw new IllegalArgumentException(
        s"signature store at $path predates the dl column — rebuild " +
          "it (writeSignatures/initSignaturesIfStale) before appending")
  }

  /** O(delta) signature upkeep: compute signatures for `newDocs` ONLY
    * and append them to the store. The old corpus is never re-read,
    * let alone re-shingled. Tombstoned ids are skipped — a takedown
    * stays taken down until a re-bootstrap.
    */
  def updateSignatures(newDocs: DataFrame, path: String, n: Int = 3): Unit = {
    Compactor.recover(newDocs.sparkSession, path)
    requireDlSchema(newDocs.sparkSession, path)
    signatureRowsWithDl(newDocs, n)
      .join(tombLog(path).scan(newDocs.sparkSession)
        .select(col("doc_id")), Seq("doc_id"), "left_anti")
      .write.mode("append").parquet(path)
  }

  /** Signature-store drift advisory [EXT, r13 — the s23/s26
    * discipline on the THIRD persisted store]: compares the live
    * store's own statistics against the baseline [[writeSignatures]]
    * recorded, advising a re-shingle/re-band when the corpus has
    * outgrown the n/k/bands knobs. One row:
    *
    *  - `n_ratio` — corpus growth (reported, not a trigger: unique
    *    growth is what the O(delta) maintenance exists for);
    *  - `avgdl_ratio` — average token count now / at init: catches an
    *    upstream chunking or boilerplate change that shifts shingle
    *    counts and with them the jaccard the thresholds were tuned on;
    *  - `ppd_base` / `ppd_cur` / `pair_delta` — band-bucket candidate
    *    PAIRS PER DOCUMENT at init vs now, and their difference: the
    *    LSH load factor. Text-distinct growth holds it flat (fresh
    *    minhash keys collide only at ~2⁻⁶⁴); duplicate mass arriving
    *    (re-drained corpora, template floods) grows it — exactly when
    *    bucket work per delta stops being constant and the banding
    *    needs re-tuning (more bands / tighter rows / higher n);
    *  - `stale` — pair_delta > tolPairs ∨ |avgdl_ratio − 1| > tolDl.
    *
    * Every input is an exact LONG off the store (row counts, dl sums,
    * bucket masses), so the derived doubles are bit-identical to the
    * corpus-scan twin ([[sigDriftReportScan]], spec-pinned) and the
    * whole report replays in SQL (oracle-checked, s27). Cost: two
    * KB-output aggregates over the signature table (k longs per doc —
    * corpus-scale but thin), NO shingle or text read.
    */
  def sigDriftReportFromStore(spark: org.apache.spark.sql.SparkSession,
                              path: String, tolPairs: Double = 0.5,
                              tolDl: Double = 0.05): DataFrame = {
    // baseline gate FIRST: a pre-r13 store has neither the baseline
    // nor the dl column, and the stats aggregate below would throw an
    // analysis error instead of the actionable message
    val b = baseline(spark, path)
    val live = readSignatures(spark, path)
    val s = live.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("dls")).collect()(0)
    sigDriftTail(spark, path, b, s.getLong(0), s.getLong(1),
      bandPairMass(live), tolPairs, tolDl)
  }

  /** The corpus-scan twin of [[sigDriftReportFromStore]]: the same
    * report computed by re-signaturing `docs` directly — ONE shared
    * tail, so the two surfaces are equal BIT FOR BIT over the same
    * document set (spec-pinned). Use it to vet an external corpus
    * against a store's baseline before draining it in.
    */
  def sigDriftReportScan(docs: DataFrame, path: String,
                         tolPairs: Double = 0.5,
                         tolDl: Double = 0.05): DataFrame = {
    val spark = docs.sparkSession
    // re-shingle with the STORE's own width (recorded at init) — a
    // twin at a different n would compare incomparable pair masses
    val b = baseline(spark, path)
    val rows = signatureRowsWithDl(
      docs.select(col("doc_id"), col("text")).distinct(),
      b.getAs[Int]("n_shingle"))
    val s = rows.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("dls")).collect()(0)
    sigDriftTail(spark, path, b, s.getLong(0), s.getLong(1),
      bandPairMass(rows), tolPairs, tolDl)
  }

  /** The drift baseline row [[writeSignatures]] recorded, read after
    * crash recovery; a store that predates baselines fails with the
    * rebuild advice.
    */
  private def baseline(spark: org.apache.spark.sql.SparkSession,
                       path: String): Row = {
    Compactor.recover(spark, path)
    require(Compactor.fs(spark, path)
        .exists(new org.apache.hadoop.fs.Path(path + "_baseline")),
      s"signature store at $path predates drift baselines — rebuild " +
        "it (writeSignatures/initSignaturesIfStale) to record one")
    spark.read.parquet(path + "_baseline").collect()(0)
  }

  /** The advisory boolean from the store-fed report — the per-drain
    * scheduler form (cost independent of corpus text size).
    */
  def resignatureAdvised(spark: org.apache.spark.sql.SparkSession,
                         path: String, tolPairs: Double = 0.5,
                         tolDl: Double = 0.05): Boolean =
    sigDriftReportFromStore(spark, path, tolPairs, tolDl)
      .collect()(0).getAs[Boolean]("stale")

  /** Shared drift tail: the [[baseline]] longs vs current longs,
    * however obtained (store read or corpus scan) — one definition so
    * the two report forms cannot drift. All divisions are IEEE double
    * in a fixed order, rounded to 6 with the −0.0 normalize.
    */
  private def sigDriftTail(spark: org.apache.spark.sql.SparkSession,
                           path: String, b: Row, nCur: Long, dlCur: Long,
                           pmCur: Long, tolPairs: Double,
                           tolDl: Double): DataFrame = {
    import spark.implicits._
    val (nb, dlb, pmb) = (b.getAs[Long]("n_docs"),
      b.getAs[Long]("dl_sum"), b.getAs[Long]("pair_mass"))
    require(nb > 0 && dlb > 0,
      s"baseline at $path covers no token mass — rebuild on a " +
        "non-empty corpus")
    require(nCur > 0 && dlCur > 0,
      s"signature store at $path covers no token mass — rebuild it")
    Seq((nb, nCur, dlb, dlCur, pmb, pmCur))
      .toDF("n_base", "n_current", "dl_b", "dl_c", "pm_b", "pm_c")
      .select(col("n_base"), col("n_current"),
        (round(col("n_current").cast("double") / col("n_base"), 6) +
          lit(0.0d)).as("n_ratio"),
        (round((col("dl_c").cast("double") / col("n_current")) /
          (col("dl_b").cast("double") / col("n_base")), 6) +
          lit(0.0d)).as("avgdl_ratio"),
        (round(col("pm_b").cast("double") / col("n_base"), 6) +
          lit(0.0d)).as("ppd_base"),
        (round(col("pm_c").cast("double") / col("n_current"), 6) +
          lit(0.0d)).as("ppd_cur"),
        (round(col("pm_c").cast("double") / col("n_current") -
          col("pm_b").cast("double") / col("n_base"), 6) +
          lit(0.0d)).as("pair_delta"))
      .withColumn("stale", col("pair_delta") > lit(tolPairs) ||
        abs(col("avgdl_ratio") - lit(1.0d)) > lit(tolDl))
  }

  /** Candidate pairs introduced by a corpus delta: appends `newDocs`'
    * signatures to the store ([[updateSignatures]]), then bands the
    * delta against the WHOLE store (old ∪ new) and emits pairs with at
    * least one new member. Old-vs-old pairs were emitted by earlier
    * invocations and never recompute; new-vs-new pairs orient through
    * least/greatest so each surfaces once. Union of this result over
    * every delta == [[minhashCandidates]] of the grown corpus
    * (spec-pinned), assuming doc_ids never recur across deltas.
    */
  def updatePairs(newDocs: DataFrame, path: String, n: Int = 3): DataFrame = {
    val spark = newDocs.sparkSession
    Compactor.recover(spark, path)
    requireDlSchema(spark, path)
    // the tombstone gate sits on BOTH legs: the append (no dead rows
    // re-enter the store) and the delta band side below (a tombstoned
    // re-present must not emit pairs either)
    val newSigs = signatureRowsWithDl(newDocs, n)
      .join(tombLog(path).scan(spark).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    newSigs.write.mode("append").parquet(path)
    // the store read includes the rows just appended — banding the
    // delta against it covers new-vs-old AND new-vs-new in one join
    val allBanded = bandedKeys(readSignatures(spark, path))
    val newBanded = bandedKeys(newSigs)
    val pairs = allBanded.as("a").join(newBanded.as("b"),
        col("a.key") === col("b.key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
      // eager: the pair set (far below corpus size) materializes while
      // newSigs is still cached, and the cache entry is released HERE
      // rather than accreting one entry per delta in a long-lived
      // session (the cosineDupPairsLsh candidate-table idiom — a
      // streaming drain calls this once per micro-batch)
      .localCheckpoint(true)
    newSigs.unpersist()
    pairs
  }

  // ---- incremental jaccard maintenance ------------------------------
  //
  // The exact-jaccard sibling of the minhash store: the EXPLODED
  // shingle table (doc_id, n_sh, shingle-hash — ~1-2% of corpus bytes,
  // the same table jaccardPairs materializes transiently) persists as
  // parquet, and a corpus delta shingles ONLY the new documents. The
  // key property making delta pairs EXACT: every shingle of a pair
  // involving a new doc is, by definition, one of the new doc's own
  // shingles — so aggregating just the store groups TOUCHED by the
  // delta yields complete intersection counts for every new-member
  // pair. Old-vs-old pairs appearing in touched groups carry partial
  // counts and are filtered out by the new-member test.
  //
  // One honest semantic difference from a full recompute, documented
  // rather than papered over: the df cap is evaluated at UPDATE time.
  // A pair emitted while its witness shingle had df ≤ maxDf is not
  // retroactively revoked when later growth pushes that shingle over
  // the cap (a full recompute would never see the pair). That matches
  // operational reality — emitted pairs have been consumed — and the
  // cap is a performance valve, not a semantic contract. With a
  // non-binding cap the union over deltas equals the full recompute
  // exactly (spec-pinned, including the divergence case).

  /** Bootstrap the persisted shingle store (overwrites `path`). */
  def writeShingleStore(docs: DataFrame, path: String, n: Int = 3): Unit =
    hashedShingles(docs, n).write.mode("overwrite").parquet(path)

  /** Read the store; retried appends fold on the (shingle, doc_id)
    * key exactly as [[readSignatures]] folds on doc_id.
    */
  def readShingleStore(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame =
    spark.read.parquet(path).dropDuplicates("shingle", "doc_id")

  /** O(delta) jaccard upkeep: shingle `newDocs` only, append to the
    * store, and emit the exact jaccard pairs (≥ threshold) with at
    * least one new member. The store is scanned once (a semi-join on
    * the delta's distinct shingles prunes to touched groups before
    * any aggregation); the old corpus is never re-shingled.
    */
  def updateJaccardPairs(newDocs: DataFrame, path: String, n: Int = 3,
                         threshold: Double = 0.5,
                         maxDf: Int = 50): DataFrame = {
    val spark = newDocs.sparkSession
    val deltaSh = hashedShingles(newDocs, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    deltaSh.write.mode("append").parquet(path)
    val store = readShingleStore(spark, path) // includes the delta rows
    val touched = deltaSh.select("shingle").distinct()
    val groups = store.join(touched, "shingle")
    val freq = groups.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
      .select("shingle")
    val docLists = groups.join(freq, "shingle")
      .groupBy(col("shingle"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("n_sh"))))
        .as("docs"))
    val counted = inter_pairs(docLists, size(col("docs")))
      .groupBy(col("p.a.doc_id").as("doc_a"),
        col("p.b.doc_id").as("doc_b"),
        col("p.a.n_sh").as("na"), col("p.b.n_sh").as("nb"))
      .agg(count(lit(1)).as("n_inter"))
    // keep only new-member pairs: old-vs-old pairs in touched groups
    // have PARTIAL intersections (delta shingles only) and were
    // emitted by earlier invocations anyway. The delta id list is
    // delta-sized, so AQE broadcasts these joins.
    val newIds = newDocs.select(col("doc_id")).distinct()
    val pairs = counted
      .join(newIds.select(col("doc_id").as("doc_a"),
        lit(true).as("a_new")), Seq("doc_a"), "left")
      .join(newIds.select(col("doc_id").as("doc_b"),
        lit(true).as("b_new")), Seq("doc_b"), "left")
      .filter(coalesce(col("a_new"), lit(false)) ||
        coalesce(col("b_new"), lit(false)))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .localCheckpoint(true) // as updatePairs: release the cache below
    deltaSh.unpersist()
    pairs
  }

  /** Per-document shingle novelty: the fraction of a doc's distinct
    * shingles whose FIRST owner (minimum doc_id across the corpus) is
    * the doc itself — the redundancy/memorization signal a curriculum
    * or dedup-aware sampler keys on (novelty ≈ 1: fresh content;
    * ≈ 0: restatement of earlier documents). Plan: the cached
    * shingle table is hash-partitioned on the shingle key, so the
    * first-owner aggregation and its join back are exchange-free; the
    * only new shuffle is the per-doc fold. Deterministic by
    * construction (min-id ownership, the [[exact]]/[[clusters]]
    * survivor convention).
    */
  def noveltyScores(docs: DataFrame, n: Int = 3): DataFrame = {
    val shAll = hashedShingles(docs, n)
      .transform(SharedCache.persistShared)
    val firstOwner = shAll.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
    shAll.join(firstOwner, "shingle")
      .groupBy(col("doc_id"))
      .agg(first(col("n_sh")).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles").cast("long").as("n_shingles"),
        col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles"))
          .as("novelty"))
  }

  /** Positioned n-token window-hash rows `(doc_id, pos, wk)` for
    * [[dupSpans]], hash-partitioned on the window key. Unlike
    * [[hashedShingles]] the window array keeps duplicates and arrives
    * via posexplode, so `pos` is the window's 0-based start token index
    * (window `pos` covers tokens `[pos, pos+n-1]`).
    */
  private[ext] def positionedWindows(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"), transform(tokens, t => xxhash64(t)).as("th"))
      // distinctWindows = false: positions must stay index-aligned with
      // token offsets. Same explode_outer rationale as
      // [[hashedShingles]] (posexplode_outer here).
      .select(col("doc_id"),
        posexplode_outer(windowHashArr(n, distinctWindows = false)))
      .filter(col("col").isNotNull)
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("wk"))
      .repartition(col("wk"))

  /** Maximal duplicated token spans [EXT] — substring-level dedup in
    * the style of "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al., 2021, arXiv:2107.06499): every n-token
    * window occurring in ≥ `minDocs` DISTINCT documents is a
    * duplicated window; runs of consecutive duplicated window
    * positions inside a doc merge into one maximal span
    * `[span_start, span_end]` (0-based inclusive token indices — a
    * shared L-token paragraph surfaces as ONE row spanning L tokens,
    * not L−n+1 window rows). Doc-level (d01/d02) and chunk-level (d06)
    * dedup miss a copied paragraph inside an otherwise-unique page;
    * this finds it, and the spans are exactly what a span-removal
    * cleaning pass cuts.
    *
    * Scale: the positioned window table is ~20 bytes/token (doc_id,
    * pos, wk) — narrow, linear in corpus tokens. It is persisted
    * hash-partitioned on the window key, so the ≥minDocs
    * document-frequency aggregation and the duplicated-window
    * semi-join both run exchange-free on cache-local partitions (the
    * [[jaccardPairs]] trick); the only other shuffle is the per-doc
    * island window on doc_id, and by then the data is duplicated
    * positions only. No self-join, no pair explosion. Windows key on
    * xxhash64 as in [[hashedShingles]] (the oracle joins raw window
    * strings; a 2^-64 collision is ignorable).
    */
  def dupSpans(docs: DataFrame, n: Int = 3, minDocs: Int = 2): DataFrame = {
    val wins = positionedWindows(docs, n)
      .transform(SharedCache.persistShared)
    val dupKeys = wins.groupBy(col("wk"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select("wk")
    val dupPos = wins.join(dupKeys, "wk")
      .select(col("doc_id"), col("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      // island trick: consecutive positions share (pos − row_number)
      .withColumn("g", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (n - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_windows"))
  }

  /** Span-REMOVAL cleaning [EXT] — the transform [[dupSpans]]'s
    * detection feeds: cut redundant duplicated spans out of the corpus
    * with the min-id survivor rule used everywhere in this engine
    * (d01/p01). A window is redundant in a doc when it occurs in
    * ≥ `minDocs` distinct docs and this doc is NOT the window's first
    * owner (min doc_id); a token is cut when EVERY window covering it
    * is redundant — the first owner keeps its copy verbatim, and
    * non-owners keep the n−1 ragged boundary tokens whose covering
    * windows straddle unique context (the Lee et al. 2021 cut rule).
    * Runs of redundant windows convert to token intervals in closed
    * form: a run `[a,b]` over the doc's W = L−n+1 windows cuts tokens
    * `[if a=0 then 0 else a+n−1, if b=W−1 then L−1 else b]` — interval
    * containment of the covering-window range, no per-token membership
    * scan against the run set.
    *
    * Output: EVERY doc — `text` despanned (original when nothing cut),
    * `n_tokens` the original count, `n_removed` the cut count.
    *
    * Scale: the positioned-window subplan is plan-identical to
    * [[dupSpans]]'s, so a session running both shares one cache entry;
    * ownership + redundancy run exchange-free on the window-key
    * partitioning; cut intervals per doc are few and small, so the
    * text rebuild is a narrow per-doc HOF over the bound token array.
    */
  def removeDupSpans(docs: DataFrame, n: Int = 3,
                     minDocs: Int = 2): DataFrame = {
    val wins = positionedWindows(docs, n)
      .transform(SharedCache.persistShared)
    val owners = wins.groupBy(col("wk"))
      .agg(min(col("doc_id")).as("first_doc"),
        countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select("wk", "first_doc")
    val red = wins.join(owners, "wk")
      .filter(col("doc_id") =!= col("first_doc"))
      .select(col("doc_id"), col("pos"))
    cutSpans(docs, red, n, coverAll = false)
  }

  /** Shared rebuild for the span cutters ([[removeDupSpans]],
    * [[despanContaminated]]): given the redundant window positions
    * `(doc_id, pos)`, merge them into runs (island trick), convert
    * each run `[a,b]` to its cut token interval, and re-emit EVERY doc
    * with the cut tokens removed. Two cut semantics:
    *  - `coverAll = false` (dedup): a token is cut only when EVERY
    *    covering window is redundant — closed form
    *    `[if a=0 then 0 else a+n−1, if b=W−1 then L−1 else b]`; keeps
    *    the n−1 ragged boundary tokens (and cuts nothing for overlaps
    *    shorter than 2n−1 — conservative, context-preserving).
    *  - `coverAll = true` (decontamination): a token is cut when ANY
    *    covering window is redundant — `[a, b+n−1]`; every token of a
    *    shared window goes, no fragment of the protected set survives.
    * The only shuffle here is the per-doc island window; the rebuild
    * is a narrow per-doc HOF over the bound token array (cut intervals
    * per doc are few and small).
    */
  private def cutSpans(docs: DataFrame, red: DataFrame,
                       n: Int, coverAll: Boolean): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val cuts = red
      .withColumn("g", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).as("a"), max(col("pos")).as("b"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("a"), col("b"))).as("runs"))
    docs
      .select(col("doc_id"), tokens.as("tk"))
      .join(cuts, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("tk"),
        size(col("tk")).cast("long").as("n_tokens"),
        coalesce(col("runs"),
          array().cast("array<struct<a:bigint,b:bigint>>")).as("runs"))
      // redundant-window runs → cut token intervals (see scaladoc)
      .select(col("doc_id"), col("tk"), col("n_tokens"),
        transform(col("runs"), c =>
          if (coverAll) struct(
            c.getField("a").as("s"),
            (c.getField("b") + (n - 1)).as("e"))
          else struct(
            when(c.getField("a") === 0, lit(0L))
              .otherwise(c.getField("a") + (n - 1)).as("s"),
            when(c.getField("b") === col("n_tokens") - n,
              col("n_tokens") - 1).otherwise(c.getField("b")).as("e")))
          .as("iv"))
      .select(col("doc_id"), col("tk"), col("n_tokens"),
        filter(sequence(lit(0L), col("n_tokens") - 1), j =>
          !exists(col("iv"), c =>
            j >= c.getField("s") && j <= c.getField("e"))).as("keep"))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("keep"),
          j => element_at(col("tk"), (j + 1).cast("int")))).as("text"),
        col("n_tokens"),
        (col("n_tokens") - size(col("keep"))).as("n_removed"))
  }

  /** Span-level benchmark DECONTAMINATION [EXT] — the surgical twin of
    * [[contamination]] (x08): x08 flags and drops whole docs sharing
    * eval shingles; this cuts ONLY the overlapping spans and keeps the
    * rest of each doc — what a pipeline does when contaminated docs
    * are too valuable to drop wholesale. A corpus window is redundant
    * when it occurs ANYWHERE in the eval set (the eval side always
    * "owns"), and the cut uses [[cutSpans]]' `coverAll` semantics:
    * every token of a shared window is removed — decontamination must
    * leave NO fragment of an eval n-gram behind, unlike the
    * context-preserving dedup cut of [[removeDupSpans]].
    *
    * Scale: the eval window set is tiny and broadcasts — the corpus
    * side is NEVER shuffled for the probe (no repartition, unlike the
    * intra-corpus [[dupSpans]]); the only shuffle is the per-doc
    * island window over redundant positions, which contamination
    * keeps rare.
    */
  def despanContaminated(corpus: DataFrame, eval_ : DataFrame,
                         n: Int = 5): DataFrame = {
    val evalWins = shingleHashRows(eval_, n, withDocId = false)
      .distinct().withColumnRenamed("sh", "wk")
    val wins = corpus
      .select(col("doc_id"), transform(tokens, t => xxhash64(t)).as("th"))
      .select(col("doc_id"),
        posexplode_outer(windowHashArr(n, distinctWindows = false)))
      .filter(col("col").isNotNull)
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("wk"))
    val red = wins.join(broadcast(evalWins), "wk")
      .select(col("doc_id"), col("pos"))
    cutSpans(corpus, red, n, coverAll = true)
  }

  /** Benchmark decontamination [EXT]: flag corpus documents sharing at
    * least `minShared` distinct word n-gram shingles with any document
    * of the eval/benchmark set — the contamination check every training
    * pipeline runs before the corpus ships. The eval side is tiny
    * relative to the corpus, so its distinct shingle set broadcasts and
    * the check is a narrow broadcast-semi-join + per-doc count over the
    * corpus scan: no shuffle of corpus text at all (only the matched
    * (doc_id, shingle-hash) pairs, which contamination keeps rare).
    * Joins on xxhash64 of the shingle as in [[jaccardPairs]].
    */
  def contamination(corpus: DataFrame, eval_ : DataFrame, n: Int = 5,
                    minShared: Int = 1): DataFrame = {
    val cSh = shingleHashRows(corpus, n, withDocId = true)
    val eSh = shingleHashRows(eval_, n, withDocId = false).distinct()
    cSh.join(broadcast(eSh), "sh")
      .groupBy(col("doc_id"))
      // distinct, not raw count: a shingle repeated inside one doc must
      // not inflate the contamination score
      .agg(countDistinct(col("sh")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SimHash fingerprint per doc: sign of the per-bit vote over all
    * token occurrences (multiplicity counts). 60 bits from the token
    * base hash. One shuffle (per-doc agg of 60 votes).
    */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens).as("tok"))
      .withColumn("h", base60(col("tok")))
    val votes = (0 until SimBits).map { b =>
      sum(when((shiftright(col("h"), b) % 2) === 1, 1).otherwise(-1))
        .as(s"v$b")
    }
    val voted = tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val fp = (0 until SimBits).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    voted.select(col("doc_id"), fp.as("fp"))
  }

  /** Near-dup pairs at Hamming distance ≤ maxDist via banded self-join
    * + exact distance filter. Exact (not probabilistic) for
    * maxDist < SimBands by pigeonhole.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    // one 8-byte fingerprint per doc, consumed by both self-join
    // sides — materialize instead of recomputing the 60-vote agg twice
    val fps = simhashFingerprints(docs)
      .transform(SharedCache.persistShared)
    val banded = fps.select(col("doc_id"), col("fp"),
        explode(array((0 until SimBands).map(b =>
          struct(lit(b).as("band"), simBandKey(col("fp"), b).as("key"))): _*))
          .as("bk"))
      .select(col("doc_id"), col("fp"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.fp ^ b.fp)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
