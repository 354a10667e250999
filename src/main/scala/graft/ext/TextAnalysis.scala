package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline [EXT]:
  * tokenization, quality scoring, language ID, fingerprinting.
  * All column-expression based (whole-stage-codegen friendly, no UDFs)
  * so they run at full scan speed over a 100 TB documents table —
  * every operator here is a narrow map over the scan, zero shuffles.
  */
object TextAnalysis {

  /** Documents are single-space tokenized; a general corpus would use
    * `\\s+` — kept to the corpus's actual separator so token counts are
    * exact (and match `string_split(text, ' ')` in the oracle).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Language marker lists (shared with the SQL oracle via
    * [[graft.queries.TextQueries]]). Deliberately small: language ID
    * here is the n-gram/stopword heuristic itself, not a model.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "los", "las", "que", "y", "es"),
    "fr" -> Seq("le", "les", "des", "et", "est", "une"))

  /** CJK detection regex for the zh score (codepoint-range test). */
  val CjkPattern = "[\\u4e00-\\u9fff]"

  /** English-ish stopword list for the quality score. */
  val StopWords: Seq[String] = LangMarkers.toMap.apply("en")

  /** Per-document token statistics: the base features every downstream
    * filter keys on. Pure projection — no shuffle.
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    val tk = tokens(col("text"))
    docs.select(col("doc_id"), col("n_chars"),
      size(tk).as("n_tokens"),
      size(array_distinct(tk)).as("n_distinct_tokens"),
      // single-space joined ⇒ token chars = len - (n-1); one double div
      ((length(col("text")) - (size(tk) - lit(1))).cast("double") /
        size(tk)).as("avg_token_len"))
  }

  /** Quality scoring: stopword ratio, repetition ratio, length gates —
    * the length/punct/stopword heuristics of C4/Gopher-style cleaning.
    */
  def qualityScores(docs: DataFrame): DataFrame = {
    val tk = tokens(col("text"))
    docs.select(col("doc_id"), col("lang"), col("source"),
        size(tk).as("n_tokens"),
        size(filter(tk, _.isInCollection(StopWords))).as("n_stop"),
        size(array_distinct(tk)).as("n_distinct"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("repetition_ratio",
        lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"))
      .withColumn("keep",
        col("n_tokens") >= 15 && col("n_tokens") <= 500 &&
          col("repetition_ratio") < 0.7)
  }

  /** Gopher's "must contain 2 of these" stopword list (Rae et al.
    * 2021, appendix A1.1 — public). Distinct from [[StopWords]] (the
    * langid marker list): this one gates document quality.
    */
  val GopherRequiredWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher quality rules (Rae et al. 2021, table A1 — public): the
    * word-level document filters of the MassiveText pipeline. Each
    * rule is emitted as its own feature + boolean so a pipeline can
    * audit WHICH gate dropped a document, plus the conjunctive `keep`.
    * Rules: 50 ≤ word count ≤ 100k; 3 ≤ mean word length ≤ 10;
    * symbol-to-word ratio (# and …) ≤ 0.1; ≥ 80% of words contain an
    * alphabetic character; ≥ 2 of the required stopwords present.
    * (The line-shape rules — bullet/ellipsis line fractions — are the
    * line-level siblings and live in [[c4Clean]]'s domain.)
    * Pure narrow projection over the scan: zero shuffles at any scale.
    */
  def gopherQuality(docs: DataFrame): DataFrame = {
    val tk = tokens(col("text"))
    docs.select(col("doc_id"), col("source"),
        size(tk).cast("long").as("n_words"),
        // single-space joined ⇒ word chars = len - (n-1)
        ((length(col("text")) - (size(tk) - lit(1))).cast("double") /
          size(tk)).as("mean_word_len"),
        (size(filter(tk, w => w.contains("#") || w.contains("…")))
          .cast("double") / size(tk)).as("symbol_ratio"),
        (size(filter(tk, _.rlike("[a-zA-Z]"))).cast("double") /
          size(tk)).as("alpha_frac"),
        size(array_intersect(array_distinct(tk),
          typedLit(GopherRequiredWords))).cast("long").as("n_req_stop"))
      .withColumn("keep",
        col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") <= 0.1 &&
          col("alpha_frac") >= 0.8 &&
          col("n_req_stop") >= 2)
  }

  /** Language ID: score each candidate language by marker-token count
    * (zh by CJK codepoints), pick the argmax with (score desc, lang
    * asc) total order. Relational argmax — explode scores, rank,
    * keep rn=1 — so the oracle can express the identical plan.
    */
  def langId(docs: DataFrame): DataFrame = {
    val tk = tokens(col("text"))
    val scoreCols: Seq[Column] = LangMarkers.flatMap { case (lang, ms) =>
      Seq(lit(lang), size(filter(tk, _.isInCollection(ms))).cast("long"))
    } ++ Seq(lit("zh"),
      (length(col("text")) -
        length(regexp_replace(col("text"), CjkPattern, ""))).cast("long"))
    val scored = docs.select(col("doc_id"), col("lang"),
      explode(map(scoreCols: _*)).as(Seq("pred_lang", "score")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("pred_lang"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"),
        when(col("score") > 0, col("pred_lang")).otherwise("und")
          .as("pred_lang"), col("score"))
  }

  /** Subword-ish token count: a BPE-flavored regex (letter runs,
    * digit runs, punctuation runs, each with optional leading space)
    * — the cheap proxy for "how many tokens will the tokenizer
    * produce", computable at scan speed without a vocab.
    */
  val BpeishPattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** Fixed-size token-window chunking with overlap — the
    * training-data shard step (window tokens, stride = window −
    * overlap). Narrow map + explode: no shuffle; chunk count per doc
    * is ⌈n/stride⌉.
    */
  def chunk(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    // tk materialized first — slice(split-expr) inside the lambda would
    // re-split the text per chunk (see Dedup.windowHashArr)
    val chunks = transform(
      sequence(lit(0), size(col("tk")) - 1, lit(stride)),
      i => concat_ws(" ", slice(col("tk"), i + 1, lit(window))))
    docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx"),
        size(split(col("chunk"), " ")).as("n_chunk_tokens"),
        md5(col("chunk")).as("chunk_digest"))
  }

  /** Deterministic train/val/test split assignment by content hash —
    * the reproducible corpus-split step. No RNG: the bucket is the
    * 60-bit md5 base hash mod 100, so the assignment is stable across
    * runs, partitionings and engines (the oracle recomputes the same
    * bucket), and a re-crawled duplicate always lands in the same
    * split. Narrow map over the scan — no shuffle.
    */
  def hashSplit(docs: DataFrame, trainPct: Int = 80,
                valPct: Int = 10): DataFrame = {
    val bucket = pmod(Hashing.base60(col("text")), lit(100))
    docs.select(col("doc_id"), bucket.as("bucket"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** Leakage-safe grouped split: every document sharing a `keyCol`
    * value (a domain, a repository, a conversation thread) lands in
    * the SAME split. Near-duplicates cluster within such keys, so a
    * content-hash split ([[hashSplit]]) can leak train data into test
    * through near-dup siblings; keying the bucket on the group closes
    * that channel (the standard web-corpus practice). Same bucket
    * arithmetic as hashSplit — deterministic, repartition-proof —
    * and still a pure narrow map: no shuffle, no group materialization.
    */
  def groupedSplit(docs: DataFrame, keyCol: String = "source",
                   trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val bucket = pmod(Hashing.base60(col(keyCol).cast("string")), lit(100))
    docs.select(col("doc_id"), col(keyCol).as("group_key"),
      bucket.as("bucket"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** The exploded (doc_id, token) table shared by [[tfidfTopK]]'s tf
    * and df branches.
    */
  private[ext] def explodedTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))

  /** Free the materialized token table [[tfidfTopK]] created for
    * `docs` (plan-keyed, like [[Dedup.release]]).
    */
  def release(docs: DataFrame): Unit =
    explodedTokens(docs).unpersist()

  /** Top-k salient terms per document by tf-idf (smoothed idf
    * ln((N+1)/(df+1))). Ranking is on the 4-decimal-rounded score with
    * a token tiebreak — a total order robust to last-ulp `ln`
    * differences across engines. Two shuffles (tf by (doc,token), df
    * by token); the document count and the df table join broadcast.
    */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    // both the tf and df aggregations consume the exploded token
    // table; materialize it once instead of scanning + tokenizing the
    // corpus per branch (same lever as Dedup's shingle table). Freed
    // via [[release]].
    val tok = explodedTokens(docs)
      .transform(SharedCache.persistShared)
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val tf = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tok.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(df, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + lit(1.0)) /
          (col("df") + lit(1.0))), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("score"),
        col("rank"))
  }

  /** CCNet-style unigram log-likelihood: each document's mean natural-
    * log probability of its tokens under the corpus's OWN unigram
    * distribution — the model-free stand-in for LM-perplexity quality
    * filtering (fluent text scores high, gibberish and boilerplate
    * outliers low). No OOV smoothing needed: the distribution is built
    * from the same corpus it scores, so every token has tf ≥ 1.
    *
    * Oracle determinism: the per-token log is rounded to 6 decimals,
    * then summed through a decimal cast (exact, order-free — the dsum
    * contract of [[graft.queries]]); only the final mean is a fresh
    * IEEE op. Scale: the token table is materialized once (freed via
    * [[release]]) and feeds a vocab-sized aggregate + one equi-join
    * AQE broadcasts while vocab fits (and shuffle-joins beyond);
    * the corpus-total scalar is an aggregate OF the vocab table, not
    * a third corpus scan.
    */
  /** Jensen–Shannon divergence of each source's unigram distribution
    * against the REST of the corpus [EXT] — the corpus-drift /
    * mixture-health metric ("which slice stopped looking like the
    * mixture?"): add-1-smoothed distributions over the JOINT vocab,
    * JS(p‖q) = ½Σ p·ln(p/m) + ½Σ q·ln(q/m), m = (p+q)/2 — symmetric,
    * bounded by ln 2, defined even on disjoint supports (KL is not).
    *
    * Reported in µ-NATS (×1e6): the per-token terms are ~1e-7-scale,
    * so the portable x15 recipe (round the ln-bearing term to the
    * 6-grid — absorbing the last-ulp libm drift between engines —
    * then DECIMAL-sum) would crush them at natural scale; the 1e6
    * factor moves the grid three orders below the metric instead
    * (relative grid error ~1e-6 — and both engines land on the SAME
    * grid values, so the oracle is exact, not approximate).
    *
    * Scale shape: ONE corpus tokenize into the (source, token) count
    * table, localCheckpointed (its three consumers would each replay
    * the corpus pass); everything after is vocab-bounded — the
    * source-spine × vocab grid IS the output support (the ev06
    * dense-spine rationale), and the corpus totals ride one
    * broadcast scalar.
    */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    val bySrc = docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c_s"))
      .localCheckpoint(true)
    val nSrc = bySrc.groupBy(col("source")).agg(sum(col("c_s")).as("n_s"))
    val all = bySrc.groupBy(col("token")).agg(sum(col("c_s")).as("c_all"))
    val tot = all.agg(sum(col("c_all")).as("n_all"),
      count(lit(1)).as("v"))
    val grid = nSrc.crossJoin(all)
      .join(bySrc, Seq("source", "token"), "left")
      .na.fill(0L, Seq("c_s"))
      .crossJoin(broadcast(tot))
    val p = (col("c_s") + 1).cast("double") / (col("n_s") + col("v"))
    val q = (col("c_all") - col("c_s") + 1).cast("double") /
      (col("n_all") - col("n_s") + col("v"))
    val m = (p + q) / lit(2.0d)
    grid.select(col("source"), col("n_s"),
        round((p * log(p / m)) * lit(1e6), 6).as("tp"),
        round((q * log(q / m)) * lit(1e6), 6).as("tq"))
      .groupBy(col("source"), col("n_s"))
      .agg(round((sum(col("tp").cast("decimal(38,18)")).cast("double") +
        sum(col("tq").cast("decimal(38,18)")).cast("double")) /
        lit(2.0d), 4).as("js_unats"))
      .select(col("source"), col("n_s").as("n_tokens"),
        (col("js_unats") + lit(0.0d)).as("js_unats"))
  }

  def unigramLogLik(docs: DataFrame): DataFrame = {
    val tok = explodedTokens(docs)
      .transform(SharedCache.persistShared)
    val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val tot = freq.agg(sum(col("tf")).as("n_total"))
    tok.join(freq, "token")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        round(log(col("tf").cast("double") / col("n_total")), 6).as("logp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("logp").cast("decimal(38,18)")).cast("double") /
          count(lit(1)), 4).as("avg_logprob"))
  }

  /** Adjacent-pair (w1,w2) projection over a bound token-array column
    * — the bigram stream [[pmiCollocations]] and [[bigramLogLik]]
    * share. The array column must be materialized (aliased) BEFORE
    * this lambda: referencing the split() expression inside
    * element_at re-evaluates it per reference on the interpreted HOF
    * path (no CSE) — O(len²) per doc (see Dedup.windowHashArr).
    */
  private def adjacentPairs(tk: Column): Column =
    when(size(tk) >= 2,
      transform(sequence(lit(0), size(tk) - 2),
        i => struct(element_at(tk, i + 1).as("w1"),
          element_at(tk, i + 2).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))

  /** Bigram LM scoring with add-k (Lidstone) smoothing — one model
    * order up from [[unigramLogLik]], the shape CCNet's KenLM filter
    * takes (Wenzek et al. 2020 score with a 5-gram model; the
    * conditional-probability + smoothing mechanics are identical at
    * order 2): mean ln p(w2|w1) per document under the corpus's own
    * bigram counts,
    *
    *   p(w2|w1) = (c(w1,w2) + a) / (c(w1·) + a·V)
    *
    * with c(w1·) the HISTORY count (Σ_w2 c(w1,w2), so rows sum to
    * exactly 1 over the smoothed vocab) and V the full unigram vocab.
    * Unlike the unigram score, smoothing is load-bearing even
    * self-trained: most of the V² bigram grid is unseen, and a
    * document reusing rare-but-seen transitions scores measurably
    * higher than one crossing unseen ones. Documents with < 2 tokens
    * have no bigrams and drop out (no rows, not NULL scores).
    *
    * Oracle determinism: the x15 recipe — per-bigram ln rounded to 6
    * decimals, decimal(38,18) order-free sum, one fresh IEEE divide
    * rounded to 4; the smoothed ratio is computed double-for-double
    * in both engines (a and a·V as DOUBLE casts, never DECIMAL
    * literals). Scale: the bigram stream is projected twice (both
    * narrow in-row passes — the pmi trade: recompute beats a
    * corpus-sized cache); counts are corpus-bounded aggregates, the
    * history table is an aggregate OF the bigram-count table (no
    * third scan), and the model join keys on (w1,w2) — AQE broadcasts
    * while the model fits, shuffle-joins beyond. The vocab scalar
    * rides one broadcast cross join.
    */
  def bigramLogLik(docs: DataFrame, alpha: Double = 0.5): DataFrame = {
    val tk = tokens(col("text"))
    def bigrams = docs.select(col("doc_id"), tk.as("tk"))
      .select(col("doc_id"), explode_outer(adjacentPairs(col("tk"))).as("p"))
      .filter(col("p").isNotNull)
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val bc = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_ab"))
    val hist = bc.groupBy(col("w1")).agg(sum(col("c_ab")).as("c_a"))
    val vocab = docs.select(explode(tk).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    bigrams.join(bc.join(hist, "w1"), Seq("w1", "w2"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(log((col("c_ab").cast("double") + lit(alpha)) /
          (col("c_a").cast("double") + lit(alpha) * col("v"))), 6)
          .as("logp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("logp").cast("decimal(38,18)")).cast("double") /
          count(lit(1)), 4).as("avg_logprob"))
  }

  /** Perplexity-bucket cutoffs (CCNet, Wenzek et al. 2020 —
    * "Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", public): the nBuckets−1 score values that split the
    * corpus's [[unigramLogLik]] distribution into equal-rank tertiles
    * (or n-tiles). Non-interpolated `quantile_disc` semantics — each
    * cutoff is a value PRESENT in the data, the one at integer rank
    * ceil(b·n/nBuckets) — so bucket assignment compares exact rounded
    * grid values, never a fresh IEEE interpolation that could drift a
    * ulp across engines and flip a boundary doc.
    *
    * Scale shape: the per-doc score table collapses to distinct
    * rounded-4 values with counts (grid-BOUNDED — ≤ 10⁴ cells per
    * unit of score range regardless of corpus size, unlike the raw
    * column e08 bins), then the ungrouped running rank uses the
    * exactQuantiles/x23 idiom — distributed range-sort, per-partition
    * subtotals collected (one row per partition), prefix offsets
    * broadcast back, cutoffs emitted by a narrow pass that collects
    * ONLY the ≤ nBuckets−1 matched rows. No Window anywhere. EAGER at
    * construction (the exactQuantiles caveat): the cutoff artifact is
    * KB-scale, the dsir/PQ/BPE model discipline.
    */
  def perplexityCutoffs(docs: DataFrame, nBuckets: Int = 3): Seq[Double] = {
    require(nBuckets >= 2, "perplexityCutoffs needs nBuckets >= 2")
    val sorted = unigramLogLik(docs).select(col("avg_logprob").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
      .orderBy(col("v"))
    val rdd = sorted.rdd // shared lineage: the sort shuffle runs once
    val partSums = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L; it.foreach(r => s += r.getLong(1)); Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    val n = offsets.last
    require(n > 0, "perplexityCutoffs needs a non-empty corpus")
    val ks = (1 until nBuckets)
      .map(b => (b.toLong * n + nBuckets - 1) / nBuckets)
    val found = rdd.mapPartitionsWithIndex { (i, it) =>
      var run = offsets(i)
      it.flatMap { r =>
        val lo = run; run += r.getLong(1)
        val v = r.getDouble(0)
        ks.filter(k => k > lo && k <= run).map(k => (k, v))
      }
    }.collect().toMap
    ks.map(found)
  }

  /** Per-document perplexity buckets under trained cutoffs — CCNet's
    * head/middle/tail split, the step between LM scoring and corpus
    * composition (head trains first, tail is candidate-dropped).
    * Bucket 1 = lowest avg_logprob (highest perplexity, the tail);
    * bucket nBuckets = head. Docs tied AT a cutoff value all land in
    * the lower bucket (the cutoff rank's own bucket) — value-based
    * assignment, so ties never straddle. The assignment itself is a
    * literal-comparison narrow map over the score table.
    */
  def perplexityBuckets(docs: DataFrame, nBuckets: Int = 3): DataFrame = {
    val cuts = perplexityCutoffs(docs, nBuckets)
    unigramLogLik(docs).withColumn("ppl_bucket",
      cuts.foldLeft(lit(1))((b, c) =>
        b + when(col("avg_logprob") > lit(c), 1).otherwise(0))
        .cast("int"))
  }

  /** DSIR hashed n-gram feature rows (Xie et al., NeurIPS 2023 —
    * public): each document's unigram+bigram stream bucketed to
    * `nBuckets` by the portable base-60 hash, tagged with its
    * target-side membership. One exploded pass, materialized because
    * BOTH dsir stages consume it (the bucket-count aggregation and the
    * per-document weight join) — same single-tokenize lever as
    * [[explodedTokens]]/Dedup's shingle table. Freed via
    * [[dsirRelease]]; the SAME def builds the persisted and the
    * released plan so they cannot diverge (the Dedup.release lesson).
    */
  /** The dsir feature-bucket array over a BOUND token-array column —
    * ONE definition shared by the exploded training path
    * ([[dsirFeatures]]) and the in-row deployment scorer
    * ([[dsirScore]]), so the two cannot drift (the same
    * single-definition discipline as Dedup's winnowFp).
    *
    * `tk` MUST be a materialized attribute (project `tokens(text)`
    * into a column first), NOT the raw split() expression: the
    * [[adjacentPairs]] caveat — an expression referenced inside the
    * transform lambda's element_at re-evaluates per element on the
    * HOF path (no CSE), turning the tokenize O(len²) per doc. Every
    * caller binds via [[withDsirTokens]].
    */
  private def dsirBucketsOf(tk: Column, nBuckets: Int): Column = {
    // bigrams via indexed transform over the first L-1 tokens — NOT
    // sequence(0, L-2): Spark's sequence DESCENDS when stop < start,
    // so a one-token doc would fabricate phantom indices
    val bigrams = when(size(tk) >= 2,
      transform(slice(tk, lit(1), size(tk) - 1),
        (t, i) => concat(t, lit(" "), element_at(tk, i + lit(2)))))
      .otherwise(array().cast("array<string>"))
    transform(concat(tk, bigrams),
      f => pmod(Hashing.base60(f), lit(nBuckets.toLong)))
  }

  /** Bind the token array of `text` as the attribute [[dsirBucketsOf]]
    * requires (dropped by callers after use; the name is namespaced to
    * dodge collisions with corpus columns).
    */
  private val DsirTokCol = "__dsir_tk"
  private def withDsirTokens(docs: DataFrame): DataFrame =
    docs.withColumn(DsirTokCol, tokens(col("text")))

  private def dsirFeatures(docs: DataFrame, targetCol: Column,
                           nBuckets: Int,
                           materialize: Boolean = true): DataFrame = {
    val feats = withDsirTokens(
        docs.select(col("doc_id"), targetCol.as("is_t"), col("text")))
      .select(col("doc_id"), col("is_t"),
        explode(dsirBucketsOf(col(DsirTokCol), nBuckets)).as("b"))
    // materialize=false is the SQL-surface path: a table function has
    // no release hook, so persisting there would leak a cache entry
    // per invocation for the session lifetime — the two consumers
    // re-derive the explode instead (one extra tokenize pass)
    if (materialize) SharedCache.persistShared(feats)
    else feats
  }

  /** Free [[dsirFeatures]]' materialized feature table (plan-keyed,
    * like [[release]]) — pass the same arguments as the weights call.
    */
  def dsirRelease(docs: DataFrame, targetCol: Column,
                  nBuckets: Int = 256): Unit =
    dsirFeatures(docs, targetCol, nBuckets).unpersist()

  /** DSIR importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023 — public): score every NON-target
    * document by how target-like its hashed n-gram distribution is,
    * log w(x) = Σ_features [ln p_target(b) − ln p_raw(b)] with
    * Laplace-smoothed bucket probabilities estimated from the corpus
    * itself. The weights drive [[dsirResample]] — the standard
    * "select web data that looks like the quality target" step.
    *
    * Oracle determinism: the per-bucket log-ratio is rounded to 6
    * decimals, per-doc summed through a decimal cast (exact,
    * order-free — the dsum contract of [[graft.queries]]).
    *
    * Scale shape: the feature table is one exploded pass; bucket
    * counts are a `nBuckets`-row aggregate (map-side combined); the
    * log-ratio table is nBuckets rows BROADCAST onto the feature rows
    * (never a shuffle of the corpus side); the per-doc sum is the one
    * real shuffle, on doc_id. No driver collect anywhere — the ratio
    * table stays distributed-broadcast, so the op runs unchanged with
    * a 2^20-bucket feature space on a 1000-executor cluster.
    */
  def dsirWeights(docs: DataFrame, targetCol: Column,
                  nBuckets: Int = 256,
                  materialize: Boolean = true): DataFrame = {
    val feats = dsirFeatures(docs, targetCol, nBuckets, materialize)
    val counts = feats.groupBy(col("b")).agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("is_t"), 1L).otherwise(0L)).as("cr"))
    val tots = counts.agg(sum(col("ct")).as("t_tot"),
      sum(col("cr")).as("r_tot"))
    val lr = counts.crossJoin(broadcast(tots))
      .select(col("b"), round(
        log((col("ct") + 1).cast("double") / (col("t_tot") + nBuckets)) -
        log((col("cr") + 1).cast("double") / (col("r_tot") + nBuckets)),
        6).as("lr"))
    feats.filter(!col("is_t"))
      .join(broadcast(lr), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_features"),
        sum(col("lr").cast("decimal(38,18)")).cast("double").as("logw"))
  }

  /** The trained DSIR model: the per-bucket log-ratio table of
    * [[dsirWeights]] collected to a plain Map — exactly `nBuckets`
    * entries, KB scale BY CONSTRUCTION (this is the one deliberate
    * collect in the dsir family: the model is the artifact you ship
    * to the scorer, exactly like a broadcast dictionary). Buckets the
    * training corpus never hashed into get the Laplace-smoothed
    * zero-count ratio, so a NEW document (e.g. on a stream) hashing
    * into one scores the principled value, not an arbitrary default.
    * The driver-side arithmetic (java.lang.Math.log, BigDecimal
    * HALF_UP round) is the same codepath Spark's `log`/`round`
    * execute, so the table is bit-identical to [[dsirWeights]]' lr.
    */
  def dsirRatios(docs: DataFrame, targetCol: Column,
                 nBuckets: Int = 256): Map[Long, Double] = {
    val feats = dsirFeatures(docs, targetCol, nBuckets)
    val counts = feats.groupBy(col("b")).agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("is_t"), 1L).otherwise(0L)).as("cr"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val (tTot, rTot) = counts.values.foldLeft((0L, 0L)) {
      case ((t, r), (ct, cr)) => (t + ct, r + cr) }
    (0L until nBuckets.toLong).map { b =>
      val (ct, cr) = counts.getOrElse(b, (0L, 0L))
      val lr = math.log((ct + 1).toDouble / (tTot + nBuckets)) -
        math.log((cr + 1).toDouble / (rTot + nBuckets))
      b -> BigDecimal(lr)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
  }

  /** DSIR deployment scorer — the paper's production shape: ratios
    * trained offline ([[dsirRatios]]), then every incoming document
    * scored by a PURE NARROW MAP (featurize in-row, look the buckets
    * up in a literal map column, sum in-row). No explode, no join, no
    * shuffle, no state — so it runs unchanged on a `readStream` frame
    * (spec-pinned) and at scan speed over 100 TB. The in-row double
    * sum is within float-sum error (~1e-13) of [[dsirWeights]]'
    * order-free decimal sum; the training path stays the
    * oracle-checked truth twin.
    */
  def dsirScore(docs: DataFrame, ratios: Map[Long, Double],
                nBuckets: Int = 256): DataFrame = {
    // weights ride a literal ARRAY indexed by bucket, NOT a literal
    // map: Catalyst map lookup is a linear key scan per row —
    // O(nBuckets) per feature — while get() is one ordinal access.
    // A bucket the map lacks scores the old coalesce default (0.0);
    // keys outside [0, nBuckets) are unreachable (pmod) either way.
    val lrArr = array((0L until nBuckets.toLong).map(b =>
      lit(ratios.getOrElse(b, 0.0d))): _*)
    val buckets = dsirBucketsOf(col(DsirTokCol), nBuckets)
    withDsirTokens(docs)
      .withColumn("n_features", size(buckets).cast("long"))
      .withColumn("logw", aggregate(buckets, lit(0.0d),
        (acc, b) => acc + coalesce(get(lrArr, b.cast("int")), lit(0.0d))))
      .drop(DsirTokCol)
  }

  /** DSIR resampling — Gumbel-top-k over the importance weights, the
    * paper's own sampling-without-replacement construction, made
    * reproducible: the Gumbel noise comes from the portable hash of
    * the doc id (g = −ln(−ln(u)), u ∈ (0,1) from 6 hash digits), not
    * an RNG, so every run/engine/partitioning selects the identical
    * k documents. Selection is TakeOrdered (no global sort).
    */
  def dsirResample(docs: DataFrame, targetCol: Column, k: Int = 100,
                   nBuckets: Int = 256,
                   materialize: Boolean = true): DataFrame = {
    val u = (pmod(Hashing.base60(concat(col("doc_id").cast("string"),
      lit(":dsir"))), lit(1000000L)).cast("double") + 0.5) / 1000000.0
    // key/log_weight round to 6 decimals, NOT fewer: logw and gumbel
    // are exact 6-decimal grid values (decimal-summed / pre-rounded),
    // so a 6-decimal round lands ON the grid in every engine — while a
    // coarser round puts grid points ending in …50 exactly half-way,
    // where double-rounding is engine-divergent (bitten at sf0.01)
    dsirWeights(docs, targetCol, nBuckets, materialize)
      .withColumn("gumbel", round(-log(-log(u)), 6))
      .withColumn("key", round(col("logw") + col("gumbel"), 6))
      .orderBy(col("key").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_features"),
        round(col("logw"), 6).as("log_weight"), col("gumbel"),
        col("key"))
  }

  // ───────────────────────── quality probe ─────────────────────────

  /** The algebraic sigmoid σ̃(z) = ½(1 + z/(1+|z|)) — the quality
    * probe's link function. NOT exp-based: IEEE requires correct
    * rounding for +,·,/,|·| but NOT for exp, so a logistic link would
    * make training engine-divergent in the last ulp; this rational
    * squash is monotone, (0,1)-bounded, symmetric, and bit-identical
    * in every engine (DuckDB replays it verbatim).
    */
  private def squash(z: Column): Column =
    lit(0.5) * (lit(1.0) + z / (lit(1.0) + abs(z)))

  /** Per-document hashed-feature counts for the quality probe —
    * (doc_id, y, b, tf) over the [[dsirBuckets]] unigram+bigram space
    * PLUS a constant bias feature at b = nBuckets with tf = 1 for
    * every document (so the bias trains and scores through the same
    * pipeline as every other bucket — no special-casing, and
    * zero-token documents still carry a row; tf = 1 falls out because
    * the bias rides the token stream as one in-row pseudo-token —
    * `dsirBuckets` lands in [0, nBuckets), so it cannot collide).
    *
    * Partitioned by doc_id BEFORE the explode (the docs table moves,
    * not the token stream) so every downstream per-doc aggregation
    * and the per-epoch gradient join run exchange-free on the
    * persisted table — HashPartitioning(doc_id) satisfies every
    * (doc_id, …) clustering the training loop asks for. Without this
    * the epoch loop re-shuffled the feature table twice per epoch.
    */
  private def qualityFeatures(docs: DataFrame, targetCol: Column,
                              nBuckets: Int): DataFrame = {
    val y = when(targetCol, lit(1.0d)).otherwise(lit(0.0d))
    withDsirTokens(docs.repartition(col("doc_id"))
        .select(col("doc_id"), y.as("y"), col("text")))
      .select(col("doc_id"), col("y"),
        // coalesce: a NULL text still carries its bias pseudo-token
        // (concat(NULL, …) is NULL and explode would drop the doc)
        explode(concat(
          coalesce(dsirBucketsOf(col(DsirTokCol), nBuckets),
            array().cast("array<bigint>")),
          array(lit(nBuckets.toLong)))).as("b"))
      .groupBy(col("doc_id"), col("y"), col("b"))
      .agg(count(lit(1)).as("tf"))
  }

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** A trained weight vector as a literal ARRAY column indexed by
    * bucket (bias at index nBuckets) — the probe family's lookup is
    * `get(arr, b)`, one ordinal access per feature row, where the
    * former literal-map element_at linear-scanned all nBuckets+1 keys
    * per row (measured: the dominant per-row cost of x35/x42/x43).
    * Same literal doubles, same products — values are unchanged.
    */
  private def weightArray(w: Array[Double]): Column =
    array(w.map(lit(_)).toIndexedSeq: _*)

  private def weightArray(model: Map[Long, Double]): Column = {
    // bucket ids are contiguous 0..n-1 by construction (they come
    // from this file's own trainers); a sparse map would silently
    // have meant "missing bucket scores 0.0" under the replaced
    // literal-map lookup, where the tabulate below throws a bare
    // NoSuchElementException — fail with a name instead so a future
    // sparse-model caller learns the contract, not a stack trace
    require(model.keySet == (0L until model.size.toLong).toSet,
      s"weightArray needs contiguous bucket keys 0..${model.size - 1}; " +
        s"got ${model.keySet.toSeq.sorted.take(8).mkString(", ")}...")
    weightArray(Array.tabulate(model.size)(b => model(b.toLong)))
  }

  /** One full-batch gradient pass under the CURRENT weights (shipped
    * as a literal array — KB scale, the dsirScore idiom): margin z per
    * doc (decimal-summed, rounded to the 6-grid), residual
    * r = round(y − σ̃(z), 6), then per-bucket gradients
    * g_b = Σ_docs tf·r (decimal, order-free). Returns the gradients
    * collected — nBuckets+1 rows max, KB BY CONSTRUCTION (the
    * pqLocal/dsirRatios contract).
    *
    * The residual lands back on the feature rows by a doc_id-co-keyed
    * JOIN of the per-doc residual frame (one double per doc) — NOT by
    * carrying (b, tf) lists through the aggregate: collect_list is a
    * TypedImperativeAggregate, and ObjectHashAggregate falls back to
    * SORT-based past 128 keys per partition, so the r12 fused form
    * paid a per-epoch sort + struct materialization of the whole
    * feature table (measured: the dominant per-epoch cost of
    * x35/x42/x43). Both join sides are clustered on doc_id (the
    * feature table is persisted hash-partitioned by doc_id and the
    * residual aggregate inherits that), so the join is exchange-free
    * at any scale — AQE broadcasts the residual side while it fits,
    * co-partitioned-joins beyond. The arithmetic is unchanged value
    * for value: z is the same decimal sum, g_b the same order-free
    * decimal sum over the same tf·r terms — the x35 oracle (which
    * replays the training) pins it.
    */
  private def qualityGrads(tfb: DataFrame,
                           w: Array[Double]): Map[Long, Double] = {
    val wArr = weightArray(w)
    val resid = tfb.withColumn("wb", get(wArr, col("b").cast("int")))
      .groupBy(col("doc_id"), col("y"))
      .agg(round(sum((col("tf") * col("wb")).cast("decimal(38,18)"))
          .cast("double"), 6).as("z"))
      .select(col("doc_id"),
        round(col("y") - squash(col("z")), 6).as("r"))
    tfb.join(resid, "doc_id")
      .groupBy(col("b"))
      .agg(sum((col("tf") * col("r")).cast("decimal(38,18)"))
        .cast("double").as("g"))
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
  }

  /** Trainable quality probe [EXT] — the fastText/WebText-classifier
    * shape every production corpus pipeline runs ("train a classifier
    * on a quality slice, score the web crawl with it"), built so the
    * WHOLE training run replays bit-for-bit in the oracle:
    *
    *  - features: the [[dsirBuckets]] hashed unigram+bigram counts
    *    (shared definition — the probe and DSIR read the same space),
    *    plus the bias-as-bucket-`nBuckets` trick;
    *  - model: a linear scorer under the algebraic sigmoid
    *    ([[squash]] — exp is not IEEE-correctly-rounded, this is),
    *    trained by `epochs` rounds of deterministic FULL-BATCH
    *    gradient descent from w₀ = 0:
    *    w ← round(w + lr·(Σ tf·round(y−σ̃(z),6))/n_docs, 6) —
    *    every intermediate lands on the 6-decimal grid, every sum is
    *    an order-free DECIMAL sum, so engines cannot drift;
    *  - EAGER per epoch (the pqTrainOn discipline): each pass
    *    collects the KB-scale gradient vector and updates driver-side
    *    (BigDecimal HALF_UP — the same rounding Spark's `round`
    *    executes), so plans stay shallow at any epoch count and no
    *    cached intermediate rides a returned plan.
    *
    * Scale: per epoch, one doc_id-keyed aggregation over the feature
    * table (compact (doc_id, b, tf) ints), one doc_id-co-keyed join
    * shipping one double per doc back onto it, one nBuckets-row
    * gradient aggregation (map-side combined). Epochs are a small
    * constant; the weight vector is KB and rides literal maps — at
    * 100 TB nothing but the feature table ever shuffles, and it
    * shuffles on the same key every epoch.
    *
    * Returns bucket → weight with the bias at key `nBuckets`.
    */
  def qualityProbeModel(docs: DataFrame, targetCol: Column,
                        nBuckets: Int = 256, epochs: Int = 3,
                        lr: Double = 0.5): Map[Long, Double] = {
    require(nBuckets >= 2, s"nBuckets must be at least 2, got $nBuckets")
    require(epochs >= 1, s"training needs at least one epoch, got $epochs")
    val tfb = qualityFeatures(docs, targetCol, nBuckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try trainOn(tfb, docs.count(), nBuckets, epochs, lr)
    finally tfb.unpersist()
  }

  /** The epoch loop over a materialized feature table — shared by
    * [[qualityProbeModel]] (own persist, released) and
    * [[qualityProbeTrainScore]] (shared-cache persist, reused by the
    * returned scoring plan), so the two train identically.
    */
  private def trainOn(tfb: DataFrame, nDocs: Long, nBuckets: Int,
                      epochs: Int, lr: Double): Map[Long, Double] = {
    require(nDocs > 0, "cannot train a quality probe on an empty corpus")
    val w = Array.fill(nBuckets + 1)(0.0d)
    for (_ <- 1 to epochs) {
      val g = qualityGrads(tfb, w)
      var b = 0
      while (b <= nBuckets) {
        w(b) = round6(w(b) + (lr * g.getOrElse(b.toLong, 0.0d)) / nDocs)
        b += 1
      }
    }
    (0L to nBuckets.toLong).map(b => b -> w(b.toInt)).toMap
  }

  /** Train AND score over ONE featurization — the "fit a probe on a
    * labeled slice, score the same corpus with it" composition (the
    * x35 shape) without paying the corpus tokenize twice: the feature
    * table that feeds every epoch is shared-cache persisted
    * ([[dsirFeatures]]' discipline) and the returned scoring plan
    * aggregates IT rather than re-featurizing `docs`. Values are
    * IDENTICAL to `qualityProbeScore(docs, qualityProbeModel(docs,
    * …))` — the feature rows are the same (one definition), y rides
    * along unused, margin is the same order-free decimal sum
    * (spec-pinned; the x35 oracle replays both stages). For scoring a
    * DIFFERENT corpus than the training slice, compose the two-step
    * APIs; for scan-speed deployment, [[qualityProbeScoreMap]].
    */
  def qualityProbeTrainScore(docs: DataFrame, targetCol: Column,
                             nBuckets: Int = 256, epochs: Int = 3,
                             lr: Double = 0.5): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be at least 2, got $nBuckets")
    require(epochs >= 1, s"training needs at least one epoch, got $epochs")
    val tfb = SharedCache.persistShared(
      qualityFeatures(docs, targetCol, nBuckets))
    val model = trainOn(tfb, docs.count(), nBuckets, epochs, lr)
    tfb
      .withColumn("wb", get(weightArray(model), col("b").cast("int")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_features"),
        (round(sum((col("tf") * col("wb")).cast("decimal(38,18)"))
          .cast("double"), 6) + lit(0.0d)).as("margin"))
      .withColumn("quality", round(squash(col("margin")), 6))
      .withColumn("predicted", col("margin") >= 0)
  }

  /** Probe EVALUATION [EXT, r13 — the metric row a curation pipeline
    * reports next to the probe it trained]: self-scored AUC and
    * accuracy of [[qualityProbeTrainScore]]'s margins against the
    * training labels, plus the class counts. One row:
    * (n_pos, n_neg, n_correct, auc, accuracy).
    *
    * AUC is the Mann–Whitney form with the standard half-credit for
    * ties, computed EXACTLY in integers: margins (already on the
    * round-6 grid) collapse to a distinct-value grid with per-value
    * positive/negative counts, and
    *
    *   2·U = Σ_v np_v · (2·cumneg_<v + nn_v)
    *
    * accumulates per ascending grid value — every term a long, so the
    * statistic is order-free and bit-portable; the ONLY doubles are
    * the final divisions (2·U / (2·n_pos·n_neg), n_correct/n),
    * rounded to 6 with the −0.0 normalize. 2·U stays within a long
    * for any corpus below ~3·10⁹ scored documents (n_pos·n_neg ≤
    * n²/4); past that an AUC is computed on a sample anyway.
    *
    * Scale shape: NO global Window (the PlanSpec invariant) — the
    * running negative count uses the exactQuantiles/perplexityCutoffs
    * idiom: range-sort the grid once, collect one subtotal row per
    * partition, broadcast the prefix offsets back, fold the
    * contributions per partition. The grid is value-bounded (round-6
    * margins), the collected artifacts are one row per partition.
    */
  def qualityProbeAuc(docs: DataFrame, targetCol: Column,
                      nBuckets: Int = 256, epochs: Int = 3,
                      lr: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val labeled = docs.select(col("doc_id"), targetCol.as("y"))
      .join(qualityProbeTrainScore(docs, targetCol, nBuckets, epochs, lr)
        .select(col("doc_id"), col("margin"), col("predicted")),
        Seq("doc_id"))
    val grid = labeled.groupBy(col("margin"))
      .agg(coalesce(sum(when(col("y"), 1L).otherwise(0L)), lit(0L))
        .as("np"),
        coalesce(sum(when(col("y"), 0L).otherwise(1L)), lit(0L))
        .as("nn"))
      .orderBy(col("margin"))
    val rdd = grid.rdd // shared lineage: the sort shuffle runs once
    // ONE pass collects the per-partition negative subtotals (the
    // prefix offsets) AND the class/accuracy counts: every count is
    // derivable from the KB grid — n_pos = Σnp, n_neg = Σnn, and
    // since `predicted` is exactly margin ≥ 0 (a function of the
    // grid key), n_correct = Σ(np where margin ≥ 0 else nn) — so the
    // former third corpus-scale aggregate (labeled.agg over the join)
    // is a driver-side fold over one row per distinct margin. Exact
    // long arithmetic, value-identical (r14; the oracle is unchanged).
    val parts = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L; var np = 0L; var nc = 0L
      it.foreach { r =>
        val p = r.getLong(1); val n = r.getLong(2)
        s += n; np += p
        // `predicted` is the Spark column `margin >= 0`: SQL treats
        // NaN as the greatest double (NaN >= 0 is TRUE where the JVM
        // says false), and a NULL margin makes `predicted` null —
        // which the replaced corpus aggregate counted as incorrect
        // (neither class's count accrues). Mirror both here.
        nc += (if (r.isNullAt(0)) 0L
               else { val m = r.getDouble(0)
                 if (m >= 0 || m.isNaN) p else n })
      }
      Iterator((i, s, np, nc))
    }.collect().sortBy(_._1)
    val negParts = parts.map(_._2)
    val offsets = negParts.scanLeft(0L)(_ + _)
    val u2 = rdd.mapPartitionsWithIndex { (i, it) =>
      var cum = offsets(i)
      it.map { r =>
        val np = r.getLong(1); val nn = r.getLong(2)
        val c = np * (2L * cum + nn); cum += nn; c
      }
    }.fold(0L)(_ + _)
    val (nPos, nNeg, nCorrect) =
      (parts.map(_._3).sum, negParts.sum, parts.map(_._4).sum)
    require(nPos > 0 && nNeg > 0,
      "probe AUC needs both classes present in the training labels")
    // the derived doubles go through Spark expressions so the
    // arithmetic shape matches the oracle's exactly
    Seq((nPos, nNeg, nCorrect, u2)).toDF("n_pos", "n_neg",
        "n_correct", "u2")
      .select(col("n_pos"), col("n_neg"), col("n_correct"),
        (round(col("u2").cast("double") /
          (lit(2.0d) * col("n_pos") * col("n_neg")), 6) + lit(0.0d))
          .as("auc"),
        (round(col("n_correct").cast("double") /
          (col("n_pos") + col("n_neg")), 6) + lit(0.0d))
          .as("accuracy"))
  }

  /** The trained language-ID probe's closed class menu (x43): every
    * label [[langId]] can emit — the marker languages, the CJK class,
    * and 'und'. STATIC, so the oracle replays the exact same
    * one-vs-rest training regardless of which classes the corpus
    * realizes: a class with no bootstrap docs trains an all-negative
    * probe whose margins never win the argmax. Shared with the x43
    * oracle generator ([[graft.queries.TextQueries]]).
    */
  val LangIdClasses: Seq[String] =
    (LangMarkers.map(_._1) :+ "zh" :+ "und").sorted

  /** TRAINED language ID [EXT, x43] — the x35 probe machinery run
    * multi-class, replacing [[langId]]'s marker-word heuristic as the
    * SCORING path while keeping it as the bootstrap LABELER (the
    * fastText-langid production shape: a cheap rule labels a slice,
    * a trained classifier generalizes it to tokens the rules never
    * listed):
    *
    *  - labels: [[langId]]'s `pred_lang` over the corpus itself;
    *  - one probe per [[LangIdClasses]] class, one-vs-rest, each
    *    value-identical to the x35 trainer ([[trainOn]]: `epochs`
    *    rounds of deterministic full-batch GD on the 6-decimal grid
    *    under the algebraic sigmoid) over the SHARED hashed
    *    unigram+bigram feature space ([[dsirBuckets]] +
    *    bias-as-bucket) — featurized ONCE, cache-shared, and trained
    *    FUSED: per epoch one aggregate computes every class's margins
    *    and one gradient pass emits every class's gradients, so
    *    C×epochs scans collapse to `epochs` (the arithmetic is
    *    per-class trainOn's term for term — decimal sums are
    *    order-free and each class's columns never mix);
    *  - scoring: ONE aggregation computes every class margin
    *    (C literal weight maps in one pass, each the decimal-summed
    *    round-6 z), the winner by (margin DESC, class ASC) — a
    *    doc_id-partitioned Window over C rows per doc.
    *
    * The whole chain — bootstrap labeling, C×epochs training, the
    * C-margin scoring, the argmax — replays in SQL (oracle-checked,
    * x43). Scale: per epoch per class, one aggregate over the cached
    * feature table and a KB gradient collect; the corpus tokenizes
    * exactly once; weights ride literal maps (KB); nothing but the
    * feature table ever shuffles, always on doc_id.
    *
    * Returns (doc_id, lang, boot_lang, probe_lang, margin) — corpus
    * truth, the heuristic's label, the probe's argmax, and the
    * winning rounded-6 margin.
    */
  def langIdProbe(docs: DataFrame, nBuckets: Int = 256, epochs: Int = 3,
                  lr: Double = 0.5): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be at least 2, got $nBuckets")
    val boot = langId(docs)
      .select(col("doc_id"), col("pred_lang").as("boot_lang"))
    val docsB = docs.select(col("doc_id"), col("lang"), col("text"))
      .join(boot, "doc_id")
    // ONE featurization, label and truth riding along (constant per
    // doc — the grouping is still (doc_id, y, b) value-for-value)
    val feats = withDsirTokens(docsB.repartition(col("doc_id")))
      .select(col("doc_id"), col("lang"), col("boot_lang"),
        explode(concat(
          coalesce(dsirBucketsOf(col(DsirTokCol), nBuckets),
            array().cast("array<bigint>")),
          array(lit(nBuckets.toLong)))).as("b"))
      .groupBy(col("doc_id"), col("lang"), col("boot_lang"), col("b"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = docsB.count()
      require(n > 0, "cannot train a language-ID probe on an empty corpus")
      // ALL classes train together: per epoch, ONE pass computes every
      // class's margins (C literal weight arrays in one aggregate),
      // residuals land back on the feature rows by the doc_id-co-keyed
      // join (the qualityGrads form — see there for why this beats
      // carrying (b, tf) lists through an ObjectHashAggregate), and
      // ONE gradient aggregation emits C gradient columns per bucket —
      // C×epochs scans collapse to `epochs`. Arithmetic is trainOn's
      // value for value: the same decimal-summed round-6 z per (doc,
      // class), the same round-6 residual, the same order-free decimal
      // gradient sum, the same driver-side HALF_UP weight update (the
      // x43 oracle replays the per-class chains and pins the
      // equivalence).
      val C = LangIdClasses.size
      val ws = Array.fill(C)(Array.fill(nBuckets + 1)(0.0d))
      for (_ <- 1 to epochs) {
        val zAggs = LangIdClasses.indices.map { i =>
          round(sum((col("tf") * get(weightArray(ws(i)),
              col("b").cast("int")))
            .cast("decimal(38,18)")).cast("double"), 6).as(s"z$i")
        }
        val rCols = LangIdClasses.zipWithIndex.map { case (c, i) =>
          val y = when(col("boot_lang") === c, lit(1.0d))
            .otherwise(lit(0.0d))
          round(y - squash(col(s"z$i")), 6).as(s"r$i")
        }
        val resid = feats.groupBy(col("doc_id"), col("boot_lang"))
          .agg(zAggs.head, zAggs.tail: _*)
          .select(col("doc_id") +: rCols: _*)
        val gAggs = LangIdClasses.indices.map(i =>
          sum((col("tf") * col(s"r$i")).cast("decimal(38,18)"))
            .cast("double").as(s"g$i"))
        val grads = feats.join(resid, "doc_id")
          .groupBy(col("b"))
          .agg(gAggs.head, gAggs.tail: _*)
          .collect()
        for (row <- grads; i <- LangIdClasses.indices) {
          val b = row.getLong(0).toInt
          ws(i)(b) = round6(ws(i)(b) +
            (lr * (if (row.isNullAt(i + 1)) 0.0d else row.getDouble(i + 1)))
              / n)
        }
      }
      val models = LangIdClasses.zipWithIndex.map { case (c, i) =>
        c -> (0L to nBuckets.toLong).map(b => b -> ws(i)(b.toInt)).toMap
      }
      // every class margin in ONE pass over the cached features
      val zAggs = models.map { case (c, w) =>
        round(sum((col("tf") * get(weightArray(w), col("b").cast("int")))
          .cast("decimal(38,18)")).cast("double"), 6).as(s"z_$c")
      }
      val z = feats
        .groupBy(col("doc_id"), col("lang"), col("boot_lang"))
        .agg(zAggs.head, zAggs.tail: _*)
      val zCols: Seq[Column] = models.flatMap { case (c, _) =>
        Seq(lit(c), col(s"z_$c"))
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("margin").desc, col("cls"))
      z.select(col("doc_id"), col("lang"), col("boot_lang"),
          explode(map(zCols: _*)).as(Seq("cls", "margin")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("boot_lang"),
          col("cls").as("probe_lang"),
          (col("margin") + lit(0.0d)).as("margin"))
        // the Window feeds from the cache; the result must not (the
        // caller outlives the unpersist below)
        .localCheckpoint(true)
    } finally feats.unpersist()
  }

  /** Score a corpus under a trained probe — the exact (decimal-sum)
    * form the oracle replays: per doc, margin = round(Σ tf·w, 6)
    * (bias included via its bucket row), quality = round(σ̃, 6),
    * predicted = margin ≥ 0. `n_features` counts the doc's distinct
    * live buckets (bias included). The `+ 0.0` on margin normalizes
    * a possible −0.0 (engines disagree on rounding it).
    */
  def qualityProbeScore(docs: DataFrame,
                        model: Map[Long, Double]): DataFrame = {
    val nBuckets = model.size - 1
    require(nBuckets >= 2 &&
      model.keySet == (0L to nBuckets.toLong).toSet,
      s"model must map buckets 0..n contiguously, got ${model.size} keys")
    // bias as an in-row pseudo-token + partition-by-doc before the
    // explode (the qualityFeatures idiom): both per-doc aggregations
    // below share the ONE docs-sized exchange instead of re-shuffling
    // the exploded token stream twice
    withDsirTokens(docs.repartition(col("doc_id")))
      .select(col("doc_id"), explode(concat(
        coalesce(dsirBucketsOf(col(DsirTokCol), nBuckets),
          array().cast("array<bigint>")),
        array(lit(nBuckets.toLong)))).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("wb", get(weightArray(model), col("b").cast("int")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_features"),
        (round(sum((col("tf") * col("wb")).cast("decimal(38,18)"))
          .cast("double"), 6) + lit(0.0d)).as("margin"))
      .withColumn("quality", round(squash(col("margin")), 6))
      .withColumn("predicted", col("margin") >= 0)
  }

  /** The probe's DEPLOYMENT scorer — a PURE NARROW MAP (the dsirScore
    * idiom): featurize in-row, sum weight lookups in-row, no explode,
    * no join, no shuffle, no state — runs unchanged on a `readStream`
    * frame and at scan speed over 100 TB. The in-row double sum is
    * within float-sum error of [[qualityProbeScore]]'s order-free
    * decimal sum (spec-pinned); the decimal form stays the
    * oracle-checked truth twin.
    */
  def qualityProbeScoreMap(docs: DataFrame,
                           model: Map[Long, Double]): DataFrame = {
    val nBuckets = model.size - 1
    require(nBuckets >= 2 &&
      model.keySet == (0L to nBuckets.toLong).toSet,
      s"model must map buckets 0..n contiguously, got ${model.size} keys")
    val wArr = weightArray(model)
    withDsirTokens(docs)
      .withColumn("margin",
        round(aggregate(dsirBucketsOf(col(DsirTokCol), nBuckets),
          lit(model(nBuckets.toLong)),
          (acc, b) => acc + get(wArr, b.cast("int"))), 6) + lit(0.0d))
      .withColumn("quality", round(squash(col("margin")), 6))
      .withColumn("predicted", col("margin") >= 0)
      .drop(DsirTokCol)
  }

  /** Data-constrained epoch budgeting [EXT] — the "how many epochs of
    * each domain fit the token budget" allocator of a mixture plan
    * (the data-constrained scaling setup: repeating a domain beyond a
    * few epochs stops paying, so allocation is capped per domain and
    * the budget is spent by temperature-weighted preference):
    *  - per-domain token supply T_d (the x07 BPE-ish count);
    *  - temperature weights w_d = √T_d / Σ√T_d. τ = 0.5 is FIXED:
    *    sqrt is the one power IEEE requires correctly rounded, so the
    *    weights are bit-portable across engines where a general
    *    pow(x, τ) is not (libm pow differs engine-to-engine);
    *  - budget B = round(budgetFrac · ΣT_d) tokens, requested_d =
    *    round(w_d · B), allocated_d = min(requested_d, round(
    *    maxEpochs · T_d)) — the cap is the repetition budget;
    *  - epochs_d = allocated_d / T_d, and `capped` marks domains
    *    whose request the cap truncated. Surplus (budget the caps
    *    released) is REPORTED by difference, never silently
    *    re-spread: redistribution is a policy choice — iterate the
    *    operator over the uncapped remainder if waterfilling is
    *    wanted.
    *
    * Scale: one narrow scan → |domains|-row aggregate → one-row
    * totals broadcast back. Nothing corpus-sized shuffles; the
    * whole plan after the scan is KB-scale.
    */
  def epochBudget(docs: DataFrame, budgetFrac: Double = 0.6,
                  maxEpochs: Double = 0.6): DataFrame = {
    val perDomain = docs.groupBy(col("source"))
      .agg(sum(bpeTokenCount(col("text")).cast("long"))
        .as("domain_tokens"))
    // Σ√T through the dsum contract (scale 12: √T needs fractional
    // precision a revenue-style scale-2 sum would destroy; precision
    // 38, not 18: √T for a 10^12-token domain is 10^6, and an
    // 18-digit cast would overflow to NULL at exactly the corpus
    // sizes this operator budgets for, silently dropping the domain
    // from the weight denominator)
    val tots = perDomain.agg(
      sum(col("domain_tokens")).as("t_tot"),
      sum(sqrt(col("domain_tokens")).cast("decimal(38,12)"))
        .cast("double").as("wsum"))
    perDomain.crossJoin(broadcast(tots))
      .withColumn("weight",
        round(sqrt(col("domain_tokens")) / col("wsum"), 6))
      .withColumn("budget_tokens",
        round(lit(budgetFrac) * col("t_tot"), 0).cast("long"))
      .withColumn("requested_tokens",
        round(col("weight") * col("budget_tokens"), 0).cast("long"))
      .withColumn("cap_tokens",
        round(lit(maxEpochs) * col("domain_tokens"), 0).cast("long"))
      .withColumn("allocated_tokens",
        least(col("requested_tokens"), col("cap_tokens")))
      .withColumn("capped",
        col("requested_tokens") > col("cap_tokens"))
      .withColumn("epochs", round(col("allocated_tokens").cast("double")
        / col("domain_tokens"), 4))
      .select(col("source"), col("domain_tokens"), col("weight"),
        col("requested_tokens"), col("allocated_tokens"),
        col("epochs"), col("capped"))
  }

  /** Heavy hitters: tokens whose occurrence count exceeds `minShare`
    * of all token occurrences in the corpus — the exact form (full
    * token group-by, then the threshold against the one-row global
    * total, joined by always-safe broadcast). The shuffle moves one
    * row per distinct token; the scan is one pass. For corpora whose
    * distinct-token count itself is the bottleneck, the sketch-pruned
    * twin `engine.Sketches.heavyHittersCms` returns the same rows
    * while shuffling only near-heavy tokens.
    */
  def heavyHitters(docs: DataFrame, minShare: Double): DataFrame = {
    val counts = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
    val total = counts.agg(sum(col("n_occurrences")).as("total"))
    counts.join(broadcast(total))
      .filter(col("n_occurrences") > col("total") * lit(minShare))
      .select(col("token"), col("n_occurrences"),
        (col("n_occurrences").cast("double") / col("total")).as("share"))
  }

  /** Corpus vocabulary: the top-V tokens by occurrence count (token
    * tiebreak — deterministic cutoff) with document frequency — the
    * input to any frequency-based tokenizer/vocab build. TakeOrdered
    * top-V, no global sort.
    */
  def vocab(docs: DataFrame, topV: Int = 100): DataFrame = {
    docs.select(explode(tokens(col("text"))).as("token"),
        col("doc_id"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(topV)
  }

  /** PMI collocations: the top-K token bigrams by pointwise mutual
    * information, log(p(a,b) / (p(a)·p(b))) — the standard collocation
    * test ("new york" scores high, "of the" low) feeding tokenizer
    * merges and phrase mining. Two count shuffles (unigrams, bigrams),
    * single-row totals broadcast, two unigram-count joins left to AQE
    * (vocab-sized sides), TakeOrdered top-K — no global sort. A
    * `minCount` floor keeps one-off pairings (whose PMI is maximal by
    * construction) out of the ranking.
    */
  def pmiCollocations(docs: DataFrame, minCount: Int = 5,
                      topK: Int = 30): DataFrame = {
    val tk = tokens(col("text"))
    val pairs = adjacentPairs(col("tk"))
    val uni = docs.select(explode(tk).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val bic = docs.select(tk.as("tk"))
      .select(explode_outer(pairs).as("p"))
      .filter(col("p").isNotNull)
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_ab"))
    // the totals are Σ len and Σ (len−1) — one NARROW corpus scan for
    // both, instead of forcing the unigram/bigram count shuffles to
    // materialize twice (once for a totals job, again for the joins)
    val totals = docs.agg(
      sum(size(tk)).cast("long").as("n_uni"),
      sum(greatest(size(tk) - 1, lit(0))).cast("long").as("n_bi"))
    bic.filter(col("n_ab") >= minCount)
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_b")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_ab").as("n_pair"),
        round(log(
          (col("n_ab").cast("double") * col("n_uni") * col("n_uni")) /
            (col("n_bi").cast("double") * col("n_a") * col("n_b"))), 4)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Gopher-style repetition signal: the fraction of a document's word
    * bigrams taken by its single most frequent bigram (high → looped /
    * boilerplate text). One explode + two grouped aggregations, both
    * keyed by doc — shuffles only (doc, bigram-count) pairs.
    */
  def bigramRepetition(docs: DataFrame): DataFrame = {
    // bigram identity via the token-hash window key (order-sensitive
    // xxhash64 over the two token hashes, Dedup.windowHashArr — WITH
    // multiplicity: repetition is the point) instead of materializing
    // every bigram string; the bigram value never reaches the output,
    // so only the equality relation matters (~2^-64 collision class)
    docs.select(col("doc_id"),
        transform(tokens(col("text")), t => xxhash64(t)).as("th"))
      .select(col("doc_id"), explode_outer(
        Dedup.windowHashArr(2, distinctWindows = false)).as("bg"))
      .filter(col("bg").isNotNull)
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"), max(col("n")).as("top_bigram_n"))
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram_n"),
        round(col("top_bigram_n").cast("double") / col("n_bigrams"), 4)
          .as("top_bigram_frac"))
  }

  /** Mixture sampling — the corpus-composition step (Dolma/SlimPajama
    * style): given target mixture weights per source and a total token
    * budget, down-sample each source to ≈ its token share,
    * deterministically by content hash (re-runs and re-partitions pick
    * the same documents; no RNG). A source's keep fraction is
    * `min(1, weight·budget / available)`, quantized to basis points so
    * the threshold is integral in both engines; sources without a
    * weight are dropped. Scale: one aggregation for per-source token
    * totals (sources ≪ corpus — broadcast back), then a narrow
    * filtered scan; nothing corpus-sized shuffles.
    */
  def mixtureSample(docs: DataFrame, weights: Map[String, Double],
                    budgetTokens: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weights.toSeq.toDF("source", "weight")
    val tk = docs.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).as("n_tokens"), col("text"))
    val avail = tk.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("avail_tokens"))
    val frac = avail.join(w, "source")
      .select(col("source"),
        floor(lit(10000.0) * least(lit(1.0),
          col("weight") * budgetTokens / col("avail_tokens")))
          .as("keep_bp"))
    tk.join(broadcast(frac), "source")
      .filter(Hashing.base60(col("text")) % 10000 < col("keep_bp"))
      .select(col("doc_id"), col("source"), col("n_tokens"))
  }

  /** Sequence packing — the layout step between a cleaned corpus and a
    * trainer: documents are packed contiguously into fixed-length
    * training sequences (GPT-style, split at sequence boundaries), and
    * every document gets its (bucket, sequence, offset) coordinate.
    * Packing is greedy-contiguous in doc_id order within a hash
    * bucket: a document straddling a boundary starts in one sequence
    * and overflows into the next — exactly what boundary-splitting
    * tokenizer pipelines do, and (unlike bin-packing heuristics) fully
    * relational: one exclusive running sum per bucket.
    *
    * Scale: a single shuffle on the bucket column; the window sorts
    * within buckets only — `nBuckets` sized so a bucket is one
    * executor-core's working set keeps the sort bounded. A GLOBAL
    * packing order would serialize the window into one partition; the
    * bucket is what makes the operator parallel, at the cost of
    * per-bucket (not corpus-global) sequence numbering.
    */
  def packSequences(docs: DataFrame, seqLen: Int,
                    nBuckets: Int): DataFrame = {
    require(seqLen > 0 && nBuckets > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    docs.select(col("doc_id"), pmod(col("doc_id"), lit(nBuckets)).as("bucket"),
        size(tokens(col("text"))).as("n_tokens"))
      .withColumn("cum_excl", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("bucket"), col("n_tokens"),
        // integral `div`, not `/`: no double rounding at any scale
        expr(s"cum_excl div $seqLen").as("seq_id"),
        (col("cum_excl") % seqLen).as("offset_tokens"))
  }

  /** Deterministic stratified sample: keep ~pct% of each stratum by
    * content hash (same hash family as [[hashSplit]] — stable across
    * runs/engines/partitionings, and disjointness with a split is
    * decidable from the bucket arithmetic alone). Narrow map + filter;
    * the scan prunes nothing but the filter is codegen'd.
    */
  def stratifiedSample(docs: DataFrame, pct: Int = 10): DataFrame =
    docs.select(col("doc_id"), col("source"),
        pmod(Hashing.base60(col("text")), lit(100)).as("bucket"))
      .filter(col("bucket") < pct)
      .select(col("doc_id"), col("source"))

  /** Deterministic corpus shuffle into N shards — the "globally
    * shuffle before sequence packing" step every training run needs:
    * feeding documents in crawl/source order biases every batch, so
    * the corpus is re-ordered by a content-independent pseudo-random
    * key first. No RNG: the key is the base-60 hash of the doc id
    * (same portable family as [[hashSplit]]), so the order is
    * reproducible across runs, engines, and partitionings — a
    * restarted job resumes the identical order.
    *
    * Scale shape: shard = hash mod nShards is a narrow map; the
    * per-shard position is a window partitioned BY SHARD — one hash
    * shuffle on the shard key and a per-shard sort, which is exactly
    * the work writing a shuffled shard file costs anyway. nShards
    * scales with the corpus (thousands at 100 TB — a shard is one
    * writer's worth of data, keeping each sort in-memory); no global
    * rank, no single-partition stage anywhere.
    */
  def corpusShuffle(docs: DataFrame, nShards: Int = 8): DataFrame =
    shardPositions(shardAssign(docs, nShards))

  /** Stage 1 of [[corpusShuffle]]: the (doc_id, h, shard) assignment.
    * A narrow STATELESS map — no shuffle, no window, no state — so it
    * runs unchanged on a streaming frame: a `readStream` ingest can
    * assign shards online as documents land (proven in
    * StreamingDedupSpec), with [[shardPositions]] as the batch
    * finalize over the drained sink.
    */
  def shardAssign(docs: DataFrame, nShards: Int = 8): DataFrame =
    docs.select(col("doc_id"),
        Hashing.base60(col("doc_id").cast("string")).as("h"))
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)))

  /** Stage 2 of [[corpusShuffle]]: dense per-shard positions — the
    * write-time finalize a shard writer runs over its own (sorted)
    * slice. One hash shuffle on the shard key + a per-shard sort; the
    * hash order is content-deterministic, so positions computed over
    * a streamed-then-drained corpus equal the all-at-once batch ones.
    */
  def shardPositions(assigned: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    assigned
      .withColumn("pos", row_number().over(w).cast("long") - 1L)
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Per-domain document cap (web-corpus domain balancing: a handful
    * of boilerplate-heavy domains otherwise dominate the token
    * budget). Keeps at most `cap` docs per source, picked by the
    * deterministic hash order of [[corpusShuffle]] — a random-but-
    * reproducible subset, not "first K by crawl order" (which would
    * keep whatever the crawler saw first).
    *
    * Skew-safe by construction: NOT a `row_number` window (which
    * shuffles every row of a domain into one partition and sorts it
    * in full — a mega-domain holding half the corpus serializes that
    * stage). Instead a k-bounded grouped bottom-k aggregation
    * ([[graft.functions.BottomKAggregator]]): the map-side partial
    * reduces every partition's contribution to ≤ cap rows per domain
    * BEFORE the exchange, so the shuffle carries at most
    * (#partitions × cap) rows per domain regardless of domain size,
    * and the plan contains no Window at all (pinned in PlanSpec).
    * `pick` = position in the kept ascending (hash, doc_id) order —
    * bit-identical to the window twin's `row_number`.
    */
  def domainCap(docs: DataFrame, cap: Int = 10): DataFrame = {
    val bottomK = udaf(graft.functions.BottomKAggregator.bottomK(cap))
    docs.select(col("source"),
        Hashing.base60(col("doc_id").cast("string")).as("h"),
        col("doc_id").cast("long").as("doc_id"))
      .groupBy(col("source"))
      .agg(bottomK(col("h"), col("doc_id")).as("picked"))
      .select(col("source"), posexplode(col("picked")))
      .select(col("col._2").as("doc_id"), col("source"),
        (col("pos") + 1).cast("long").as("pick"))
  }

  /** Weighted sampling without replacement, exact k per stratum —
    * Efraimidis–Spirakis A-ES (Inf. Process. Lett. 2006 — public):
    * item i with weight w_i gets key u_i^(1/w_i), the k largest keys
    * per stratum are the sample, and the inclusion probabilities are
    * exactly proportional-to-weight without replacement. The missing
    * member between [[stratifiedSample]] (uniform Bernoulli — no
    * exact k, no weights) and [[domainCap]] (exact k — but uniform):
    * "k docs per source, longer docs proportionally likelier" is the
    * standard length-weighted curation draw.
    *
    * Deterministic, no RNG: u comes from the portable base-60 hash of
    * the doc id (the x31 Gumbel construction — A-ES IS Gumbel-top-k
    * in log space). Keys are compared as −ln(u)/w ASCENDING (the
    * monotone log transform of u^(1/w) descending), 6-decimal-rounded
    * and scaled to an exact integer grid so the oracle replays the
    * selection bit-for-bit.
    *
    * Skew-safe like [[domainCap]]: a k-bounded grouped bottom-k
    * aggregation, map-side partials ≤ k rows per stratum per
    * partition, no Window anywhere (pinned in PlanSpec).
    */
  /** The A-ES integer selection key of [[weightedSample]] — ONE
    * definition shared with the streaming twin
    * ([[graft.streaming.StreamingOps.weightedSampleStream]]), so the
    * two surfaces cannot drift (the winnowFp discipline). round-6
    * lands on a decimal grid; ×1e6 + round-0 is then an exact integer
    * in every engine (the x31 grid discipline).
    */
  private[graft] def aesKey: Column = {
    val w = size(tokens(col("text"))).cast("double")
    val u = (pmod(Hashing.base60(concat(col("doc_id").cast("string"),
      lit(":ws"))), lit(1000000L)).cast("double") + 0.5) / 1000000.0
    round(round(-log(u) / w, 6) * lit(1000000.0), 0).cast("long")
  }

  def weightedSample(docs: DataFrame, k: Int = 5): DataFrame = {
    val bottomK = udaf(graft.functions.BottomKAggregator.bottomK(k))
    docs.select(col("source"), aesKey.as("lk"),
        col("doc_id").cast("long").as("doc_id"))
      .groupBy(col("source"))
      .agg(bottomK(col("lk"), col("doc_id")).as("picked"))
      .select(col("source"), posexplode(col("picked")))
      .select(col("col._2").as("doc_id"), col("source"),
        (col("pos") + 1).cast("long").as("pick"))
  }

  /** PII patterns (C4/Dolma-style scrubbing): email addresses and
    * international-ish phone numbers. Deliberately RE2-compatible (no
    * backrefs/lookaround; `(?i)` is shared syntax) so the DuckDB
    * oracle runs the identical patterns. Case-insensitive — a scrub
    * that lets `John.Doe@Gmail.COM` through is a PII leak, not a
    * stricter matcher.
    */
  val EmailPattern = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePattern = "\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}"

  /** PII redaction — the scrub step every shipped training corpus
    * runs: emails then phone numbers replaced by sentinel tokens, with
    * per-doc match counts for the removal audit. Narrow codegen'd map
    * (regexp only), zero shuffles — scan-speed over 100 TB like every
    * other operator in this file. Phone counting runs on the
    * email-redacted text so an address's digits can't double-count.
    */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val deEmailed = regexp_replace(col(textCol), EmailPattern, "<EMAIL>")
    docs.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0)))
          .cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(deEmailed, lit(PhonePattern), lit(0)))
          .cast("long"))
      .withColumn("clean_text",
        regexp_replace(deEmailed, PhonePattern, "<PHONE>"))
  }

  /** Blocklist/lexicon tagging via one Aho–Corasick walk
    * ([[graft.functions.KeywordMatch]]): every document tagged with
    * the sorted set of patterns occurring in it — the C4 "bad words"
    * / UT1 blocklist gate and the topic-lexicon labeler in one
    * operator. `hit` is the blocklist verdict. Narrow codegen'd map,
    * zero shuffles; ONE corpus walk for the whole pattern set, where
    * per-pattern `contains` would scan the corpus |patterns| times.
    * The matched SET equals per-pattern substring containment (AC
    * finds every occurrence, including fail-link suffix overlaps) —
    * the property the DuckDB oracle checks pattern by pattern.
    */
  def keywordTags(docs: DataFrame, patterns: Seq[String]): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.KeywordMatch
          .keyword_matches(col("text"), patterns).as("ta"))
      .select(col("doc_id"),
        array_join(col("ta"), ",").as("tags"),
        size(col("ta")).as("n_tags"),
        (size(col("ta")) > 0).as("hit"))

  /** C4's terminal-punctuation line gate (Raffel et al. 2020 §2.2 —
    * public): a line survives iff it ends in . ! ? or closing quote.
    */
  val TerminalPunctPattern = "[.!?\"]$"

  /** C4 line-level cleaning (Raffel et al. 2020 §2.2 — public): the
    * canonical web-corpus scrub between the crawl and every other
    * operator in this file. Line rules: keep only lines that end in
    * terminal punctuation, have ≥ `minLineWords` words, and do not
    * mention javascript. Document rules: ≥ `minKeptLines` surviving
    * lines, no "lorem ipsum", no `{` (code in prose). Emits per-rule
    * line counts (the removal audit), the document verdict, and the
    * reassembled `clean_text` of surviving lines in original order.
    *
    * Implementation is pure higher-order column expressions
    * (`filter`/`array_join` over the line array) — a narrow,
    * whole-stage-codegen map over the scan with zero shuffles, so it
    * runs at full scan speed over 100 TB exactly like [[redactPii]].
    */
  def c4Clean(docs: DataFrame, textCol: String = "text",
              minLineWords: Int = 5, minKeptLines: Int = 3): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, l =>
      l.rlike(TerminalPunctPattern) &&
        size(split(l, " ")) >= minLineWords &&
        !lower(l).contains("javascript"))
    docs.withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_kept_lines", size(kept).cast("long"))
      .withColumn("keep_doc",
        size(kept) >= minKeptLines &&
          !lower(col(textCol)).contains("lorem ipsum") &&
          !col(textCol).contains("{"))
      .withColumn("clean_text", array_join(kept, "\n"))
      .drop(textCol)
  }

  /** Intra-document repeated-line removal (the self-repetition trim of
    * C4/Dolma-style cleaning — public): keep only the FIRST occurrence
    * of each exact line within a document, preserving original order —
    * navigation bars, cookie banners and template footers repeat
    * verbatim inside a crawled page and would otherwise dominate its
    * token budget. Complements [[c4Clean]] (which gates lines on
    * content, not repetition) and the CROSS-document span ops in
    * [[Dedup]] (d12/x24 — this one never leaves the row).
    *
    * EMPTY lines are never treated as repeats: blank lines are
    * paragraph separators, not content — deduping them would silently
    * merge paragraph structure on every multi-paragraph document
    * (found in review; the trim targets repeated CONTENT lines).
    *
    * Implementation is an indexed higher-order filter over the line
    * split (line i survives iff empty, or no identical line precedes
    * it) — a narrow whole-stage-codegen map, zero shuffles, scan-speed
    * at 100 TB like [[redactPii]]. The per-doc cost is O(L²) in LINES
    * (not tokens) with early-exit `array_contains`, negligible against
    * the tokenize passes every other operator here runs.
    */
  def dedupLines(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, (l, i) =>
      l === lit("") || !array_contains(slice(lines, lit(1), i), l))
    docs.withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_dup_lines", (size(lines) - size(kept)).cast("long"))
      .withColumn("clean_text", array_join(kept, "\n"))
      .drop(textCol)
  }

  // ───────────────────────────── BPE ─────────────────────────────

  /** Symbol delimiter for the BPE working representation: the ASCII
    * unit separator, which whitespace tokenization can never emit.
    * A word is held as "␟c₁␟ ␟c₂␟ …"; wrapping every symbol keeps a
    * literal find-and-replace of "␟a␟ ␟b␟" from matching across a
    * symbol boundary (" a b" inside "aa b"), and leftmost
    * non-overlapping `replace` semantics — identical in Spark and
    * DuckDB — are exactly BPE's left-to-right merge sweep.
    */
  private[graft] val BpeSep = "\u001f"

  /** word → delimited character-symbol string. */
  private[graft] def bpeInit(word: Column): Column =
    rtrim(regexp_replace(word, "(.)", BpeSep + "$1" + BpeSep + " "))

  /** One learned merge: `pair`/`merged` carry the delimited working
    * form (what [[bpeEncode]] replaces); rank is 1-based merge order.
    */
  final case class BpeMerge(rank: Int, pair: String, merged: String,
                            freq: Long)

  /** Byte-pair-encoding merge training (Sennrich, Haddow & Birch 2016,
    * "Neural Machine Translation of Rare Words with Subword Units" —
    * public): the subword tokenizer trainer a 100 TB pipeline runs
    * before token counting or packing. Classic dictionary form: the
    * corpus collapses ONCE to the (word, freq) vocabulary — the only
    * corpus-sized shuffle — and every merge iteration is a
    * vocab-bounded pair-count aggregate (map-side combined) plus a
    * one-row argmax collect (freq DESC, pair ASC — fully
    * deterministic), then a narrow literal-replace over the cached
    * dictionary. nMerges iterations ⇒ nMerges single-row collects:
    * the trained artifact is KB-scale by construction, the exact
    * discipline of [[dsirRatios]] and the PQ codebook. Merges never
    * cross a word boundary (no end-of-word marker — the whitespace
    * pre-tokenizer already owns boundaries). Stops early if every
    * word is fully merged.
    *
    * A realistic vocabulary is 30k+ merges: replaying the whole
    * replace chain from the cached base every iteration would make
    * iteration i cost O(i) replaces — quadratic over the run. Every
    * [[BpeRematerializeEvery]] merges the working dictionary is
    * re-persisted (applied replaces collapse into the cached rows)
    * and the stale cache dropped, so each iteration evaluates a
    * bounded-length chain regardless of nMerges.
    */
  private[graft] val BpeRematerializeEvery = 16

  /** The ceiling on [[bpeTrain]]'s driver fold: a word-frequency
    * dictionary at or under this many rows is collected from the
    * (already materialized) cache and merged by the driver loop —
    * [[bpeTrainLocal]]'s spec-pinned merge-identical arithmetic — so
    * every merge round stops costing a distributed aggregate + a
    * one-row collect + a replan of a longer replace chain. A
    * web-scale vocabulary past the cap keeps the distributed loop
    * (whose replace chain stays bounded via
    * [[BpeRematerializeEvery]]).
    */
  private[graft] val BpeDictFoldMaxRows: Int = 1 << 17

  def bpeTrain(docs: DataFrame, nMerges: Int): Seq[BpeMerge] =
    bpeTrain(docs, nMerges, BpeDictFoldMaxRows)

  /** The valve-parameterized form — the spec forces each path
    * (`foldMaxRows = 0` → distributed loop, `Int.MaxValue` → driver
    * fold) to pin them merge-for-merge equal.
    */
  private[graft] def bpeTrain(docs: DataFrame, nMerges: Int,
                              foldMaxRows: Int): Seq[BpeMerge] = {
    require(nMerges >= 1, "bpeTrain needs nMerges >= 1")
    val dict = docs
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(bpeInit(col("word")).as("s"), col("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r15: the dictionary is vocab-bounded — when it fits the valve,
    // collect it off the cache (one job) and run the driver merge
    // loop, which is merge-for-merge identical by the bpeTrainLocal
    // spec pin. Null-delimited rows cannot occur (bpeInit of a
    // non-empty word), so no null guard is needed beyond the cap.
    if (foldMaxRows > 0) {
      val capped = math.min(foldMaxRows.toLong, Int.MaxValue - 1L).toInt
      val head = dict.limit(capped + 1).collect()
      if (head.length <= capped) {
        dict.unpersist()
        return bpeMergeLoop(head.map(_.getString(0)),
          head.map(_.getLong(1)), nMerges)
      }
    }
    var cached = dict
    try {
      val out = Seq.newBuilder[BpeMerge]
      var cur = dict
      var i = 0
      var exhausted = false
      while (i < nMerges && !exhausted) {
        if (i > 0 && i % BpeRematerializeEvery == 0) {
          val next = cur
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          next.count() // materialize before releasing the parent
          cached.unpersist()
          cached = next
          cur = next
        }
        val syms = split(col("s"), " ")
        val best = cur
          .filter(size(syms) >= 2)
          .select(col("freq"), explode(zip_with(
            slice(syms, lit(1), size(syms) - 1),
            slice(syms, lit(2), size(syms) - 1),
            (a, b) => concat(a, lit(" "), b))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("freq")).as("f"))
          .orderBy(col("f").desc, col("pair"))
          .limit(1)
          .collect()
        if (best.isEmpty) exhausted = true
        else {
          val pair = best(0).getAs[String]("pair")
          val merged = pair.replace(BpeSep + " " + BpeSep, "")
          out += BpeMerge(i + 1, pair, merged,
            best(0).getAs[Long]("f"))
          cur = cur.withColumn("s",
            replace(col("s"), lit(pair), lit(merged)))
          i += 1
        }
      }
      out.result()
    } finally { dict.unpersist(); cached.unpersist() }
  }

  /** Driver-local BPE merge trainer — [[bpeTrain]]'s twin for
    * PRODUCTION merge counts: the corpus still collapses ONCE to the
    * word-frequency dictionary (the only corpus-sized work, one Spark
    * job), but the dictionary — vocab-bounded, MBs for a web-scale
    * corpus — is collected and the merge loop runs in plain JVM code.
    * [[bpeTrain]]'s per-merge Spark round-trip is the right shape
    * while the dictionary must stay distributed; at a realistic 30k
    * merges it is 30k serial driver→cluster round-trips over a
    * KB-scale table, where this loop is 30k in-memory passes.
    *
    * Merge-for-merge IDENTICAL to [[bpeTrain]] (spec-pinned): same
    * adjacent-pair counting (all sliding pairs, overlaps included),
    * same argmax — max frequency, ties to the SMALLEST pair in
    * UTF-8 BINARY order (what Spark's string ORDER BY compares;
    * Java's String ordering differs above the BMP, so the tie-break
    * compares UTF-8 bytes explicitly) — and the same leftmost
    * non-overlapping literal replace.
    */
  def bpeTrainLocal(docs: DataFrame, nMerges: Int): Seq[BpeMerge] = {
    require(nMerges >= 1, "bpeTrainLocal needs nMerges >= 1")
    val rows = docs
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(bpeInit(col("word")).as("s"), col("freq"))
      .collect()
    bpeMergeLoop(rows.map(_.getString(0)), rows.map(_.getLong(1)),
      nMerges)
  }

  /** The driver merge loop over a collected (delimited-word, freq)
    * dictionary — shared by [[bpeTrainLocal]] and [[bpeTrain]]'s
    * under-valve path. Mutates `work` in place.
    */
  private def bpeMergeLoop(work: Array[String], freqs: Array[Long],
                           nMerges: Int): Seq[BpeMerge] = {
    def utf8Less(a: String, b: String): Boolean =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
    val out = Seq.newBuilder[BpeMerge]
    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      var w = 0
      while (w < work.length) {
        val syms = work(w).split(" ")
        if (syms.length >= 2) {
          var j = 0
          while (j < syms.length - 1) {
            val p = syms(j) + " " + syms(j + 1)
            counts.update(p, counts.getOrElse(p, 0L) + freqs(w))
            j += 1
          }
        }
        w += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bestPair: String = null
        var bestF = Long.MinValue
        counts.foreach { case (p, f) =>
          if (f > bestF || (f == bestF && utf8Less(p, bestPair))) {
            bestPair = p; bestF = f
          }
        }
        val merged = bestPair.replace(BpeSep + " " + BpeSep, "")
        out += BpeMerge(i + 1, bestPair, merged, bestF)
        var w2 = 0
        while (w2 < work.length) {
          // Java's literal String.replace is the same leftmost
          // non-overlapping sweep as Spark's `replace` expression
          work(w2) = work(w2).replace(bestPair, merged)
          w2 += 1
        }
        i += 1
      }
    }
    out.result()
  }

  /** The merge table as a relational artifact (the exportable model,
    * the [[graft.ext.Similarity]] pqCodebook shape): 1-based rank,
    * the pair's two symbols and the merged symbol in display form
    * (delimiters stripped), and the pair's corpus frequency at merge
    * time.
    */
  def bpeMerges(docs: DataFrame, nMerges: Int): DataFrame =
    bpeMergesTable(docs.sparkSession, bpeTrain(docs, nMerges))

  /** A trained merge list as the display-form table (what [[bpeMerges]]
    * returns; what the CLI persists — [[bpeMergeOf]] round-trips it).
    */
  def bpeMergesTable(spark: SparkSession,
                     merges: Seq[BpeMerge]): DataFrame = {
    import spark.implicits._
    merges.map { m =>
      val parts = m.pair.split(" ")
      (m.rank.toLong, parts(0).replace(BpeSep, ""),
        parts(1).replace(BpeSep, ""), m.merged.replace(BpeSep, ""),
        m.freq)
    }.toDF("merge_rank", "lhs", "rhs", "merged", "freq")
  }

  /** Rebuild a [[BpeMerge]] from its display form (the [[bpeMerges]]
    * table row / the CLI's persisted model): working forms are the
    * display symbols re-wrapped in [[BpeSep]], so a parquet model
    * round-trips losslessly.
    */
  private[graft] def bpeMergeOf(rank: Int, lhs: String, rhs: String,
                                freq: Long): BpeMerge =
    BpeMerge(rank,
      BpeSep + lhs + BpeSep + " " + BpeSep + rhs + BpeSep,
      BpeSep + lhs + rhs + BpeSep, freq)

  /** Apply a trained merge list to one word column — the deployment
    * encoder: nMerges chained literal replaces over the delimited
    * form, a pure in-row expression (codegen'd, no explode/join/
    * shuffle/state — streaming-capable like [[dsirScore]]). Returns
    * the delimited symbol string; split on ' ' for the subwords.
    */
  private[graft] def bpeEncode(word: Column,
                               merges: Seq[BpeMerge]): Column =
    merges.foldLeft(bpeInit(word))((s, m) =>
      replace(s, lit(m.pair), lit(m.merged)))

  /** Per-word subword tokens under a trained merge list (display
    * form).
    */
  def bpeSubwords(word: Column, merges: Seq[BpeMerge]): Column =
    transform(split(bpeEncode(word, merges), " "),
      t => replace(t, lit(BpeSep), lit("")))

  /** Per-document token count under TRAINED merges — THE pipeline
    * number (epoch budgeting, packing, and billing all count subword
    * tokens, not words). Distinct from the x07 [[bpeTokenCount]]
    * regex heuristic, which estimates without a trained model. A
    * stateless narrow map over the corpus: per word, count the
    * symbols the encoder leaves. Words that vanish under tokenization
    * (empty strings from doubled spaces) count zero.
    */
  def bpeTokenCounts(docs: DataFrame,
                     merges: Seq[BpeMerge]): DataFrame =
    docs.select(col("doc_id"),
      aggregate(filter(tokens(col("text")), w => length(w) > 0),
        lit(0L),
        (acc, w) => acc +
          size(split(bpeEncode(w, merges), " ")).cast("long"))
        .as("n_tokens"))

  /** Document fingerprints: content digest (md5) + 60-bit integer
    * fingerprint for compact joins.
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("digest"),
      Hashing.base60(col("text")).as("fp60"))

  /** Karp–Rabin rolling hash over the document's characters — the
    * classic content-defined fingerprint. Driver/executor-side Scala
    * (used by the chunking spec); the relational twin is md5-based
    * (fingerprints) since SQL engines can't express the rolling state.
    */
  def rollingHash(s: String, base: Long = 31L,
                  mod: Long = (1L << 61) - 1): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = (mulMod(h, base, mod) + s.charAt(i)) % mod
      i += 1
    }
    h
  }

  private def mulMod(a: Long, b: Long, m: Long): Long =
    java.math.BigInteger.valueOf(a)
      .multiply(java.math.BigInteger.valueOf(b))
      .mod(java.math.BigInteger.valueOf(m)).longValueExact()
}
