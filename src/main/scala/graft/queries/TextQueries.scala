package graft.queries

import graft.Tables
import graft.ext.{Hashing, TextAnalysis}

/** [EXT] text-analysis surface over `documents`
  * (SURVEY.md §0 north-star operators). Spark side lives in
  * graft.ext.TextAnalysis; oracles are generated from the same marker
  * lists so the two can't drift.
  */
object TextQueries {

  /** x36/x37's merge budget — pinned once, shared by the Spark query
    * and the oracle's unrolled replay (training is deterministic, so
    * the oracle must unroll the SAME number of rounds).
    */
  private val BpeNMerges = 8

  /** x40's blocklist — shared by the Spark automaton and the
    * oracle's per-pattern containment CTE. Deliberately overlapping
    * ('able' occurs inside the corpus word 'table') so suffix
    * matches via fail links are exercised, and multi-word phrases so
    * matches cross token boundaries.
    */
  private val BlockPhrases = Seq(
    "fast merge", "merge batch", "able", "key agg", "agg row",
    "spark", "slow scan")

  val defs: Map[String, QueryFn] = Map(
    "x01_token_stats" -> { (s, d) =>
      TextAnalysis.tokenStats(Tables.documents(s, d))
    },
    "x02_quality" -> { (s, d) =>
      TextAnalysis.qualityScores(Tables.documents(s, d))
    },
    "x03_langid" -> { (s, d) =>
      TextAnalysis.langId(Tables.documents(s, d))
    },
    "x04_fingerprint" -> { (s, d) =>
      TextAnalysis.fingerprints(Tables.documents(s, d))
    },
    "x06_chunking" -> { (s, d) =>
      TextAnalysis.chunk(Tables.documents(s, d), window = 40, stride = 30)
    },

    /** x14 — PII redaction. The synthetic corpus contains no PII, so
      * the query redacts a deterministically PII-AUGMENTED column
      * (every doc gains one email + one phone derived from its id):
      * the operator's counting and replacement mechanics are fully
      * oracle-checked with real matches. The redacted text crosses the
      * oracle boundary as an md5 digest (compact, order-free).
      */
    "x14_redact_pii" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      val aug = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact doc"),
          col("doc_id").cast("string"), lit("@example.com or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
          .as("text"))
      TextAnalysis.redactPii(aug)
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          md5(col("clean_text")).as("redacted_digest"))
    },
    "x07_bpe_tokens" -> { (s, d) =>
      import org.apache.spark.sql.functions.col
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"))
    },

    /** x08 — benchmark decontamination: docs from every other source
      * sharing a distinct 5-gram with the 'src0' eval slice.
      */
    "x08_decontaminate" -> { (s, d) =>
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      graft.ext.Dedup.contamination(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), n = 5)
    },
    /** x24 — span-level decontamination, x08's surgical twin: instead
      * of dropping a contaminated doc wholesale, cut ONLY the spans
      * overlapping the 'src0' eval slice's 5-grams and keep the rest.
      */
    "x24_despan_decontaminate" -> { (s, d) =>
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      graft.ext.Dedup.despanContaminated(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), n = 5)
    },
    "x09_hash_split" -> { (s, d) =>
      TextAnalysis.hashSplit(Tables.documents(s, d))
    },

    /** x30 — leakage-safe grouped split: whole domains assigned to one
      * split (near-dups cluster within a domain; a content-hash split
      * would leak them across train/test).
      */
    "x30_grouped_split" -> { (s, d) =>
      TextAnalysis.groupedSplit(Tables.documents(s, d))
    },

    /** x31 — DSIR importance resampling (Xie et al. 2023): select the
      * 100 non-'src0' documents whose hashed unigram+bigram bucket
      * distribution is most 'src0'-like (the same target slice as
      * x08/x24's decontamination), via Gumbel-top-k over Laplace-
      * smoothed log importance weights. Deterministic end-to-end:
      * portable hash buckets, hash-derived Gumbel noise, doc_id
      * tiebreak at the cutoff.
      */
    "x31_dsir_resample" -> { (s, d) =>
      import org.apache.spark.sql.functions.col
      TextAnalysis.dsirResample(Tables.documents(s, d),
        col("source") === "src0", k = 100, nBuckets = 256)
    },

    /** x35 — trainable quality probe (fastText/WebText-classifier
      * shape): 3 epochs of deterministic full-batch gradient descent
      * over hashed unigram+bigram counts against the src0 target
      * slice, then the whole corpus scored under the trained weights.
      * The ORACLE REPLAYS THE TRAINING — three unrolled epoch CTEs of
      * decimal-summed gradients on the 6-decimal grid under the
      * algebraic sigmoid (exp is not IEEE-correctly-rounded; ½(1 +
      * z/(1+|z|)) is pure +,·,/,|·| and bit-portable) — so margins
      * match hash-exactly, not just directionally. EAGER: training
      * collects a KB-scale gradient per epoch at construction (the
      * pqTrainOn/x23 caveat). The fused train-and-score form (r12):
      * one featurization feeds every epoch AND the final scoring —
      * spec-pinned value-identical to the two-step composition.
      */
    "x35_quality_probe" -> { (s, d) =>
      import org.apache.spark.sql.functions.col
      TextAnalysis.qualityProbeTrainScore(Tables.documents(s, d),
        col("source") === "src0")
    },

    /** x42 — probe EVALUATION (r13): the self-scored AUC/accuracy row
      * a curation pipeline reports next to the probe it trained. The
      * Mann–Whitney statistic accumulates in exact longs over the
      * round-6 margin grid (half-credit ties), with the running
      * negative count via the exactQuantiles range-sort idiom — no
      * global Window; only the two final divisions are doubles. The
      * oracle replays x35's full training chain and the identical
      * integer fold (its running count may use a WINDOW — DuckDB is
      * single-node; the PlanSpec invariant binds the Spark plan).
      */
    "x42_probe_auc" -> { (s, d) =>
      import org.apache.spark.sql.functions.col
      TextAnalysis.qualityProbeAuc(Tables.documents(s, d),
        col("source") === "src0")
    },

    /** x43 — TRAINED language ID (r14): x03's marker heuristic stays
      * the bootstrap LABELER, and one x35-style probe per class in
      * the closed [[graft.ext.TextAnalysis.LangIdClasses]] menu
      * trains one-vs-rest over the shared hashed unigram+bigram
      * space (ONE featurization for every class's epochs AND the
      * scoring); the prediction is the argmax margin (class-asc
      * tiebreak). The ORACLE REPLAYS EVERYTHING: the x03 label
      * QUALIFY, six per-class unrolled 3-epoch training chains (the
      * probeCtes generator — one definition with x35/x42), the six
      * decimal-grid margins and the argmax.
      */
    "x43_langid_probe" -> { (s, d) =>
      TextAnalysis.langIdProbe(Tables.documents(s, d))
    },

    /** x36 — BPE merge training (Sennrich et al. 2016): 8 merges
      * learned from the corpus's word-frequency dictionary — one
      * corpus shuffle, then vocab-bounded pair-count aggregates with
      * a 1-row argmax collect per merge. The ORACLE REPLAYS THE
      * TRAINING (the x35 discipline): 8 unrolled pair-count/argmax/
      * replace CTE rounds over the identical delimited representation,
      * so every learned pair, its merge order, AND its frequency must
      * match exactly.
      */
    "x36_bpe_merges" -> { (s, d) =>
      TextAnalysis.bpeMerges(Tables.documents(s, d), BpeNMerges)
    },

    /** x37 — BPE token counting under the trained merges: THE number
      * a data pipeline bills by (budgeting/packing count subwords,
      * not words). Training is x36's (eager, KB-scale artifact);
      * counting is a stateless narrow in-row map (chained literal
      * replaces — no explode, no join, streaming-capable). Oracle:
      * x36's training replay feeding the same nested replaces.
      */
    "x37_bpe_tokens" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.bpeTokenCounts(docs,
        TextAnalysis.bpeTrain(docs, BpeNMerges))
    },

    /** x38 — CCNet perplexity buckets: the corpus split head/middle/
      * tail by exact-rank tertiles of the x15 unigram log-likelihood.
      * Cutoffs are non-interpolated order statistics (values present
      * in the data at integer ranks ceil(b·n/3)), so the oracle
      * compares exact rounded grid values — no fresh IEEE
      * interpolation to drift a boundary doc across engines. The
      * Spark side ranks by the distributed-cumsum idiom (no Window);
      * assignment is a literal-comparison narrow map.
      */
    "x38_perplexity_buckets" -> { (s, d) =>
      TextAnalysis.perplexityBuckets(Tables.documents(s, d), 3)
    },

    /** x39 — bigram-LM scoring with add-½ Lidstone smoothing: mean
      * ln p(w2|w1) per doc under the corpus's own bigram counts, one
      * model order up from x15 and the mechanics of CCNet's KenLM
      * filter. Oracle: the x15 recipe (round-6 per-bigram logs,
      * decimal order-free sum, one final IEEE divide) over the same
      * smoothed-ratio double arithmetic — history counts, the vocab
      * scalar, and every division replayed op-for-op.
      */
    "x39_bigram_loglik" -> { (s, d) =>
      TextAnalysis.bigramLogLik(Tables.documents(s, d), alpha = 0.5)
    },

    /** x40 — Aho–Corasick blocklist tagging: one automaton walk tags
      * every doc with its sorted matched-pattern set (the C4
      * bad-words / UT1 gate). The pattern list overlaps on purpose
      * ('able' is a suffix of 'table…' phrases) so the fail-link path
      * is load-bearing, not just trie descent. Oracle: per-pattern
      * substring containment — the exact set AC must reproduce.
      */
    "x40_keyword_tags" -> { (s, d) =>
      TextAnalysis.keywordTags(Tables.documents(s, d), BlockPhrases)
    },

    /** x33 — data-constrained epoch budgeting: per-domain token
      * supply → √-temperature weights → budget split with a
      * repetition cap (maxEpochs), surplus reported by difference.
      * budgetFrac/maxEpochs chosen so the corpus's ±15% domain-size
      * spread puts domains on BOTH sides of the cap (small domains
      * cap, large ones don't) at every scale factor — the allocation
      * arithmetic is all integer/grid, so the split is deterministic.
      */
    "x33_epoch_budget" -> { (s, d) =>
      TextAnalysis.epochBudget(Tables.documents(s, d))
    },

    /** x32 — intra-document repeated-line removal. The corpus is
      * single-line, so the query runs the operator on deterministically
      * LINE-STRUCTURED text (the x28 augmentation pattern: tokens
      * regrouped 8 per line) with the first line re-planted at the end
      * on doc_id multiples of 2 and 5 — guaranteed non-adjacent
      * repeats, so first-occurrence keeping, order preservation and
      * the dup count are all oracle-checked; doc_id multiples of 3
      * additionally gain TWO consecutive blank lines, pinning the
      * empty-lines-are-never-repeats rule (paragraph separators
      * survive). Cleaned text crosses the oracle boundary as an md5
      * digest.
      */
    "x32_line_dedup" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      val tk = split(col("text"), " ")
      val body = array_join(
        transform(sequence(lit(0), ((size(tk) - 1) / 8).cast("int")), i =>
          array_join(slice(tk, i * 8 + 1, lit(8)), " ")), "\n")
      val first = array_join(slice(tk, 1, 8), " ")
      val aug = Tables.documents(s, d).select(col("doc_id"),
        concat(body,
          when(col("doc_id") % 2 === 0, concat(lit("\n"), first))
            .otherwise(""),
          when(col("doc_id") % 3 === 0, "\n\n").otherwise(""),
          when(col("doc_id") % 5 === 0, concat(lit("\n"), first))
            .otherwise("")).as("text"))
      TextAnalysis.dedupLines(aug)
        .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
          md5(col("clean_text")).as("clean_digest"))
    },

    /** x25 — deterministic corpus shuffle: hash-keyed shard + in-shard
      * position, the reproducible "global shuffle before packing"
      * (see TextAnalysis.corpusShuffle's scale notes: one shard-key
      * shuffle, per-shard sort, no global rank).
      */
    "x25_corpus_shuffle" -> { (s, d) =>
      TextAnalysis.corpusShuffle(Tables.documents(s, d), nShards = 8)
    },

    /** x26 — per-domain cap: ≤10 docs per source by deterministic hash
      * order (domain balancing; random-but-reproducible subset).
      */
    "x26_domain_cap" -> { (s, d) =>
      TextAnalysis.domainCap(Tables.documents(s, d), cap = 10)
    },
    /** x27 — Gopher word-level quality rules (Rae et al. 2021): every
      * gate as an auditable feature + the conjunctive keep. The
      * synthetic vocabulary contains only one of Gopher's required
      * stopwords ("the") so the raw gate would be constant-false;
      * the query therefore appends a deterministic stopword suffix by
      * doc_id residue (the x14/x16 augmentation pattern) so keep
      * varies and every rule path is oracle-checked.
      */
    "x27_gopher_quality" -> { (s, d) =>
      TextAnalysis.gopherQuality(gopherAug(s, d))
    },

    /** x29 — the removal audit over x27's gates: per-source document
      * counts, drop count, and per-rule violation counts (which gate
      * is killing which domain — the first question a curation run
      * answers). One vocabulary-free groupBy over the narrow x27 map.
      */
    "x29_quality_audit" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      TextAnalysis.gopherQuality(gopherAug(s, d))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(!col("n_words").between(50, 100000), 1L)
            .otherwise(0L)).as("n_len_fail"),
          sum(when(!col("mean_word_len").between(3.0, 10.0), 1L)
            .otherwise(0L)).as("n_meanlen_fail"),
          sum(when(col("symbol_ratio") > 0.1, 1L)
            .otherwise(0L)).as("n_symbol_fail"),
          sum(when(col("alpha_frac") < 0.8, 1L)
            .otherwise(0L)).as("n_alpha_fail"),
          sum(when(col("n_req_stop") < 2, 1L)
            .otherwise(0L)).as("n_stop_fail"))
    },

    /** x28 — C4 line-level cleaning. The corpus is single-line
      * (space-joined tokens), so the query runs the operator on a
      * deterministically LINE-STRUCTURED text (same pattern as
      * x14/x16's augmentation): tokens regrouped 8 per line, terminal
      * punctuation assigned by line length mod 3, plus planted
      * code/lorem-ipsum/javascript lines on doc_id multiples so every
      * C4 rule actually fires and is oracle-checked. Cleaned text
      * crosses the oracle boundary as an md5 digest.
      */
    "x28_c4_line_filter" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      val tk = split(col("text"), " ")
      val body = array_join(
        transform(sequence(lit(0), ((size(tk) - 1) / 8).cast("int")), i => {
          val line = array_join(slice(tk, i * 8 + 1, lit(8)), " ")
          concat(line,
            when(length(line) % 3 === 0, ".")
              .when(length(line) % 3 === 1, "").otherwise("?"))
        }), "\n")
      val aug = Tables.documents(s, d).select(col("doc_id"),
        concat(body,
          when(col("doc_id") % 7 === 0, "\nfunction() { return 1; }")
            .otherwise(""),
          when(col("doc_id") % 11 === 0,
            "\nlorem ipsum dolor sit amet consectetur adipiscing elit.")
            .otherwise(""),
          when(col("doc_id") % 13 === 0,
            "\nplease enable javascript to view the comments.")
            .otherwise("")).as("text"))
      TextAnalysis.c4Clean(aug)
        .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
          col("keep_doc"), md5(col("clean_text")).as("clean_digest"))
    },
    "x10_tfidf" -> { (s, d) =>
      TextAnalysis.tfidfTopK(Tables.documents(s, d), k = 3)
    },
    "x11_vocab" -> { (s, d) =>
      TextAnalysis.vocab(Tables.documents(s, d), topV = 100)
    },

    /** x20/x21 — heavy hitters (tokens above 1% of all occurrences):
      * exact group-by form and the CMS-pruned + exact-reverify form.
      * The sketch path provably returns the same rows (CMS never
      * underestimates; candidates are re-counted exactly), so BOTH are
      * checked against the same oracle — the approximation is in the
      * pruning, never in the answer.
      */
    "x20_heavy_hitters" -> { (s, d) =>
      TextAnalysis.heavyHitters(Tables.documents(s, d), minShare = 0.01)
    },
    "x21_heavy_hitters_cms" -> { (s, d) =>
      import org.apache.spark.sql.functions.{col, explode}
      val toks = Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      graft.engine.Sketches.heavyHittersCms(toks, "token",
        minShare = 0.01, eps = 1e-4)
    },
    "x12_repetition" -> { (s, d) =>
      TextAnalysis.bigramRepetition(Tables.documents(s, d))
    },

    /** x23 — Zipf slope: least-squares fit of log-frequency against
      * log-rank over the vocabulary — the corpus-health diagnostic
      * (natural text ≈ −1; templated/boilerplate corpora deviate).
      * Determinism discipline: log values round to 6 places, the four
      * regression sums accumulate as decimal(38,18) (order-free), and
      * only the final slope arithmetic runs in double with identical
      * parenthesization to the oracle.
      *
      * Rank at scale: a global `row_number` window single-partitions
      * the vocabulary — fine at sf0.1 (~10⁵ types) but a web corpus has
      * ~10⁹. Instead: distributed range-partitioned total sort on
      * (f desc, w) + `zipWithIndex`, which assigns the IDENTICAL rank
      * (same total order; indices are per-partition offsets summed on
      * the driver — one extra count job, no single-partition stage).
      * This is the one deliberate RDD hop in the query surface; the
      * regression sums that follow are orders of magnitude cheaper than
      * the token count above, so the lost codegen is immaterial.
      *
      * EAGERNESS CAVEAT: zipWithIndex launches its partition-count job
      * at CONSTRUCTION, so building this DataFrame (even just to print
      * its plan) executes the vocabulary sort — unlike every other
      * query here. The sort's shuffle files are reused by the final
      * job, so the extra cost is one post-shuffle scan; plan-only
      * consumers (PlanSpec's audits) pay it at sf0.001 only.
      */
    "x23_zipf" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      import s.implicits._
      val vf = Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      val ranked = vf.select(col("w"), col("f"))
        .orderBy(col("f").desc, col("w"))
        .rdd.zipWithIndex()
        .map { case (row, i) => (row.getLong(1), i + 1L) }
        .toDF("f", "r")
      val xy = ranked
        .select(round(log(col("r").cast("double")), 6).as("x"),
          round(log(col("f").cast("double")), 6).as("y"))
      def ds(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(38,18)")).cast("double")
      xy.agg(count(lit(1)).as("n"), ds(col("x")).as("sx"),
          ds(col("y")).as("sy"), ds(col("x") * col("y")).as("sxy"),
          ds(col("x") * col("x")).as("sxx"))
        .select(col("n").cast("long").as("n_types"),
          round((col("n").cast("double") * col("sxy") -
            col("sx") * col("sy")) /
            (col("n").cast("double") * col("sxx") -
              col("sx") * col("sx")), 4).as("zipf_slope"))
    },

    /** x22 — PMI collocations: top bigrams by pointwise mutual
      * information (the collocation signal feeding tokenizer merges /
      * phrase mining). Exact integer counts; the log ratio is rounded
      * on both sides with identical parenthesization.
      */
    "x22_pmi_collocations" -> { (s, d) =>
      TextAnalysis.pmiCollocations(Tables.documents(s, d),
        minCount = 5, topK = 30)
    },
    "x13_stratified_sample" -> { (s, d) =>
      TextAnalysis.stratifiedSample(Tables.documents(s, d), pct = 10)
    },

    /** x34 — exact-k-per-stratum weighted sampling without
      * replacement (A-ES): longer documents proportionally likelier,
      * deterministic via the hash-derived uniform, selected by the
      * skew-safe bottom-k aggregation (no Window — PlanSpec).
      */
    "x34_weighted_sample" -> { (s, d) =>
      TextAnalysis.weightedSample(Tables.documents(s, d), k = 5)
    },

    /** x15 — unigram log-likelihood (CCNet-style perplexity stand-in):
      * mean ln p(token) per doc under the corpus's own unigram model.
      */
    "x15_unigram_loglik" -> { (s, d) =>
      TextAnalysis.unigramLogLik(Tables.documents(s, d))
    },

    /** x41 — per-source Jensen–Shannon divergence vs the rest of the
      * corpus (µ-nats): the mixture-drift monitor. The x15 ln-recipe
      * on a ×1e6 grid; the source-spine × vocab grid is the output
      * support. EAGER: the (source, token) count table checkpoints
      * at construction.
      */
    "x41_source_divergence" -> { (s, d) =>
      TextAnalysis.sourceDivergence(Tables.documents(s, d))
    },

    /** x17 — mixture sampling: compose a 2000-token corpus at
      * 40/30/20/10 weights over four sources, deterministic by content
      * hash. Weights and budget are shared with the oracle below.
      */
    "x17_mixture_sample" -> { (s, d) =>
      TextAnalysis.mixtureSample(Tables.documents(s, d),
        MixtureWeights, MixtureBudget)
    },

    /** x18 — sequence packing at 512-token sequences over 8 buckets:
      * every doc's (bucket, training-sequence, offset) coordinate.
      */
    "x18_pack_sequences" -> { (s, d) =>
      TextAnalysis.packSequences(Tables.documents(s, d),
        seqLen = 512, nBuckets = 8)
    },

    /** x16 — Unicode NFC canonicalization via the native
      * [[graft.functions.NfcNormalize]] expression. The synthetic corpus
      * is ASCII (already NFC — would only exercise the fast path), so
      * the query appends a combining-mark suffix to every doc: code-
      * point counts shrink under NFC (5→4 for `cafe`+U+0301) and the
      * digest proves the normalized bytes match DuckDB's nfc_normalize
      * exactly.
      */
    "x16_nfc_normalize" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      import graft.functions.NfcNormalize.nfc_normalize
      val aug = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" cafe\u0301 A\u030Angstro\u0308m")).as("text"))
      aug.select(col("doc_id"),
        length(col("text")).as("n_cp_raw"),
        length(nfc_normalize(col("text"))).as("n_cp_nfc"),
        md5(nfc_normalize(col("text"))).as("nfc_digest"))
    })

  private val stopList =
    TextAnalysis.StopWords.map(w => s"'$w'").mkString(", ")

  /** x27's required-stopword list — generated from the same Scala
    * constant the operator reads so the two sides can't drift.
    */
  private val gopherReqList =
    TextAnalysis.GopherRequiredWords.map(w => s"'$w'").mkString(", ")

  /** x27/x29's shared deterministic stopword augmentation (the corpus
    * vocabulary contains only "the" of Gopher's required list, so the
    * raw gate would be constant-false). ONE definition for both
    * queries; [[gopherCte]] is its SQL twin.
    */
  private def gopherAug(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.documents(s, d).select(col("doc_id"), col("source"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0, " of and that have")
          .when(col("doc_id") % 3 === 1, " to the")
          .otherwise("")).as("text"))
  }

  /** x17's mixture — ONE definition feeding both engines. */
  val MixtureWeights: Map[String, Double] =
    Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1)
  val MixtureBudget = 2000L

  // CAST: DuckDB would infer the bare literal as DECIMAL and run the
  // fraction arithmetic in decimal, diverging from Spark's double
  private val mixtureValuesSql = MixtureWeights.toSeq.sorted
    .map { case (s, w) => s"('$s', CAST($w AS DOUBLE))" }.mkString(", ")

  /** The gopher-feature CTE chain shared by x27 (per-doc rows) and
    * x29 (per-source audit): augmentation → features → keep verdict.
    * Feature arithmetic mirrors [[TextAnalysis.gopherQuality]]
    * op-for-op (same count/size double divisions) so the doubles are
    * bit-identical across engines.
    */
  private val gopherCte: String =
    s"""WITH aug AS (
       |  SELECT doc_id, source, text ||
       |    CASE WHEN doc_id % 3 = 0 THEN ' of and that have'
       |         WHEN doc_id % 3 = 1 THEN ' to the'
       |         ELSE '' END AS text
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, source,
       |    CAST(len(t) AS BIGINT) AS n_words,
       |    CAST(length(text) - (len(t) - 1) AS DOUBLE) / len(t)
       |      AS mean_word_len,
       |    CAST(len(list_filter(t, w -> contains(w, '#')
       |      OR contains(w, '…'))) AS DOUBLE) / len(t) AS symbol_ratio,
       |    CAST(len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]')))
       |      AS DOUBLE) / len(t) AS alpha_frac,
       |    CAST(len(list_intersect(list_distinct(t), [$gopherReqList]))
       |      AS BIGINT) AS n_req_stop
       |  FROM (SELECT doc_id, source, text,
       |          string_split(text, ' ') AS t FROM aug)),
       |gq AS (
       |  SELECT doc_id, source, n_words, mean_word_len, symbol_ratio,
       |    alpha_frac, n_req_stop,
       |    (n_words BETWEEN 50 AND 100000
       |      AND mean_word_len BETWEEN 3.0 AND 10.0
       |      AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8
       |      AND n_req_stop >= 2) AS keep
       |  FROM f)""".stripMargin

  /** zh score in DuckDB's RE2 syntax (Spark uses Java's \uXXXX form —
    * same codepoint class).
    */
  private val cjkSql =
    "length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g'))"

  private val langScoresSql: String =
    (TextAnalysis.LangMarkers.map { case (lang, ms) =>
      val set = ms.map(m => s"'$m'").mkString(", ")
      s"""SELECT doc_id, lang, '$lang' AS pred_lang,
         |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ($set))) AS BIGINT) AS score
         |FROM documents""".stripMargin
    } :+
      s"""SELECT doc_id, lang, 'zh' AS pred_lang,
         |  CAST($cjkSql AS BIGINT) AS score
         |FROM documents""".stripMargin).mkString("\nUNION ALL\n")

  /** The x36/x37 BPE training replay as unrolled CTE rounds (the x35
    * discipline — the oracle re-runs the TRAINING, not just the
    * scoring). Round i: adjacent-pair counts over the delimited
    * dictionary w(i−1), argmax (freq DESC, pair ASC — binary string
    * order, identical in both engines), literal leftmost
    * non-overlapping replace. chr(31) is [[TextAnalysis.BpeSep]].
    */
  private def bpeReplayCtes(n: Int): String = {
    val sep = "chr(31)"
    val init = "rtrim(regexp_replace(word, '(.)', " +
      s"$sep || '\\1' || $sep || ' ', 'g'))"
    val rounds = (1 to n).map { i =>
      val p = i - 1
      s"""p$i AS (
         |  SELECT pair, SUM(freq) AS f FROM (
         |    SELECT l[j] || ' ' || l[j+1] AS pair, freq FROM (
         |      SELECT l, freq, unnest(range(1, len(l))) AS j FROM (
         |        SELECT string_split(s, ' ') AS l, freq FROM w$p)))
         |  GROUP BY pair),
         |b$i AS (
         |  SELECT pair, replace(pair, $sep || ' ' || $sep, '') AS merged,
         |         f
         |  FROM p$i ORDER BY f DESC, pair LIMIT 1),
         |w$i AS (
         |  SELECT replace(w.s, b.pair, b.merged) AS s, w.freq
         |  FROM w$p w CROSS JOIN b$i b)""".stripMargin
    }.mkString(",\n")
    s"""dict AS (
       |  SELECT word, COUNT(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word
       |    FROM documents)
       |  WHERE len(word) > 0 GROUP BY word),
       |w0 AS (SELECT $init AS s, freq FROM dict),
       |$rounds""".stripMargin
  }

  /** The probe training-replay chain generator (features → three
    * unrolled epochs → per-doc margins in `scored$sfx`) over relation
    * `rel` against the boolean target `targetSql` — ONE definition
    * shared by the x35 oracle, the x42 AUC tail, and x43's per-class
    * one-vs-rest chains, so none can drift.
    */
  private def probeCtes(rel: String, targetSql: String,
                        sfx: String): String =
    s"""tok$sfx AS (
         |  SELECT doc_id, ($targetSql) AS is_t,
         |    string_split(text, ' ') AS t
         |  FROM $rel),
         |feat$sfx AS (
         |  SELECT doc_id, is_t, unnest(t) AS f FROM tok$sfx
         |  UNION ALL
         |  SELECT doc_id, is_t, unnest(list_transform(range(1, len(t)),
         |    i -> t[i] || ' ' || t[i+1])) AS f FROM tok$sfx),
         |tfb$sfx AS (
         |  SELECT doc_id,
         |    CASE WHEN is_t THEN CAST(1.0 AS DOUBLE)
         |         ELSE CAST(0.0 AS DOUBLE) END AS y,
         |    ${Hashing.base60Sql("f")} % 256 AS b,
         |    CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM feat$sfx GROUP BY 1, 2, 3
         |  UNION ALL
         |  SELECT doc_id,
         |    CASE WHEN ($targetSql) THEN CAST(1.0 AS DOUBLE)
         |         ELSE CAST(0.0 AS DOUBLE) END AS y,
         |    256 AS b, CAST(1 AS BIGINT) AS tf
         |  FROM $rel),
         |nd$sfx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM $rel),
         |r1$sfx AS (
         |  SELECT doc_id, round(y - CAST(0.5 AS DOUBLE), 6) AS r
         |  FROM (SELECT DISTINCT doc_id, y FROM tfb$sfx)),
         |w1$sfx AS (
         |  SELECT b, round((CAST(0.5 AS DOUBLE) * g) / n, 6) AS w
         |  FROM (SELECT b,
         |          CAST(SUM(CAST(tf * r AS DECIMAL(38,18))) AS DOUBLE)
         |            AS g
         |        FROM tfb$sfx JOIN r1$sfx USING (doc_id) GROUP BY b)
         |  CROSS JOIN nd$sfx),
         |z2$sfx AS (
         |  SELECT doc_id, y,
         |    round(CAST(SUM(CAST(tf * w AS DECIMAL(38,18))) AS DOUBLE),
         |      6) AS z
         |  FROM tfb$sfx JOIN w1$sfx USING (b) GROUP BY doc_id, y),
         |r2$sfx AS (
         |  SELECT doc_id, round(y - (CAST(0.5 AS DOUBLE) * (CAST(1.0 AS DOUBLE) + z / (CAST(1.0 AS DOUBLE) + abs(z)))), 6) AS r FROM z2$sfx),
         |w2$sfx AS (
         |  SELECT b, round(w + (CAST(0.5 AS DOUBLE) * g) / n, 6) AS w
         |  FROM (SELECT b,
         |          CAST(SUM(CAST(tf * r AS DECIMAL(38,18))) AS DOUBLE)
         |            AS g
         |        FROM tfb$sfx JOIN r2$sfx USING (doc_id) GROUP BY b)
         |  JOIN w1$sfx USING (b) CROSS JOIN nd$sfx),
         |z3$sfx AS (
         |  SELECT doc_id, y,
         |    round(CAST(SUM(CAST(tf * w AS DECIMAL(38,18))) AS DOUBLE),
         |      6) AS z
         |  FROM tfb$sfx JOIN w2$sfx USING (b) GROUP BY doc_id, y),
         |r3$sfx AS (
         |  SELECT doc_id, round(y - (CAST(0.5 AS DOUBLE) * (CAST(1.0 AS DOUBLE) + z / (CAST(1.0 AS DOUBLE) + abs(z)))), 6) AS r FROM z3$sfx),
         |w3$sfx AS (
         |  SELECT b, round(w + (CAST(0.5 AS DOUBLE) * g) / n, 6) AS w
         |  FROM (SELECT b,
         |          CAST(SUM(CAST(tf * r AS DECIMAL(38,18))) AS DOUBLE)
         |            AS g
         |        FROM tfb$sfx JOIN r3$sfx USING (doc_id) GROUP BY b)
         |  JOIN w2$sfx USING (b) CROSS JOIN nd$sfx),
         |scored$sfx AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_features,
         |    round(CAST(SUM(CAST(tf * w AS DECIMAL(38,18))) AS DOUBLE),
         |      6) + CAST(0.0 AS DOUBLE) AS margin
         |  FROM tfb$sfx JOIN w3$sfx USING (b) GROUP BY doc_id)""".stripMargin

  /** The x35 training-replay chain — [[probeCtes]] at its original
    * instantiation (documents, the src0 target, no suffix).
    */
  private val X35Ctes: String = probeCtes("documents", "source = 'src0'", "")

  val oracles: Map[String, String] = Map(
    "x36_bpe_merges" -> {
      val sep = "chr(31)"
      val rows = (1 to BpeNMerges).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS merge_rank,
           |  replace(string_split(pair, ' ')[1], $sep, '') AS lhs,
           |  replace(string_split(pair, ' ')[2], $sep, '') AS rhs,
           |  replace(merged, $sep, '') AS merged,
           |  CAST(f AS BIGINT) AS freq
           |FROM b$i""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${bpeReplayCtes(BpeNMerges)}
         |$rows""".stripMargin
    },

    "x37_bpe_tokens" -> {
      val sep = "chr(31)"
      val init = "rtrim(regexp_replace(word, '(.)', " +
        s"$sep || '\\1' || $sep || ' ', 'g'))"
      val encoded = (1 to BpeNMerges).foldLeft(init)((e, i) =>
        s"replace($e, b$i.pair, b$i.merged)")
      val joins = (1 to BpeNMerges).map(i => s"CROSS JOIN b$i")
        .mkString(" ")
      s"""WITH ${bpeReplayCtes(BpeNMerges)},
         |docw AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |enc AS (
         |  SELECT doc_id, len(string_split($encoded, ' ')) AS n
         |  FROM docw $joins
         |  WHERE len(word) > 0)
         |SELECT d.doc_id, CAST(COALESCE(SUM(e.n), 0) AS BIGINT)
         |  AS n_tokens
         |FROM documents d LEFT JOIN enc e USING (doc_id)
         |GROUP BY d.doc_id""".stripMargin
    },

    "x23_zipf" ->
      """WITH vf AS (
        |  SELECT w, COUNT(*) AS f FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |rk AS (
        |  SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r FROM vf),
        |xy AS (
        |  SELECT round(ln(CAST(r AS DOUBLE)), 6) AS x,
        |    round(ln(CAST(f AS DOUBLE)), 6) AS y FROM rk),
        |s AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx
        |  FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_types,
        |  round((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |    (CAST(n AS DOUBLE) * sxx - sx * sx), 4) + 0.0 AS zipf_slope
        |FROM s""".stripMargin,

    "x22_pmi_collocations" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |uni AS (SELECT w, COUNT(*) AS n_w FROM tok GROUP BY w),
        |tu AS (SELECT SUM(n_w) AS n_uni FROM uni),
        |bg AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2 FROM (
        |    SELECT string_split(text, ' ') AS t,
        |      unnest(range(1, len(string_split(text, ' ')))) AS i
        |    FROM documents)),
        |bic AS (SELECT w1, w2, COUNT(*) AS n_ab FROM bg GROUP BY 1, 2),
        |tb AS (SELECT SUM(n_ab) AS n_bi FROM bic),
        |sel AS (
        |  SELECT w1, w2, n_ab,
        |    round(ln((CAST(n_ab AS DOUBLE) * n_uni * n_uni) /
        |      (CAST(n_bi AS DOUBLE) * a.n_w * b.n_w)), 4) AS pmi
        |  FROM bic, tu, tb
        |  JOIN uni a ON a.w = w1
        |  JOIN uni b ON b.w = w2
        |  WHERE n_ab >= 5)
        |SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_pair, pmi
        |FROM sel ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin,

    "x14_redact_pii" ->
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    text || ' contact doc' || CAST(doc_id AS VARCHAR) ||
         |    '@example.com or +1-555-' ||
         |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
         |  FROM documents),
         |de AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text,
         |      '${TextAnalysis.EmailPattern}')) AS BIGINT) AS n_emails,
         |    regexp_replace(text, '${TextAnalysis.EmailPattern}',
         |      '<EMAIL>', 'g') AS de_emailed
         |  FROM aug)
         |SELECT doc_id, n_emails,
         |  CAST(len(regexp_extract_all(de_emailed,
         |    '${TextAnalysis.PhonePattern}')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(de_emailed, '${TextAnalysis.PhonePattern}',
         |    '<PHONE>', 'g')) AS redacted_digest
         |FROM de""".stripMargin,

    "x01_token_stats" ->
      """SELECT doc_id, n_chars,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
        |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS avg_token_len
        |FROM documents""".stripMargin,

    "x02_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, source,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    len(list_filter(string_split(text, ' '),
         |        w -> w IN ($stopList))) AS n_stop,
         |    len(list_distinct(string_split(text, ' '))) AS n_distinct
         |  FROM documents)
         |SELECT doc_id, lang, source, n_tokens, n_stop, n_distinct,
         |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
         |  1.0 - CAST(n_distinct AS DOUBLE) / n_tokens AS repetition_ratio,
         |  (n_tokens >= 15 AND n_tokens <= 500 AND
         |   1.0 - CAST(n_distinct AS DOUBLE) / n_tokens < 0.7) AS keep
         |FROM t""".stripMargin,

    "x03_langid" ->
      s"""WITH scores AS (
         |$langScoresSql
         |)
         |SELECT doc_id, lang,
         |  CASE WHEN score > 0 THEN pred_lang ELSE 'und' END AS pred_lang,
         |  score
         |FROM scores
         |QUALIFY row_number() OVER (
         |  PARTITION BY doc_id ORDER BY score DESC, pred_lang) = 1""".stripMargin,

    "x04_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS digest,
         |  ${Hashing.base60Sql("text")} AS fp60
         |FROM documents""".stripMargin,

    "x06_chunking" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    list_transform(range(0, len(string_split(text, ' ')), 30),
        |      i -> array_to_string(string_split(text, ' ')[i+1:i+40], ' '))
        |      AS chunks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(unnest(range(len(chunks))) AS INT) AS chunk_idx,
        |  CAST(len(string_split(unnest(chunks), ' ')) AS INT)
        |    AS n_chunk_tokens,
        |  md5(unnest(chunks)) AS chunk_digest
        |FROM c""".stripMargin,

    "x07_bpe_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.BpeishPattern}'))
         |    AS INT) AS n_bpe_tokens
         |FROM documents""".stripMargin,

    // allocation arithmetic mirrored op-for-op: sqrt (correctly
    // rounded IEEE, portable), decimal-12 weight-sum, rounded-6
    // weight, integer token quantities, one double division for
    // epochs
    "x33_epoch_budget" ->
      s"""WITH d AS (
         |  SELECT source,
         |    CAST(SUM(len(regexp_extract_all(text,
         |      '${TextAnalysis.BpeishPattern}'))) AS BIGINT)
         |      AS domain_tokens
         |  FROM documents GROUP BY source),
         |tots AS (
         |  SELECT CAST(SUM(domain_tokens) AS BIGINT) AS t_tot,
         |    CAST(SUM(CAST(sqrt(domain_tokens) AS DECIMAL(38,12)))
         |      AS DOUBLE) AS wsum
         |  FROM d),
         |a AS (
         |  SELECT source, domain_tokens,
         |    round(sqrt(domain_tokens) / wsum, 6) AS weight,
         |    CAST(round(CAST(0.6 AS DOUBLE) * t_tot, 0) AS BIGINT)
         |      AS budget_tokens,
         |    CAST(round(CAST(0.6 AS DOUBLE) * domain_tokens, 0) AS BIGINT)
         |      AS cap_tokens
         |  FROM d CROSS JOIN tots),
         |b AS (
         |  SELECT source, domain_tokens, weight, cap_tokens,
         |    CAST(round(weight * budget_tokens, 0) AS BIGINT)
         |      AS requested_tokens
         |  FROM a)
         |SELECT source, domain_tokens, weight, requested_tokens,
         |  LEAST(requested_tokens, cap_tokens) AS allocated_tokens,
         |  round(CAST(LEAST(requested_tokens, cap_tokens) AS DOUBLE)
         |    / domain_tokens, 4) AS epochs,
         |  requested_tokens > cap_tokens AS capped
         |FROM b""".stripMargin,

    // the Spark side joins on xxhash64 of the shingle (internal key
    // only); the oracle joins the raw 5-gram strings
    "x08_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, source,
        |    unnest(list_distinct(list_transform(
        |      range(len(string_split(text, ' ')) - 4),
        |      i -> array_to_string(string_split(text, ' ')[i+1:i+5], ' '))))
        |      AS s
        |  FROM documents),
        |ev AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
        |tr AS (SELECT doc_id, s FROM sh WHERE source <> 'src0')
        |SELECT doc_id, COUNT(DISTINCT s) AS n_shared
        |FROM tr JOIN ev USING (s)
        |GROUP BY doc_id
        |HAVING COUNT(DISTINCT s) >= 1""".stripMargin,

    // x24: same window chain as p02's oracle, with redundancy =
    // "window occurs anywhere in the src0 eval slice" and the
    // cover-all cut [a, b+4]: EVERY token of a shared 5-gram is
    // removed (decontamination leaves no eval fragment), unlike p02's
    // context-preserving all-covering-windows rule
    "x24_despan_decontaminate" ->
      """WITH tok AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS ts
        |  FROM documents),
        |ev AS (
        |  SELECT DISTINCT array_to_string(ts[i+1:i+5], ' ') AS w
        |  FROM (SELECT ts, unnest(range(len(ts) - 4)) AS i
        |        FROM tok WHERE source = 'src0')),
        |cwins AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(ts[i+1:i+5], ' ') AS w
        |  FROM (SELECT doc_id, ts, unnest(range(len(ts) - 4)) AS i
        |        FROM tok WHERE source <> 'src0')),
        |red AS (SELECT doc_id, pos FROM cwins JOIN ev USING (w)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM red),
        |runs AS (
        |  SELECT doc_id, MIN(pos) AS a, MAX(pos) AS b
        |  FROM isl GROUP BY doc_id, g),
        |meta AS (SELECT doc_id, ts, len(ts) AS L FROM tok
        |         WHERE source <> 'src0'),
        |cuts AS (
        |  SELECT doc_id, a AS s, b + 4 AS e FROM runs),
        |posn AS (SELECT doc_id, unnest(range(L)) AS j FROM meta),
        |kept AS (
        |  SELECT p.doc_id, p.j FROM posn p
        |  WHERE NOT EXISTS (SELECT 1 FROM cuts c
        |    WHERE c.doc_id = p.doc_id AND p.j >= c.s AND p.j <= c.e)),
        |agg AS (
        |  SELECT k.doc_id,
        |    string_agg(m.ts[CAST(k.j AS INT) + 1], ' ' ORDER BY k.j)
        |      AS text,
        |    COUNT(*) AS n_kept
        |  FROM kept k JOIN meta m USING (doc_id)
        |  GROUP BY k.doc_id)
        |SELECT m.doc_id,
        |  COALESCE(a.text, '') AS text,
        |  CAST(m.L AS BIGINT) AS n_tokens,
        |  CAST(m.L - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
        |FROM meta m LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "x09_hash_split" ->
      s"""SELECT doc_id,
         |  ${Hashing.base60Sql("text")} % 100 AS bucket,
         |  CASE WHEN ${Hashing.base60Sql("text")} % 100 < 80 THEN 'train'
         |       WHEN ${Hashing.base60Sql("text")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin,

    "x30_grouped_split" ->
      s"""SELECT doc_id, source AS group_key,
         |  ${Hashing.base60Sql("source")} % 100 AS bucket,
         |  CASE WHEN ${Hashing.base60Sql("source")} % 100 < 80 THEN 'train'
         |       WHEN ${Hashing.base60Sql("source")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin,

    // feature stream, smoothing arithmetic and gumbel key mirror the
    // Spark side op-for-op; ln rounded 6, decimal sum, key rounded 6
    // (NOT coarser — grid points ending in …50 are half-way at 4
    // decimals, where double rounding is engine-divergent)
    // the x35 oracle REPLAYS THE TRAINING: three unrolled epoch CTEs
    // (decimal-summed gradients, 6-grid rounds, the algebraic sigmoid
    // ½(1+z/(1+|z|)) — pure +,·,/,|·|, bit-portable where exp is not),
    // then scores under w3 — margins hash-match, not just directions.
    // Epoch 1 is closed-form (w₀ = 0 ⇒ z = 0, σ̃ = 0.5 exactly).
    "x35_quality_probe" ->
      s"""WITH $X35Ctes
         |SELECT doc_id, n_features, margin,
         |  round((CAST(0.5 AS DOUBLE) * (CAST(1.0 AS DOUBLE) + margin / (CAST(1.0 AS DOUBLE) + abs(margin)))), 6) AS quality,
         |  margin >= 0 AS predicted
         |FROM scored""".stripMargin,

    // x42: x35's training chain, then the exact-integer Mann-Whitney
    // fold — np·(2·cumneg_<v + nn) per ascending margin-grid value
    // (half-credit ties), classes and correctness as exact counts,
    // doubles only in the two final rounded divisions
    "x42_probe_auc" ->
      s"""WITH $X35Ctes,
         |lab AS (
         |  SELECT s.doc_id, s.margin, s.margin >= 0 AS pred,
         |    d.source = 'src0' AS y
         |  FROM scored s JOIN documents d USING (doc_id)),
         |grid AS (
         |  SELECT margin,
         |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |    CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
         |  FROM lab GROUP BY margin),
         |cum AS (
         |  SELECT margin, np, nn,
         |    CAST(COALESCE(SUM(nn) OVER (ORDER BY margin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cnlt
         |  FROM grid),
         |agg AS (
         |  SELECT CAST(SUM(np * (2 * cnlt + nn)) AS BIGINT) AS u2,
         |    CAST(SUM(np) AS BIGINT) AS n_pos,
         |    CAST(SUM(nn) AS BIGINT) AS n_neg
         |  FROM cum),
         |acc AS (
         |  SELECT CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_correct,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM lab)
         |SELECT n_pos, n_neg, n_correct,
         |  round(CAST(u2 AS DOUBLE) /
         |    (CAST(2.0 AS DOUBLE) * n_pos * n_neg), 6) + 0.0 AS auc,
         |  round(CAST(n_correct AS DOUBLE) / n, 6) + 0.0 AS accuracy
         |FROM agg, acc""".stripMargin,

    // x43: the x03 bootstrap labels (QUALIFY argmax), then ONE
    // probeCtes training chain per closed-menu class over the
    // label-joined relation, the six margins, and the
    // (margin DESC, class ASC) argmax — training replayed end to end
    "x43_langid_probe" -> {
      val chains = TextAnalysis.LangIdClasses.map(c =>
        probeCtes("docsb", s"boot_lang = '$c'", s"_$c"))
        .mkString(",\n")
      val unions = TextAnalysis.LangIdClasses.map(c =>
        s"SELECT doc_id, '$c' AS cls, margin FROM scored_$c")
        .mkString("\nUNION ALL\n")
      s"""WITH bscores AS (
         |$langScoresSql
         |),
         |boot AS (
         |  SELECT doc_id,
         |    CASE WHEN score > 0 THEN pred_lang ELSE 'und' END
         |      AS boot_lang
         |  FROM bscores
         |  QUALIFY row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, pred_lang) = 1),
         |docsb AS (
         |  SELECT d.doc_id, d.lang, d.text, b.boot_lang
         |  FROM documents d JOIN boot b USING (doc_id)),
         |$chains,
         |allz AS (
         |$unions
         |)
         |SELECT z.doc_id, d.lang, d.boot_lang, z.cls AS probe_lang,
         |  z.margin + CAST(0.0 AS DOUBLE) AS margin
         |FROM allz z JOIN docsb d ON d.doc_id = z.doc_id
         |QUALIFY row_number() OVER (
         |  PARTITION BY z.doc_id ORDER BY z.margin DESC, z.cls) = 1"""
        .stripMargin
    },

    "x31_dsir_resample" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source = 'src0' AS is_t,
         |    string_split(text, ' ') AS t
         |  FROM documents),
         |feat AS (
         |  SELECT doc_id, is_t, unnest(t) AS f FROM tok
         |  UNION ALL
         |  SELECT doc_id, is_t, unnest(list_transform(range(1, len(t)),
         |    i -> t[i] || ' ' || t[i+1])) AS f FROM tok),
         |bk AS (
         |  SELECT doc_id, is_t, ${Hashing.base60Sql("f")} % 256 AS b
         |  FROM feat),
         |counts AS (
         |  SELECT b,
         |    CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |    CAST(SUM(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS BIGINT)
         |      AS cr
         |  FROM bk GROUP BY b),
         |tots AS (
         |  SELECT CAST(SUM(ct) AS BIGINT) AS t_tot,
         |    CAST(SUM(cr) AS BIGINT) AS r_tot
         |  FROM counts),
         |lr AS (
         |  SELECT b, round(
         |    ln(CAST(ct + 1 AS DOUBLE) / (t_tot + 256)) -
         |    ln(CAST(cr + 1 AS DOUBLE) / (r_tot + 256)), 6) AS lr
         |  FROM counts CROSS JOIN tots),
         |w AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_features,
         |    CAST(SUM(CAST(lr AS DECIMAL(38,18))) AS DOUBLE) AS logw
         |  FROM bk JOIN lr USING (b) WHERE NOT is_t GROUP BY doc_id),
         |g AS (
         |  SELECT doc_id, n_features, logw,
         |    round(-ln(-ln((${Hashing.base60Sql(
                  "CAST(doc_id AS VARCHAR) || ':dsir'")} % 1000000
         |      + 0.5) / 1000000.0)), 6) AS gumbel
         |  FROM w)
         |SELECT doc_id, n_features, round(logw, 6) AS log_weight,
         |  gumbel, round(logw + gumbel, 6) AS key
         |FROM g
         |ORDER BY key DESC, doc_id
         |LIMIT 100""".stripMargin,

    // augmentation (8-token lines, first line re-planted on doc_id
    // multiples of 2 and 5, double blank line on multiples of 3)
    // repeated verbatim from the query side; first-occurrence keep
    // via min-ordinal window, empty lines always kept
    "x32_line_dedup" ->
      """WITH t0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |body AS (
        |  SELECT doc_id, array_to_string(
        |    list_transform(range(0, (len(t) - 1) // 8 + 1), i ->
        |      array_to_string(t[i*8+1:i*8+8], ' ')), chr(10)) AS b,
        |    array_to_string(t[1:8], ' ') AS first_line
        |  FROM t0),
        |aug AS (
        |  SELECT doc_id, b ||
        |    CASE WHEN doc_id % 2 = 0 THEN chr(10) || first_line
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || chr(10)
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || first_line
        |      ELSE '' END AS text
        |  FROM body),
        |ls AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM aug),
        |e AS (
        |  SELECT doc_id, unnest(ls) AS line,
        |    unnest(range(1, len(ls) + 1)) AS ord
        |  FROM ls),
        |kept AS (
        |  SELECT doc_id, line, ord
        |  FROM (SELECT doc_id, line, ord,
        |          MIN(ord) OVER (PARTITION BY doc_id, line) AS ford
        |        FROM e)
        |  WHERE line = '' OR ord = ford),
        |agg AS (
        |  SELECT doc_id,
        |    string_agg(line, chr(10) ORDER BY ord) AS clean_text,
        |    COUNT(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT ls.doc_id, CAST(len(ls.ls) AS BIGINT) AS n_lines,
        |  CAST(len(ls.ls) - a.n_kept AS BIGINT) AS n_dup_lines,
        |  md5(a.clean_text) AS clean_digest
        |FROM ls JOIN agg a USING (doc_id)""".stripMargin,

    // A-ES selection replayed on the integer key grid: u from the
    // shared hash, key = round(round(-ln(u)/w, 6) * 1e6) — exact in
    // both engines; the window twin IS the bottom-k semantics
    "x34_weighted_sample" ->
      s"""WITH h AS (
         |  SELECT doc_id, source,
         |    len(string_split(text, ' ')) AS w,
         |    (${Hashing.base60Sql(
                "CAST(doc_id AS VARCHAR) || ':ws'")} % 1000000
         |      + 0.5) / 1000000.0 AS u
         |  FROM documents),
         |k AS (
         |  SELECT doc_id, source,
         |    CAST(round(round(-ln(u) / w, 6) * 1000000.0, 0) AS BIGINT)
         |      AS lk
         |  FROM h)
         |SELECT doc_id, source,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY lk, doc_id) AS BIGINT) AS pick
         |FROM k
         |QUALIFY pick <= 5""".stripMargin,

    "x25_corpus_shuffle" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${Hashing.base60Sql("CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents)
         |SELECT doc_id, h % 8 AS shard,
         |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
         |    - 1 AS BIGINT) AS pos
         |FROM h""".stripMargin,

    "x26_domain_cap" ->
      s"""WITH h AS (
         |  SELECT doc_id, source,
         |    ${Hashing.base60Sql("CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents)
         |SELECT doc_id, source,
         |  CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
         |    AS BIGINT) AS pick
         |FROM h
         |QUALIFY pick <= 10""".stripMargin,

    "x10_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf
        |  FROM tok GROUP BY doc_id, token),
        |df AS (
        |  SELECT token, COUNT(DISTINCT doc_id) AS df
        |  FROM tok GROUP BY token),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT doc_id, token, tf,
        |  round(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS score,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY round(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) DESC,
        |      token) AS INT) AS rank
        |FROM tf JOIN df USING (token) CROSS JOIN n
        |QUALIFY rank <= 3""".stripMargin,

    "x11_vocab" ->
      """SELECT token, COUNT(*) AS n_occurrences,
        |  COUNT(DISTINCT doc_id) AS doc_freq
        |FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents)
        |GROUP BY token
        |ORDER BY n_occurrences DESC, token
        |LIMIT 100""".stripMargin,

    "x20_heavy_hitters" -> HeavyHittersSql,
    "x21_heavy_hitters_cms" -> HeavyHittersSql,

    // feature arithmetic mirrors the Spark side op-for-op (same
    // count/size double divisions) so the doubles are bit-identical
    "x27_gopher_quality" ->
      s"""$gopherCte
         |SELECT * FROM gq""".stripMargin,

    "x29_quality_audit" ->
      s"""$gopherCte
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dropped,
         |  CAST(SUM(CASE WHEN n_words NOT BETWEEN 50 AND 100000
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_len_fail,
         |  CAST(SUM(CASE WHEN mean_word_len NOT BETWEEN 3.0 AND 10.0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_meanlen_fail,
         |  CAST(SUM(CASE WHEN symbol_ratio > 0.1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_symbol_fail,
         |  CAST(SUM(CASE WHEN alpha_frac < 0.8 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_alpha_fail,
         |  CAST(SUM(CASE WHEN n_req_stop < 2 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_stop_fail
         |FROM gq GROUP BY source""".stripMargin,

    // augmentation (8-token lines, punct by length mod 3, planted
    // rule-trigger lines) is repeated verbatim from the query side
    "x28_c4_line_filter" ->
      """WITH t0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |body AS (
        |  SELECT doc_id, array_to_string(
        |    list_transform(range(0, (len(t) - 1) // 8 + 1), i ->
        |      array_to_string(t[i*8+1:i*8+8], ' ') ||
        |      CASE WHEN length(array_to_string(t[i*8+1:i*8+8], ' ')) % 3 = 0
        |             THEN '.'
        |           WHEN length(array_to_string(t[i*8+1:i*8+8], ' ')) % 3 = 1
        |             THEN ''
        |           ELSE '?' END),
        |    chr(10)) AS b
        |  FROM t0),
        |aug AS (
        |  SELECT doc_id, b ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN chr(10) || 'function() { return 1; }' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN chr(10) ||
        |      'lorem ipsum dolor sit amet consectetur adipiscing elit.'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN chr(10) ||
        |      'please enable javascript to view the comments.'
        |      ELSE '' END AS text
        |  FROM body),
        |f AS (
        |  SELECT doc_id, text,
        |    len(string_split(text, chr(10))) AS n_lines,
        |    list_filter(string_split(text, chr(10)), l ->
        |      regexp_matches(l, '[.!?"]$')
        |      AND len(string_split(l, ' ')) >= 5
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM aug)
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |  (len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
        |    AND NOT contains(text, '{')) AS keep_doc,
        |  -- array_to_string of an empty list is NULL in DuckDB
        |  -- (string_agg semantics); Spark's array_join returns ''
        |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_digest
        |FROM f""".stripMargin,

    "x12_repetition" ->
      """WITH bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(len(string_split(text, ' ')) - 1),
        |      i -> array_to_string(string_split(text, ' ')[i+1:i+2], ' ')))
        |      AS bg
        |  FROM documents),
        |per AS (
        |  SELECT doc_id, bg, COUNT(*) AS n FROM bg GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(n) AS BIGINT) AS n_bigrams,
        |  CAST(MAX(n) AS BIGINT) AS top_bigram_n,
        |  round(CAST(MAX(n) AS DOUBLE) / SUM(n), 4) AS top_bigram_frac
        |FROM per GROUP BY doc_id""".stripMargin,

    "x13_stratified_sample" ->
      s"""SELECT doc_id, source
         |FROM documents
         |WHERE ${Hashing.base60Sql("text")} % 100 < 10""".stripMargin,

    // per-token ln rounded to 6 decimals, summed through a decimal
    // cast (order-free) — both engines then divide identical doubles
    // x38: x15's score CTE, then DISC cutoffs at integer ranks
    // ceil(b*n/3) = (b*n + 2) // 3 (same integer tree as the Scala
    // side), picked as MIN v with running rank >= k; ties at a cutoff
    // land in the lower bucket on both engines by the same > compare
    "x38_perplexity_buckets" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |freq AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY token),
        |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS n_total FROM freq),
        |ll AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    round(CAST(SUM(CAST(round(ln(CAST(tf AS DOUBLE) / n_total), 6)
        |        AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 4) AS avg_logprob
        |  FROM tok JOIN freq USING (token) CROSS JOIN tot
        |  GROUP BY doc_id),
        |cnt AS (SELECT avg_logprob AS v, COUNT(*) AS c FROM ll GROUP BY 1),
        |cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM cnt),
        |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
        |cuts AS (
        |  SELECT MIN(CASE WHEN cum >= (1 * n + 2) // 3 THEN v END) AS c1,
        |         MIN(CASE WHEN cum >= (2 * n + 2) // 3 THEN v END) AS c2
        |  FROM cum CROSS JOIN nn)
        |SELECT doc_id, n_tokens, avg_logprob,
        |  CAST(1 + (CASE WHEN avg_logprob > c1 THEN 1 ELSE 0 END)
        |         + (CASE WHEN avg_logprob > c2 THEN 1 ELSE 0 END)
        |    AS INT) AS ppl_bucket
        |FROM ll CROSS JOIN cuts""".stripMargin,

    "x15_unigram_loglik" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |freq AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY token),
        |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS n_total FROM freq)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  round(CAST(SUM(CAST(round(ln(CAST(tf AS DOUBLE) / n_total), 6)
        |      AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 4) AS avg_logprob
        |FROM tok JOIN freq USING (token) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,

    // the x15 ln-recipe on the µ-nat grid: smoothed source-vs-rest
    // distributions over the joint vocab, term-rounded, decimal-summed
    "x41_source_divergence" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |bysrc AS MATERIALIZED (
        |  SELECT source, token, COUNT(*) AS c_s
        |  FROM tok GROUP BY source, token),
        |nsrc AS (
        |  SELECT source, CAST(SUM(c_s) AS BIGINT) AS n_s
        |  FROM bysrc GROUP BY source),
        |alltok AS MATERIALIZED (
        |  SELECT token, CAST(SUM(c_s) AS BIGINT) AS c_all
        |  FROM bysrc GROUP BY token),
        |tot AS (
        |  SELECT CAST(SUM(c_all) AS BIGINT) AS n_all, COUNT(*) AS v
        |  FROM alltok),
        |pq AS (
        |  SELECT s.source, s.n_s,
        |    CAST(COALESCE(b.c_s, 0) + 1 AS DOUBLE) / (s.n_s + t.v) AS p,
        |    CAST(a.c_all - COALESCE(b.c_s, 0) + 1 AS DOUBLE)
        |      / (t.n_all - s.n_s + t.v) AS q
        |  FROM nsrc s CROSS JOIN alltok a
        |  LEFT JOIN bysrc b ON b.source = s.source AND b.token = a.token
        |  CROSS JOIN tot t),
        |terms AS (
        |  SELECT source, n_s,
        |    round((p * ln(p / ((p + q) / 2.0))) * 1e6, 6) AS tp,
        |    round((q * ln(q / ((p + q) / 2.0))) * 1e6, 6) AS tq
        |  FROM pq)
        |SELECT source, n_s AS n_tokens,
        |  round((CAST(SUM(CAST(tp AS DECIMAL(38,18))) AS DOUBLE) +
        |         CAST(SUM(CAST(tq AS DECIMAL(38,18))) AS DOUBLE)) / 2.0, 4)
        |    + 0.0 AS js_unats
        |FROM terms GROUP BY source, n_s""".stripMargin,

    // the x15 recipe one model order up: parallel-unnest bigrams,
    // history counts as an aggregate OF the bigram-count table, and
    // the add-½ ratio in pure DOUBLE casts (never DECIMAL literals)
    "x39_bigram_loglik" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
        |    unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
        |  FROM tok),
        |bc AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY w1, w2),
        |hist AS (
        |  SELECT w1, CAST(SUM(c_ab) AS BIGINT) AS c_a
        |  FROM bc GROUP BY w1),
        |voc AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v
        |        FROM (SELECT unnest(t) AS token FROM tok))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  round(CAST(SUM(CAST(round(ln(
        |      (CAST(c_ab AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
        |      (CAST(c_a AS DOUBLE) + CAST(0.5 AS DOUBLE) * CAST(v AS DOUBLE))),
        |      6) AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 4)
        |    AS avg_logprob
        |FROM bg JOIN bc USING (w1, w2) JOIN hist USING (w1)
        |  CROSS JOIN voc
        |GROUP BY doc_id""".stripMargin,

    // the automaton's matched SET == per-pattern substring
    // containment; sorted tag order via string_agg ORDER BY
    "x40_keyword_tags" ->
      s"""WITH kw(k) AS (VALUES ${
            BlockPhrases.sorted.map(p => s"('$p')").mkString(", ")})
         |SELECT d.doc_id,
         |  COALESCE(string_agg(kw.k, ',' ORDER BY kw.k), '') AS tags,
         |  CAST(COUNT(kw.k) AS INT) AS n_tags,
         |  COUNT(kw.k) > 0 AS hit
         |FROM documents d LEFT JOIN kw ON contains(d.text, kw.k)
         |GROUP BY d.doc_id""".stripMargin,

    // exclusive running sum per bucket; integer div/mod only
    "x18_pack_sequences" ->
      """WITH tk AS (
        |  SELECT doc_id, doc_id % 8 AS bucket,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, bucket, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS BIGINT) AS cum_excl
        |  FROM tk)
        |SELECT doc_id, bucket, n_tokens,
        |  cum_excl // 512 AS seq_id,
        |  cum_excl % 512 AS offset_tokens
        |FROM c""".stripMargin,

    // identical op order both sides: (weight*budget)/avail in double,
    // min with 1, ×10000, floor → integral basis-point threshold
    "x17_mixture_sample" ->
      s"""WITH w(source, weight) AS (VALUES $mixtureValuesSql),
         |tk AS (
         |  SELECT doc_id, source,
         |    len(string_split(text, ' ')) AS n_tokens, text
         |  FROM documents),
         |avail AS (
         |  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS avail_tokens
         |  FROM tk GROUP BY source),
         |frac AS (
         |  SELECT source,
         |    CAST(FLOOR(10000.0 * LEAST(1.0,
         |      weight * ${TextQueries.MixtureBudget} / avail_tokens))
         |      AS BIGINT) AS keep_bp
         |  FROM avail JOIN w USING (source))
         |SELECT doc_id, source, n_tokens
         |FROM tk JOIN frac USING (source)
         |WHERE ${Hashing.base60Sql("text")} % 10000 < keep_bp""".stripMargin,

    // combining marks built with chr() — DuckDB strings have no \u
    // escapes; both engines count code points and md5 UTF-8 bytes
    "x16_nfc_normalize" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' cafe' || chr(769) || ' A' || chr(778) ||
        |      'ngstro' || chr(776) || 'm' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS INT) AS n_cp_raw,
        |  CAST(length(nfc_normalize(text)) AS INT) AS n_cp_nfc,
        |  md5(nfc_normalize(text)) AS nfc_digest
        |FROM aug""".stripMargin)

  /** Shared by x20 (exact) and x21 (CMS-pruned): the sketch path
    * returns identical rows by construction, so one oracle covers
    * both. Share = double(count)/total — same op order both engines.
    */
  private lazy val HeavyHittersSql =
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |cnt AS (SELECT token, COUNT(*) AS n_occurrences FROM tok GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS total FROM tok)
      |SELECT token, n_occurrences,
      |  CAST(n_occurrences AS DOUBLE) / total AS share
      |FROM cnt, tot
      |WHERE n_occurrences > total * 0.01""".stripMargin
}
