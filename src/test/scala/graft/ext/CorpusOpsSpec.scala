package graft.ext

import graft.{SparkTestBase, Tables}
import graft.plans.DriverFold
import org.apache.spark.sql.functions._

/** Contracts of the corpus-management operators added for the
  * training-data pipeline: decontamination, deterministic splits,
  * tf-idf, vocabulary.
  */
class CorpusOpsSpec extends SparkTestBase {

  private lazy val docs = Tables.documents(spark, sf0001)

  test("PII redaction scrubs every email/phone and counts them") {
    import spark.implicits._
    val rows = Seq(
      (1L, "write to alice.smith+spam@mail.example.org or bob@ex.io now"),
      (2L, "call +1-555-0199 or 44-555-1234 tomorrow"),
      (3L, "mixed carol@corp.net and +1-555-7777 here"),
      (4L, "nothing sensitive in this one"),
      (5L, "upper-case John.Doe@Gmail.COM must not leak"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.redactPii(rows).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_emails"), r.getAs[Long]("n_phones"),
          r.getAs[String]("clean_text"))).toMap
    assert(got(1L)._1 == 2L && got(1L)._2 == 0L)
    assert(got(2L) == ((0L, 2L,
      "call <PHONE> or <PHONE> tomorrow")))
    assert(got(3L) == ((1L, 1L, "mixed <EMAIL> and <PHONE> here")))
    assert(got(4L) == ((0L, 0L, "nothing sensitive in this one")))
    assert(got(5L) == ((1L, 0L, "upper-case <EMAIL> must not leak")))
    // nothing matching the patterns survives redaction
    val residue = TextAnalysis.redactPii(rows).filter(
      col("clean_text").rlike(TextAnalysis.EmailPattern) ||
        col("clean_text").rlike(TextAnalysis.PhonePattern))
    assert(residue.isEmpty)
  }

  test("contamination flags a planted copy and nothing from disjoint text") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"),
      (3L, "totally unrelated words nothing shared here at all"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "nine ten eleven twelve thirteen fourteen"))
      .toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, eval, n = 5, minShared = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares the 5-grams of "alpha..zeta": 2 of them
    assert(hits == Map(1L -> 2L))
  }

  test("despanContaminated cuts every token of a shared eval 5-gram, " +
    "keeps the rest, and never emits eval docs") {
    import spark.implicits._
    val phrase = (0 until 8).map(i => s"bench$i").mkString(" ")
    val eval = Seq((100L, "intro words " + phrase + " outro"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // phrase at tokens 3..10: shared 5-gram windows are 3..6, so the
      // cover-all cut [3, 6+4] removes exactly the phrase — no ragged
      // leftover fragment of any eval n-gram
      (1L, "aaa bbb ccc " + phrase + " ddd eee fff"),
      (2L, "clean document with nothing shared at all here okay"))
      .toDF("doc_id", "text")
    val out = Dedup.despanContaminated(corpus, eval, n = 5)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, "aaa bbb ccc ddd eee fff", 14L, 8L),
      (2L, "clean document with nothing shared at all here okay", 9L, 0L)),
      s"unexpected despan-decontaminate output: ${out.toSeq}")
    // no 5-gram of the cleaned corpus may appear in the eval set
    val residual = Dedup.contamination(
      out.map(r => (r._1, r._2)).toSeq.toDF("doc_id", "text"),
      eval, n = 5, minShared = 1)
    assert(residual.isEmpty, "cleaned corpus still contaminated")
  }

  test("contamination counts distinct shared shingles, not occurrences") {
    import spark.implicits._
    // the shared 5-gram appears twice in the corpus doc; still counts once
    val corpus = Seq(
      (1L, "a b c d e x x a b c d e")).toDF("doc_id", "text")
    val eval = Seq((9L, "a b c d e")).toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, eval, n = 5).collect()
    assert(hits.length == 1 && hits(0).getLong(1) == 1L)
  }

  test("hash split is deterministic, content-keyed and ~80/10/10") {
    val s1 = TextAnalysis.hashSplit(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val s2 = TextAnalysis.hashSplit(docs.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(s1 == s2) // invariant under partitioning
    val n = s1.size.toDouble
    val frac = s1.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(frac("train") > 0.6 && frac("train") < 0.95)
    assert(frac.getOrElse("val", 0.0) < 0.25 && frac.getOrElse("test", 0.0) < 0.25)
    // identical text ⇒ identical split, regardless of doc_id
    val dup = docs.limit(1).select(lit(99999L).as("doc_id"), col("text"),
      col("lang"), col("source"), col("n_chars"))
    val orig = docs.limit(1).collect()(0).getLong(0)
    val both = TextAnalysis.hashSplit(docs.limit(1).unionAll(dup)).collect()
    assert(both.map(_.getString(2)).distinct.length == 1)
    assert(both.exists(_.getLong(0) == orig) && both.exists(_.getLong(0) == 99999L))
  }

  test("corpus shuffle: permutation, partitioning-invariant, dense " +
    "per-shard positions") {
    val a = TextAnalysis.corpusShuffle(docs, nShards = 4).collect()
    val b = TextAnalysis.corpusShuffle(docs.repartition(7), nShards = 4)
      .collect()
    // a permutation of the corpus, stable under input partitioning
    assert(a.map(_.getLong(0)).sorted.toSeq ==
      docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // positions within each shard are dense 0..n-1 (a writer can use
    // them as in-file offsets directly)
    a.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq == (0L until rows.length))
    }
  }

  test("domain cap: never more than cap per source, deterministic picks") {
    val kept = TextAnalysis.domainCap(docs, cap = 3).collect()
    val bySrc = kept.groupBy(_.getString(1))
    assert(bySrc.values.forall(_.length <= 3))
    // every source with >=3 docs is fully used (cap, not undershoot)
    val srcSizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySrc.foreach { case (src, rows) =>
      assert(rows.length == math.min(3L, srcSizes(src)))
    }
    // hash order, not crawl order: re-running on a reshuffled input
    // keeps the SAME docs
    val again = TextAnalysis.domainCap(docs.repartition(5), cap = 3)
      .collect().map(_.getLong(0)).toSet
    assert(again == kept.map(_.getLong(0)).toSet)
  }

  test("domain cap: skew-safe on a mega-domain, bit-identical to the " +
    "window twin, plans no Window") {
    import spark.implicits._
    // one domain holds >50% of the corpus — the shape that makes the
    // row_number-window form a single hot partition at scale
    val skewed = (1L to 600L).map(i => (i, "mega.example")) ++
      (601L to 1000L).map(i => (i, s"site${i % 37}.example"))
    val sdocs = skewed.toDF("doc_id", "source").repartition(8)
    assert(skewed.count(_._2 == "mega.example") > skewed.size / 2)
    val capped = TextAnalysis.domainCap(sdocs, cap = 5)
    // the aggregation path must never plan a per-domain ranking window
    assert(!capped.queryExecution.executedPlan.toString.contains("Window"),
      "domainCap planned a Window — the skew-safe contract is broken")
    // ground truth: the window twin's semantics, computed directly
    val truth = sdocs
      .select(col("doc_id"), col("source"),
        Hashing.base60(col("doc_id").cast("string")).as("h"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._2).toSeq
      .flatMap { case (_, rows) =>
        rows.sortBy(r => (r._3, r._1)).take(5).zipWithIndex
          .map { case ((id, s, _), i) => (id, s, i + 1L) }
      }.toSet
    val got = capped.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == truth)
  }

  test("weighted sample: exact k per stratum, weight-biased, " +
    "bit-identical to the window twin, plans no Window") {
    import spark.implicits._
    // one 400-token doc among 1-token docs: its A-ES key is ~400×
    // smaller than any competitor's, so it MUST be in the sample
    val rows = (1L to 200L).map { i =>
      val src = s"src${i % 4}"
      val text = if (i == 7L) Seq.fill(400)("tok").mkString(" ")
                 else "tok"
      (i, src, text)
    }
    val docs = rows.toDF("doc_id", "source", "text").repartition(8)
    val got = TextAnalysis.weightedSample(docs, k = 3)
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      "weightedSample planned a Window — the skew-safe contract is broken")
    val picked = got.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(picked.groupBy(_._2).values.forall(_.length == 3),
      "every 50-doc stratum must yield exactly k picks")
    assert(picked.exists(_._1 == 7L),
      "the 400x-weight document missed the sample")
    // ground truth: the A-ES window twin recomputed from scratch
    val truth = rows.map { case (id, src, text) =>
      val w = text.split(" ").length.toDouble
      val h = graft.functions.Base60Hash.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$id:ws"))
      val u = (h % 1000000L + 0.5) / 1000000.0
      val e = BigDecimal(-math.log(u) / w)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val lk = math.round(e * 1000000.0)
      (id, src, lk)
    }.groupBy(_._2).toSeq.flatMap { case (_, g) =>
      g.sortBy(r => (r._3, r._1)).take(3).zipWithIndex
        .map { case ((id, s, _), i) => (id, s, i + 1L) }
    }.toSet
    assert(picked.toSet == truth)
    // deterministic under reshuffling
    val again = TextAnalysis.weightedSample(docs.repartition(3), k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(again.toSet == picked.toSet)
  }

  test("mixture sampling hits token targets, drops unweighted, clamps at 1") {
    val weights = Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 30.0)
    val budget = 2000L
    val kept = TextAnalysis.mixtureSample(docs, weights, budget)
    val bySource = kept.groupBy("source")
      .agg(sum(col("n_tokens")).as("kept_tokens"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // unweighted sources are absent entirely
    assert(bySource.keySet.subsetOf(weights.keySet))
    // an over-weighted source clamps at keeping everything
    val src2All = docs.filter(col("source") === "src2")
      .select(sum(size(split(col("text"), " ")))).first().getLong(0)
    assert(bySource("src2") == src2All)
    // a fractional source lands near its token target (hash sampling
    // variance: the corpus has ~25 docs/source, so allow a wide band
    // around target = weight * budget)
    val target0 = (0.4 * budget).toLong
    assert(bySource("src0") > 0 && bySource("src0") < 2L * target0,
      s"src0 kept ${bySource("src0")} vs target $target0")
    // deterministic: a second invocation picks identical documents
    val again = TextAnalysis.mixtureSample(docs, weights, budget)
    assert(kept.except(again).isEmpty && again.except(kept).isEmpty)
  }

  test("sequence packing is contiguous, in-bounds, and token-conserving") {
    val packed = TextAnalysis.packSequences(docs, seqLen = 512, nBuckets = 8)
      .collect().map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("n_tokens"), r.getAs[Long]("seq_id"),
        r.getAs[Long]("offset_tokens")))
    packed.groupBy(_._1).foreach { case (_, rows) =>
      val ordered = rows.sortBy(_._2)
      // contiguity: each doc starts exactly where the previous ended
      ordered.zip(ordered.tail).foreach {
        case ((_, _, n, seq, off), (_, _, _, seq2, off2)) =>
          val endAbs = seq * 512 + off + n
          assert(seq2 * 512 + off2 == endAbs,
            s"gap or overlap at seq=$seq2 off=$off2, expected abs $endAbs")
      }
      assert(ordered.head._4 == 0L && ordered.head._5 == 0L)
    }
    assert(packed.forall(r => r._5 >= 0 && r._5 < 512))
    // every token is laid out exactly once
    val total = docs.select(sum(size(split(col("text"), " "))))
      .first().getLong(0)
    assert(packed.map(_._3.toLong).sum == total)
  }

  test("tfidf ranks a rare term above stop-like terms") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the the the zebra"),
      (2L, "the quick fox"),
      (3L, "the lazy dog")).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopK(corpus, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // 'the' occurs in every doc → idf ln(4/4)=0; unique words win
    assert(top(1L) == "zebra")
    assert(top(2L) == "fox") // tie fox/quick broken by token asc
    assert(top(3L) == "dog")
    // rank is dense from 1 and capped at k per doc
    val all = TextAnalysis.tfidfTopK(corpus, k = 3)
    assert(all.groupBy("doc_id").agg(max("rank")).collect()
      .forall(_.getInt(1) <= 3))
  }

  test("release() frees the materialized intermediates (plan-keyed unpersist)") {
    import org.apache.spark.storage.StorageLevel
    val docs = Tables.documents(spark, sf0001)
    Dedup.jaccardPairs(docs).count()
    TextAnalysis.tfidfTopK(docs).count()
    assert(Dedup.hashedShingles(docs, 3).storageLevel != StorageLevel.NONE)
    assert(TextAnalysis.explodedTokens(docs).storageLevel != StorageLevel.NONE)
    Dedup.release(docs)
    TextAnalysis.release(docs)
    assert(Dedup.hashedShingles(docs, 3).storageLevel == StorageLevel.NONE)
    assert(TextAnalysis.explodedTokens(docs).storageLevel == StorageLevel.NONE)
  }

  test("vocab returns topV by count with deterministic tiebreak") {
    val v = TextAnalysis.vocab(docs, topV = 20).collect()
    assert(v.length == 20)
    // non-increasing counts; ties ordered by token
    val counts = v.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    v.zip(v.tail).foreach { case (a, b) =>
      if (a.getLong(1) == b.getLong(1))
        assert(a.getString(0) < b.getString(0))
    }
    // doc_freq can never exceed occurrences
    assert(v.forall(r => r.getLong(2) <= r.getLong(1)))
  }

  test("gopherQuality: each rule gates independently and keep is their conjunction") {
    import spark.implicits._
    val fifty = (1 to 50).map(i => s"word$i").mkString(" ")
    val rows = Seq(
      // passes everything: 52 words, all alphabetic, 2 required stops
      (1L, s"$fifty and with"),
      // too short: 10 words
      (2L, "the and short doc with too few words in it"),
      // symbol-heavy: 20% of words carry '#'
      (3L, s"$fifty and with ${(1 to 13).map(i => s"#tag$i").mkString(" ")}"),
      // numeric words: alpha fraction 50/102 < 0.8
      (4L, s"$fifty and with ${(1 to 50).map(_.toString).mkString(" ")}"),
      // only one required stopword
      (5L, s"$fifty the"))
      .map { case (id, t) => (id, "srcT", t) }
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.gopherQuality(rows).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Boolean]("keep"))
    assert(got(1L).getAs[Long]("n_words") == 52L)
    assert(got(1L).getAs[Long]("n_req_stop") == 2L)
    assert(!got(2L).getAs[Boolean]("keep")) // n_words gate
    assert(got(2L).getAs[Long]("n_req_stop") == 3L) // the, and, with
    assert(!got(3L).getAs[Boolean]("keep")) // symbol gate
    assert(got(3L).getAs[Double]("symbol_ratio") > 0.1)
    assert(!got(4L).getAs[Boolean]("keep")) // alpha gate
    assert(got(4L).getAs[Double]("alpha_frac") < 0.8)
    assert(!got(5L).getAs[Boolean]("keep")) // stopword gate
    assert(got(5L).getAs[Long]("n_req_stop") == 1L)
  }

  test("groupedSplit: a group never straddles splits; buckets ignore content") {
    import spark.implicits._
    // same source, wildly different texts -> one split; the content
    // hash must not influence the assignment
    val rows = (1L to 40L).map(i =>
      (i, s"dom${i % 4}", s"completely different text number $i"))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.groupedSplit(rows).collect()
    val perGroup = got.groupBy(_.getAs[String]("group_key"))
      .map { case (k, rs) => k -> rs.map(_.getAs[String]("split")).toSet }
    assert(perGroup.values.forall(_.size == 1),
      s"a group straddled splits: $perGroup")
    // and the assignment matches hashSplit's arithmetic applied to the key
    val viaHash = TextAnalysis.hashSplit(
      rows.select(col("doc_id"), col("source").as("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    got.foreach { r =>
      assert(r.getAs[String]("split") == viaHash(r.getAs[Long]("doc_id")))
    }
  }

  test("c4Clean is idempotent: its own output is a fixpoint of the line gates") {
    import spark.implicits._
    // pseudo-random line soup from a fixed seed: word counts 1-9,
    // punctuation present/absent, occasional javascript mentions
    val rnd = new scala.util.Random(42)
    val punct = Array(".", "!", "?", "\"", "", "", ")")
    val rows = (1L to 60L).map { id =>
      val lines = (0 until (1 + rnd.nextInt(8))).map { _ =>
        val words = (0 until (1 + rnd.nextInt(9)))
          .map(_ => s"w${rnd.nextInt(30)}")
        val tail = if (rnd.nextInt(10) == 0) " javascript" else ""
        words.mkString(" ") + tail + punct(rnd.nextInt(punct.length))
      }
      (id, lines.mkString("\n"))
    }.toDF("doc_id", "text")
    val once = TextAnalysis.c4Clean(rows)
    val again = TextAnalysis.c4Clean(
      once.select(col("doc_id"), col("clean_text").as("text")))
    val a = once.select("doc_id", "n_kept_lines", "clean_text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val b = again.select("doc_id", "n_kept_lines", "clean_text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // every line that survived once survives again, unchanged, in order
    (1L to 60L).foreach { id =>
      if (a(id)._1 > 0) assert(b(id) == a(id), s"doc $id not a fixpoint")
    }
  }

  test("c4Clean: line rules, doc rules, and reassembly order") {
    import spark.implicits._
    val keepA = "this line has five good words."
    val keepB = "another perfectly fine long sentence here!"
    val keepC = "a third keeper with enough words?"
    val noPunct = "this line has no terminal punctuation"
    val short = "too short."
    val js = "please enable JavaScript to see this page."
    val rows = Seq(
      (1L, Seq(keepA, noPunct, keepB, short, js, keepC).mkString("\n")),
      (2L, Seq(keepA, keepB).mkString("\n")), // only 2 survivors
      (3L, Seq(keepA, keepB, keepC, "code { display: none; }").mkString("\n")),
      (4L, Seq(keepA, keepB, keepC, "Lorem Ipsum filler text here.").mkString("\n")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.c4Clean(rows).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: 6 lines, 3 survive (order preserved), doc kept
    assert(got(1L).getAs[Long]("n_lines") == 6L)
    assert(got(1L).getAs[Long]("n_kept_lines") == 3L)
    assert(got(1L).getAs[Boolean]("keep_doc"))
    assert(got(1L).getAs[String]("clean_text") ==
      Seq(keepA, keepB, keepC).mkString("\n"))
    // doc 2: fewer than 3 surviving lines
    assert(!got(2L).getAs[Boolean]("keep_doc"))
    // doc 3: '{' anywhere in the original text drops the doc,
    // even though 3 lines survive the line gates
    assert(got(3L).getAs[Long]("n_kept_lines") == 3L)
    assert(!got(3L).getAs[Boolean]("keep_doc"))
    // doc 4: lorem ipsum is case-insensitive and doc-fatal; the line
    // itself passes the line gates and still appears in clean_text
    assert(got(4L).getAs[Long]("n_kept_lines") == 4L)
    assert(!got(4L).getAs[Boolean]("keep_doc"))
  }

  test("dedupLines keeps first occurrences in order; clean corpus " +
    "is untouched") {
    import spark.implicits._
    val rows = Seq(
      // adjacent AND non-adjacent repeats, order must survive
      (1L, Seq("nav bar", "body one", "nav bar", "body two", "body one",
        "nav bar").mkString("\n")),
      (2L, Seq("all", "distinct", "lines").mkString("\n")),
      (3L, "single line"),
      // blank lines are paragraph separators, never repeats
      (4L, Seq("para one", "", "para two", "", "para one")
        .mkString("\n")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.dedupLines(rows).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_dup_lines"),
          r.getAs[String]("clean_text"))).toMap
    assert(got(1L) == ((6L, 3L,
      Seq("nav bar", "body one", "body two").mkString("\n"))))
    assert(got(2L) == ((3L, 0L, Seq("all", "distinct", "lines")
      .mkString("\n"))))
    assert(got(3L) == ((1L, 0L, "single line")))
    // both blank separators survive; only the repeated content line goes
    assert(got(4L) == ((5L, 1L,
      Seq("para one", "", "para two", "").mkString("\n"))))
    // idempotence: a deduped document is a fixpoint
    val again = TextAnalysis.dedupLines(TextAnalysis.dedupLines(rows)
      .select(col("doc_id"), col("clean_text").as("text"))).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dup_lines"))
    assert(again.forall(_._2 == 0L))
  }

  test("dedupLines == a reference keep-first fold on random line soup") {
    import spark.implicits._
    // pseudo-random multi-line docs from a fixed seed, with a small
    // line alphabet so repeats are frequent at every distance
    val rnd = new scala.util.Random(1234)
    val rows = (1L to 60L).map { id =>
      // ~1 in 7 lines is blank — the keep-always path must hold too
      val lines = (0 until (1 + rnd.nextInt(12))).map(_ =>
        if (rnd.nextInt(7) == 0) ""
        else s"line ${rnd.nextInt(6)} body ${rnd.nextInt(3)}")
      (id, lines.mkString("\n"))
    }
    val expected = rows.map { case (id, text) =>
      val ls = text.split("\n", -1)
      val kept = ls.foldLeft(Vector.empty[String]) { (acc, l) =>
        if (l.nonEmpty && acc.contains(l)) acc else acc :+ l }
      id -> (ls.length.toLong, (ls.length - kept.length).toLong,
        kept.mkString("\n"))
    }.toMap
    val got = TextAnalysis.dedupLines(rows.toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_dup_lines"),
          r.getAs[String]("clean_text"))).toMap
    assert(got == expected)
  }

  test("dsir: shared-vocabulary docs outweigh disjoint ones, weights " +
    "cover exactly the raw side, and resampling is partitioning-" +
    "invariant") {
    import spark.implicits._
    // target speaks "alpha..epsilon"; raw doc 10 shares that
    // vocabulary, raw doc 11 is disjoint noise — DSIR must rank 10
    // above 11 by construction, whatever the hash buckets do
    val rows = Seq(
      (1L, "tgt", "alpha beta gamma delta epsilon alpha beta gamma"),
      (2L, "tgt", "beta alpha epsilon delta gamma beta alpha delta"),
      (10L, "web", "alpha beta gamma delta epsilon beta gamma alpha"),
      (11L, "web", "zork quux blarg fnord wibble glorp snark blip"))
      .toDF("doc_id", "source", "text")
    val target = col("source") === "tgt"
    val w = TextAnalysis.dsirWeights(rows, target).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("logw")).toMap
    assert(w.keySet == Set(10L, 11L), "weights must cover the raw side only")
    assert(w(10L) > w(11L),
      s"target-like doc must outweigh disjoint doc: $w")
    // resample at k=1 picks from the raw side deterministically, and
    // the choice is invariant to the input partitioning
    val a = TextAnalysis.dsirResample(rows, target, k = 1).collect()
    val b = TextAnalysis.dsirResample(rows.repartition(7), target, k = 1)
      .collect()
    assert(a.length == 1 && a.map(_.getLong(0)).sameElements(
      b.map(_.getLong(0))))
    TextAnalysis.dsirRelease(rows, target)
    TextAnalysis.dsirRelease(rows.repartition(7), target)
  }

  test("dsir deployment scorer: narrow-map logw matches the trained " +
    "twin within float-sum error; model covers every bucket") {
    import spark.implicits._
    val rows = Seq(
      (1L, "tgt", "alpha beta gamma delta epsilon alpha beta gamma"),
      (2L, "tgt", "beta alpha epsilon delta gamma beta alpha delta"),
      (10L, "web", "alpha beta gamma delta epsilon beta gamma alpha"),
      (11L, "web", "zork quux blarg fnord wibble glorp snark blip"))
      .toDF("doc_id", "source", "text")
    val target = col("source") === "tgt"
    val ratios = TextAnalysis.dsirRatios(rows, target)
    // the shipped model is total: every bucket scored, including ones
    // the training corpus never hashed into (smoothed zero-count)
    assert(ratios.keySet == (0L until 256L).toSet)
    val trained = TextAnalysis.dsirWeights(rows, target).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_features"), r.getAs[Double]("logw"))).toMap
    val scored = TextAnalysis
      .dsirScore(rows.filter(!target), ratios).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_features"), r.getAs[Double]("logw"))).toMap
    assert(scored.keySet == trained.keySet)
    scored.foreach { case (id, (nf, lw)) =>
      assert(nf == trained(id)._1, s"doc $id n_features")
      assert(math.abs(lw - trained(id)._2) < 1e-9,
        s"doc $id logw $lw vs trained ${trained(id)._2}")
    }
    TextAnalysis.dsirRelease(rows, target)
  }

  test("quality probe: separable corpus classified exactly, more " +
    "epochs widen the margin gap, scorers agree, nothing stays cached") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{avg, col, when}
    // two disjoint vocabularies — linearly separable in bucket space
    val good = (1 to 60).map(i => (i.toLong, "good",
      s"alpha bravo charlie delta echo tok${i % 7} foxtrot golf"))
    val junk = (101 to 160).map(i => (i.toLong, "junk",
      s"zulu yankee xray whiskey victor spam${i % 7} uniform tango"))
    val corpus = (good ++ junk).toDF("doc_id", "source", "text")
    val isGood = col("source") === "good"
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    def model(epochs: Int, df: org.apache.spark.sql.DataFrame = corpus) =
      TextAnalysis.qualityProbeModel(df, isGood, epochs = epochs)
    val m3 = model(3)
    // deterministic + partition-invariant training
    assert(m3 == model(3, corpus.repartition(7)),
      "training must not depend on partitioning")
    // the probe separates the vocabularies perfectly
    val scored = TextAnalysis.qualityProbeScore(corpus, m3)
      .join(corpus.select(col("doc_id"), isGood.as("is_good")), "doc_id")
    val wrong = scored
      .filter(col("predicted") =!= col("is_good")).count()
    assert(wrong == 0, s"$wrong misclassified on a separable corpus")
    // training converges: the mean margin gap (good − junk) widens
    // with epochs
    def gap(epochs: Int): Double =
      TextAnalysis.qualityProbeScore(corpus, model(epochs))
        .join(corpus.select(col("doc_id"), isGood.as("g")), "doc_id")
        .agg(avg(when(col("g"), col("margin")))
          .minus(avg(when(!col("g"), col("margin")))))
        .head.getDouble(0)
    val (g1, g3, g6) = (gap(1), gap(3), gap(6))
    assert(g1 > 0 && g3 > g1 && g6 > g3,
      s"margin gap must widen with training: $g1, $g3, $g6")
    // the in-row deployment scorer agrees with the decimal truth twin
    // (same predictions; margins within float-sum error)
    val inRow = TextAnalysis.qualityProbeScoreMap(corpus, m3)
      .select(col("doc_id"), col("margin"), col("predicted")).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    val agg = scored.select(col("doc_id"), col("margin"),
      col("predicted")).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(inRow.keySet == agg.keySet)
    agg.foreach { case (id, (m, p)) =>
      assert(math.abs(inRow(id)._1 - m) < 1e-9, s"doc $id margin")
      assert(inRow(id)._2 == p, s"doc $id prediction")
    }
    // the training cache is released (the pqTopK discipline): the
    // model calls above must not have accumulated persistent RDDs
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      "qualityProbeModel left cached intermediates behind")
    // the fused train-and-score form (one featurization, the x35
    // shape) is VALUE-IDENTICAL to the two-step composition — every
    // column of every row, bit for bit
    val fused = TextAnalysis.qualityProbeTrainScore(corpus, isGood)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val twoStep = TextAnalysis.qualityProbeScore(corpus, m3)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(fused == twoStep,
      "qualityProbeTrainScore diverged from score(model(...))")
    // malformed models are refused
    intercept[IllegalArgumentException](
      TextAnalysis.qualityProbeScore(corpus, Map(0L -> 1.0, 5L -> 2.0)))
  }

  test("probe AUC (x42): the integer Mann-Whitney fold == a brute-force " +
    "pairwise AUC with half-credit ties; separable corpus scores 1.0; " +
    "single-class labels refused") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val good = (1 to 60).map(i => (i.toLong, "good",
      s"alpha bravo charlie delta echo tok${i % 7} foxtrot golf"))
    val junk = (101 to 160).map(i => (i.toLong, "junk",
      s"zulu yankee xray whiskey victor spam${i % 7} uniform tango"))
    val corpus = (good ++ junk).toDF("doc_id", "source", "text")
    val isGood = col("source") === "good"
    val row = TextAnalysis.qualityProbeAuc(corpus, isGood).collect()(0)
    assert(row.getAs[Long]("n_pos") == 60 && row.getAs[Long]("n_neg") == 60)
    assert(row.getAs[Double]("auc") == 1.0 &&
      row.getAs[Double]("accuracy") == 1.0,
      s"separable corpus must score AUC 1.0: $row")
    // a REAL corpus slice (imperfect separation + genuine margin
    // ties): the fold must equal the O(n^2) pairwise definition
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "source", "text").filter(col("doc_id") < 300)
    val target = col("source") === "src0"
    val got = TextAnalysis.qualityProbeAuc(docs, target).collect()(0)
    val scored = TextAnalysis.qualityProbeTrainScore(docs, target)
      .select(col("doc_id"), col("margin"))
      .join(docs.select(col("doc_id"), target.as("y")), Seq("doc_id"))
      .collect().map(r => (r.getDouble(1), r.getBoolean(2)))
    val pos = scored.filter(_._2).map(_._1)
    val neg = scored.filterNot(_._2).map(_._1)
    assert(pos.nonEmpty && neg.nonEmpty, "test slice lost a class")
    val u2brute = (for (p <- pos; q <- neg) yield
      if (p > q) 2L else if (p == q) 1L else 0L).sum
    // Spark's round(double, 6) goes through BigDecimal.valueOf (the
    // shortest-decimal form) — mirror it exactly
    val want = BigDecimal(java.math.BigDecimal.valueOf(
      u2brute.toDouble / (2.0 * pos.length * neg.length)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    assert(got.getAs[Double]("auc") == want,
      s"integer fold diverged from pairwise AUC: " +
        s"${got.getAs[Double]("auc")} vs $want")
    assert(got.getAs[Long]("n_pos") == pos.length &&
      got.getAs[Long]("n_neg") == neg.length)
    // both classes required — an all-positive target is refused
    intercept[IllegalArgumentException](
      TextAnalysis.qualityProbeAuc(corpus, org.apache.spark.sql
        .functions.lit(true)))
  }

  test("epochBudget: caps bind on small domains, budget covers the " +
    "uncapped ones, invariants hold at any partitioning") {
    import spark.implicits._
    // three domains, 10:4:1 token supply — with √-temperature the
    // smallest domain requests the most epochs, so a 0.6-epoch cap
    // must bind there first
    val mk = (src: String, n: Int) => (1 to n).map(i =>
      (src.hashCode.toLong * 1000 + i, src,
        "alpha beta gamma delta epsilon zeta eta theta"))
    val rows = (mk("big", 100) ++ mk("mid", 40) ++ mk("tiny", 10))
      .toDF("doc_id", "source", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.epochBudget(df).collect().map { r =>
        (r.getAs[String]("source"),
          (r.getAs[Long]("domain_tokens"), r.getAs[Double]("weight"),
            r.getAs[Long]("requested_tokens"),
            r.getAs[Long]("allocated_tokens"),
            r.getAs[Double]("epochs"), r.getAs[Boolean]("capped")))
      }.toMap
    val out = run(rows)
    assert(out.keySet == Set("big", "mid", "tiny"))
    // structural invariants
    out.values.foreach { case (t, w, req, alloc, ep, capped) =>
      assert(alloc <= req, "allocation never exceeds the request")
      assert(!capped || alloc < req, "capped implies truncation")
      assert(capped || alloc == req, "uncapped means fully granted")
      assert(ep <= 0.6 + 1e-9, s"epochs $ep exceed the cap")
      assert(w > 0 && t > 0)
    }
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-4,
      "weights must sum to ~1")
    // √-temperature: epochs requested grow as supply shrinks; the cap
    // binds on the smallest domain and not the largest
    val reqEpochs = out.map { case (s, v) =>
      s -> v._3.toDouble / v._1 }
    assert(reqEpochs("tiny") > reqEpochs("mid") &&
      reqEpochs("mid") > reqEpochs("big"),
      s"requested epochs must fall with supply: $reqEpochs")
    assert(out("tiny")._6, "smallest domain must be capped")
    assert(!out("big")._6, "largest domain must be uncapped")
    assert(out == run(rows.repartition(7)), "partition invariance")
  }

  test("epochBudget: the √T weight-sum decimal holds trillion-token " +
    "domains (the 100 TB design point) where an 18-digit cast nulls") {
    import org.apache.spark.sql.functions._
    // √(10^12) = 10^6 needs 7 integer digits at scale 12 — beyond
    // DECIMAL(18,12)'s 6. The operator must use (38,12) so a domain
    // at the operator's own design scale can't silently vanish from
    // the weight denominator (non-ANSI cast overflow → NULL → domain
    // dropped → weights sum > 1 → budget overshoot).
    // (under this session's ANSI default the narrow cast throws
    // instead — either failure mode breaks the operator at scale)
    val t = spark.range(1).select(lit(1000L * 1000 * 1000 * 1000)
      .as("domain_tokens"))
    val narrowBreaks =
      try t.select(sqrt(col("domain_tokens"))
        .cast("decimal(18,12)").as("w")).head.isNullAt(0)
      catch { case _: ArithmeticException => true }
    val wide = t.select(sqrt(col("domain_tokens"))
      .cast("decimal(38,12)").as("w")).head.getDecimal(0)
    assert(narrowBreaks,
      "if (18,12) ever starts holding 10^6 this pin is stale")
    assert(wide != null && math.abs(wide.doubleValue - 1e6) < 1e-6)
  }

  test("perplexityBuckets: hand-derived tertiles, cutoff ties land in " +
    "the lower bucket, partition invariance, degenerate buckets safe") {
    import spark.implicits._
    // 6 docs over a tiny vocab: common tokens score high (head),
    // rare-heavy docs low (tail). Scores are distinct by design.
    val docs = Seq(
      (1L, "a a a a"), (2L, "a a a b"), (3L, "a a b b"),
      (4L, "a b b c"), (5L, "b b c c"), (6L, "c c d d"))
      .toDF("doc_id", "text")
    val cuts = TextAnalysis.perplexityCutoffs(docs, 3)
    assert(cuts.size == 2 && cuts(0) < cuts(1), s"got $cuts")
    val got = TextAnalysis.perplexityBuckets(docs, 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("ppl_bucket"))
      .toMap
    // n=6, k1=ceil(6/3)=2, k2=ceil(12/3)=4 → exactly 2 docs per bucket
    assert(got.values.groupBy(identity).view.mapValues(_.size).toMap ==
      Map(1 -> 2, 2 -> 2, 3 -> 2), s"got $got")
    // ordering: doc 1 (all-common) is head, doc 6 (all-rare) is tail
    assert(got(1L) == 3 && got(6L) == 1, s"got $got")
    // partition invariance of the eager cutoff path
    assert(TextAnalysis.perplexityCutoffs(docs.repartition(7), 3) == cuts)
    // ties: every doc identical → one distinct score; all ranks hit
    // the same value, every doc in bucket 1, no crash
    val flat = Seq((1L, "x x"), (2L, "x x"), (3L, "x x"))
      .toDF("doc_id", "text")
    val fb = TextAnalysis.perplexityBuckets(flat, 3).collect()
      .map(_.getAs[Int]("ppl_bucket")).toSet
    assert(fb == Set(1), s"tied corpus must collapse to bucket 1: $fb")
    TextAnalysis.release(docs); TextAnalysis.release(flat)
  }

  test("bpeTrain learns the hand-derived merge sequence (Sennrich's " +
    "corpus shape), counts subwords right, and is partition-invariant") {
    import spark.implicits._
    // dict: low×3 lower×2 newest×2.
    // round 1: lo=ow=5, tie broken by pair string → lo.
    // round 2: (lo,w)=5 wins. round 3: everything ties at 2 →
    // pair-ascending picks (e,r).
    val docs = Seq(
      (1L, "low low lower"),
      (2L, "low lower newest newest")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, 3)
    val display = merges.map(m =>
      (m.rank, m.merged.replace(TextAnalysis.BpeSep, ""), m.freq))
    assert(display == Seq((1, "lo", 5L), (2, "low", 5L), (3, "er", 2L)),
      s"got $display")
    // token counts under those merges: low→[low]=1,
    // lower→[low,e,r]→[low,er]=2, newest→6 raw symbols
    val counts = TextAnalysis.bpeTokenCounts(docs, merges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 4L, 2L -> 15L), s"got $counts")
    // the trained artifact must not depend on input partitioning
    val again = TextAnalysis.bpeTrain(docs.repartition(7), 3)
    assert(again == merges, "merges depend on partitioning")
    // training leaves no cached intermediates behind
    val before = spark.sparkContext.getPersistentRDDs.size
    TextAnalysis.bpeTrain(docs, 1)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("bpeTrain re-materializes past BpeRematerializeEvery merges " +
    "without leaking cache or changing results") {
    import spark.implicits._
    // one 26-char word: 20 merges cross the remat boundary at 16.
    // withCap(0) forces the DISTRIBUTED loop (the dictionary fold
    // would otherwise merge this KB dict on the driver)
    val docs = Seq((1L, "abcdefghijklmnopqrstuvwxyz"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.size
    val merges = DriverFold.withCap(0)(TextAnalysis.bpeTrain(docs, 20))
    assert(merges.size == 20 && merges.map(_.rank) == (1 to 20),
      s"got ${merges.size} merges")
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "re-materialization leaked cached partitions")
    // determinism across the boundary: partitioning must not matter
    assert(DriverFold.withCap(0)(
      TextAnalysis.bpeTrain(docs.repartition(5), 20)) == merges)
    // and the public (valved) entry folds to the same merges
    assert(TextAnalysis.bpeTrain(docs, 20) == merges)
  }

  test("bpeTrainLocal == bpeTrain merge-for-merge (the production-" +
    "merge-count trainer), incl. exhaustion and the gate corpus") {
    import spark.implicits._
    // the 26-char word crosses the distributed trainer's remat
    // boundary; tie-heavy frequencies exercise the UTF-8 tie-break.
    // withCap(0) forces the distributed loop so this pin keeps
    // covering BOTH paths of the dictionary fold.
    val tiny = Seq((1L, "abcdefghijklmnopqrstuvwxyz ba ab ab ba"))
      .toDF("doc_id", "text")
    assert(TextAnalysis.bpeTrainLocal(tiny, 20)
      == DriverFold.withCap(0)(TextAnalysis.bpeTrain(tiny, 20)),
      "local trainer diverged from the distributed trainer")
    // exhaustion parity
    val short = Seq((1L, "ab ab")).toDF("doc_id", "text")
    assert(TextAnalysis.bpeTrainLocal(short, 5)
      == DriverFold.withCap(0)(TextAnalysis.bpeTrain(short, 5)))
    // the real gate corpus, past the remat boundary — distributed
    // loop vs the driver fold the public entry now takes
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "text")
    val dist = DriverFold.withCap(0)(TextAnalysis.bpeTrain(docs, 18))
    assert(TextAnalysis.bpeTrainLocal(docs, 18) == dist,
      "local trainer diverged on the gate corpus")
    assert(TextAnalysis.bpeTrain(docs, 18) == dist,
      "the valved public entry diverged from the distributed loop")
  }

  test("bpeTrain at the dictionary cap ±1: the driver fold at and " +
    "above it, the distributed loop below, merge-for-merge equal") {
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "text")
    val words = docs.select(explode(TextAnalysis.tokens(col("text")))
      .as("w")).filter(length(col("w")) > 0).distinct().count().toInt
    val nMerges = 18
    def run(cap: Int): (Seq[TextAnalysis.BpeMerge], Int) = {
      var merges = Seq.empty[TextAnalysis.BpeMerge]
      val jobs = jobsDuring {
        merges = DriverFold.withCap(cap)(TextAnalysis.bpeTrain(docs, nMerges))
      }
      (merges, jobs.size)
    }
    val (below, belowJobs) = run(words - 1)
    assert(belowJobs > nMerges,
      s"one word past the cap should run the loop: $belowJobs jobs")
    for (cap <- Seq(words, words + 1)) {
      val (at, atJobs) = run(cap)
      assert(atJobs < nMerges,
        s"a dictionary within cap $cap should fold: $atJobs jobs")
      assert(at == below, s"cap $cap: the fold diverged from the loop")
    }
  }

  test("bpe merge replace cannot cross a symbol boundary, and the " +
    "left-to-right sweep merges non-overlapping occurrences") {
    import spark.implicits._
    // 'aaa': adjacent pairs (a,a)×2 → merge (a,a); the sweep must
    // yield [aa, a], NOT [a, aa] and NOT a boundary-crossing 'aab'
    val docs = Seq((1L, "aaa aab")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, 1)
    assert(merges.map(_.merged.replace(TextAnalysis.BpeSep, "")) ==
      Seq("aa"), s"got $merges")
    val sub = docs.select(
      TextAnalysis.bpeSubwords(lit("aaa"), merges).as("a"),
      TextAnalysis.bpeSubwords(lit("aab"), merges).as("b"))
      .head
    assert(sub.getSeq[String](0) == Seq("aa", "a"))
    // 'aab' contains the UNdelimited text 'a a' across the aa|b
    // boundary only if delimiters are broken — it must merge to aa,b
    assert(sub.getSeq[String](1) == Seq("aa", "b"))
  }

  test("bpeTrain stops early when every word is fully merged; the " +
    "encoder is a single narrow stage (no shuffle)") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, 5)
    assert(merges.map(_.merged.replace(TextAnalysis.BpeSep, "")) ==
      Seq("ab"), "should learn exactly one merge then exhaust")
    val plan = TextAnalysis.bpeTokenCounts(docs, merges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bpeTokenCounts must be a narrow map, got:\n$plan")
  }

  test("bigramLogLik: hand-derived smoothed scores, single-token docs " +
    "drop out, vocab counts ALL tokens, partition invariance") {
    import spark.implicits._
    // corpus: d1 'a b a', d2 'b a', d3 'c' (no bigrams; c still in V)
    // bigram counts: (a,b)=1, (b,a)=2; history: a·=1, b·=2; V=3
    val docs = Seq((1L, "a b a"), (2L, "b a"), (3L, "c"))
      .toDF("doc_id", "text")
    def round(x: Double, n: Int): Double =
      BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble
    def logp(cab: Long, ca: Long): Double =
      round(math.log((cab + 0.5) / (ca + 0.5 * 3)), 6)
    def avg(ls: Seq[Double]): Double =
      round(ls.map(BigDecimal(_)).sum.toDouble / ls.size, 4)
    def run(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bigramLogLik(df, alpha = 0.5).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
    val got = run(docs)
    assert(got.keySet == Set(1L, 2L), "single-token doc must drop out")
    assert(got(1L) == ((2L, avg(Seq(logp(1, 1), logp(2, 2))))))
    assert(got(2L) == ((1L, avg(Seq(logp(2, 2))))))
    assert(got == run(docs.repartition(7)), "partition invariance")
    // smoothing is load-bearing: a doc of SEEN transitions outscores
    // one of the same length crossing an unseen-history... (all our
    // bigrams are seen; the rare (a,b) transition scores below the
    // common (b,a) one)
    assert(logp(1, 1) < logp(2, 2))
  }

  test("source divergence: twin slices score identically, a disjoint " +
    "slice scores highest, bounds and partition invariance hold") {
    import spark.implicits._
    def mk(src: String, n: Int, words: String) =
      (1 to n).map(i => (src.hashCode.toLong * 1000 + i, src, words))
    val corpus = (mk("a", 10, "alpha beta gamma delta") ++
      mk("b", 10, "alpha beta gamma delta") ++
      mk("c", 10, "zork quux fnord blarg"))
      .toDF("doc_id", "source", "text")
    val js = TextAnalysis.sourceDivergence(corpus).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(js.keySet == Set("a", "b", "c"))
    assert(js("a")._1 == 40L, "n_tokens must count the slice's tokens")
    // a and b are interchangeable by construction
    assert(js("a")._2 == js("b")._2)
    // the fully-disjoint slice diverges far more than the twins
    assert(js("c")._2 > 2 * js("a")._2,
      s"disjoint slice must dominate: ${js.view.mapValues(_._2).toMap}")
    // JS is bounded by ln 2 (1e6 mu-nat scale, + grid slack)
    js.values.foreach { case (_, v) =>
      assert(v >= 0.0 && v <= math.log(2.0) * 1e6 + 1.0, s"out of bounds: $v")
    }
    // order-free sums: invariant under repartitioning
    val again = TextAnalysis.sourceDivergence(corpus.repartition(7))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(again == js)
  }
  test("x43 trained language-ID probe: separable languages reproduce " +
    "the bootstrap (and the truth) exactly, absent menu classes are " +
    "never predicted, margins sit on the round-6 grid, " +
    "partition-invariant") {
    import spark.implicits._
    // three cleanly separable languages built from the marker lists
    // plus per-doc non-marker vocabulary (the probe must carry weight
    // beyond the markers to win every argmax)
    val de = (0L until 12L).map(i =>
      (i, "de", s"der die das und ist nicht haus$i baum wasser"))
    val en = (12L until 24L).map(i =>
      (i, "en", s"the a of and to is tree$i house river"))
    val fr = (24L until 36L).map(i =>
      (i, "fr", s"le les des et est une arbre$i maison fleuve"))
    val docs = (de ++ en ++ fr).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.langIdProbe(docs).collect()
    assert(out.length == 36, s"one row per doc expected, got ${out.length}")
    for (r <- out) {
      assert(r.getAs[String]("boot_lang") == r.getAs[String]("lang"),
        s"bootstrap mislabeled a marker-built doc: $r")
      assert(r.getAs[String]("probe_lang") == r.getAs[String]("lang"),
        s"probe diverged from truth on a separable corpus: $r")
    }
    // the closed menu: zero-positive classes (es, zh, und here) train
    // all-negative probes that never win — implicitly pinned by the
    // exactness above; margins live on the 6-decimal grid
    for (r <- out) {
      val m = r.getAs[Double]("margin")
      assert(m == BigDecimal(m)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"margin off the round-6 grid: $m")
    }
    // partition invariance: decimal sums are order-free by design
    val out7 = TextAnalysis.langIdProbe(docs.repartition(7)).collect()
    assert(out7.map(_.toSeq).toSet == out.map(_.toSeq).toSet,
      "probe output depends on partitioning")
  }
}
