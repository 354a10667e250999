package graft

import graft.catalog.BackupCatalog
import graft.engine.{Exporter, TableOps}
import graft.engine.Exporter.ExportSpec
import graft.incremental.Incremental
import graft.orchestrate.BackupRunner
import org.apache.spark.sql.SparkSession

/** The operational entry point — parity with the reference's three Thor
  * commands (/root/reference/lib/hbacker/cli.rb):
  *
  *   - `export` (cli.rb:147-169): `--all` XOR `--tables`, fan the
  *     chosen tables of `--source-dir` out through [[BackupRunner]]
  *     into `--dest-root/<session>/<table>/`.
  *   - `import` (cli.rb:257-264): `--tables` XOR `--pattern` (SQL `%`
  *     wildcard), restore from `--source-root/<session>/` into
  *     `--target-root/<table>`.
  *   - `db` (cli.rb:266-322): query the backup catalog — sessions by
  *     name-or-%-pattern, optionally their table rows by `%`-pattern.
  *
  * Option names accept `--snake_case` or `--kebab-case`; values follow
  * as the next token or after `=`. Defaults mirror the reference:
  * `start-time` 0 = full export (cli.rb:79-83), `end-time` now−60 s
  * (the hot-tail guard, cli.rb:28-31), `versions` 100000 (cli.rb:71-74),
  * session name `yyyyMMdd_HHmmss` of startup time (cli.rb:30-32),
  * `max-jobs` 6 (`--mapred-max-jobs`, cli.rb:111-114), `--format`
  * parquet|orc|json|csv (container choice; both sides must agree).
  *
  * The catalog lives at `--catalog-root` (default
  * `<dest-root>/_catalog` — metadata travels with the backup, the
  * underscore prefix keeps payload readers away from it).
  */
object Cli {

  final case class CliError(message: String) extends RuntimeException(message)

  /** `--key value`, `--key=value`, bare `--flag` (value "true"). Keys
    * normalize kebab→snake so both spellings of the reference's option
    * names work.
    */
  def parseOpts(args: Seq[String]): Map[String, String] = {
    val out = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (!a.startsWith("--"))
        throw CliError(s"unexpected argument: $a")
      val body = a.drop(2)
      val (k, inline) = body.indexOf('=') match {
        case -1 => (body, None)
        case eq => (body.take(eq), Some(body.drop(eq + 1)))
      }
      val key = k.replace('-', '_')
      inline match {
        case Some(v) => out(key) = v
        case None =>
          if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
            out(key) = args(i + 1); i += 1
          } else out(key) = "true"
      }
      i += 1
    }
    out.toMap
  }

  private def required(opts: Map[String, String], key: String): String =
    opts.getOrElse(key,
      throw CliError(s"missing required option --${key.replace('_', '-')}"))

  /** `--format` must fail at parse time, not as a Spark datasource
    * error halfway through a session with some tables already written.
    */
  private val Formats = Set("parquet", "orc", "json", "csv")
  private def formatOpt(opts: Map[String, String]): String = {
    val f = opts.getOrElse("format", "parquet")
    if (!Formats(f)) throw CliError(
      s"unknown --format $f (expected ${Formats.toSeq.sorted.mkString("|")})")
    f
  }

  /** Numeric options fail at parse time under the CliError contract
    * (the `--format` rationale above): a typo'd `--k abc` is a usage
    * error, not a raw NumberFormatException halfway into a session.
    */
  private def intOpt(opts: Map[String, String], key: String,
                     default: Int): Int =
    opts.get(key).map(v => v.toIntOption.getOrElse(throw CliError(
      s"--${key.replace('_', '-')} must be an integer, got '$v'")))
      .getOrElse(default)

  private def doubleOpt(opts: Map[String, String], key: String,
                        default: Double): Double =
    opts.get(key).map(v => v.toDoubleOption.getOrElse(throw CliError(
      s"--${key.replace('_', '-')} must be a number, got '$v'")))
      .getOrElse(default)

  /** Boolean flags: bare presence (parses as "true") or an explicit
    * true/false. Anything else fails loudly — `--init yes` silently
    * reading as false would fall through to exactly the
    * full-corpus-reprocess path the flag exists to refuse.
    */
  private def boolFlag(opts: Map[String, String], key: String): Boolean =
    opts.get(key) match {
      case None          => false
      case Some("true")  => true
      case Some("false") => false
      case Some(v) => throw CliError(
        s"--${key.replace('_', '-')} takes no value (or true|false), " +
          s"got '$v'")
    }

  /** F1 — session names are formatted startup timestamps (cli.rb:30-32). */
  def defaultSessionName(nowMs: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(nowMs))

  /** Run one command; returns the text a terminal user would see.
    * `nowMs` is injected (computed ONCE at startup, as cli.rb:30-32
    * does) so sessions/windows are deterministic and testable.
    */
  def run(spark: SparkSession, args: Seq[String], nowMs: Long): String =
    args.headOption match {
      case Some("export") => exportCmd(spark, parseOpts(args.tail), nowMs)
      case Some("import") => importCmd(spark, parseOpts(args.tail), nowMs)
      case Some("db") => dbCmd(spark, parseOpts(args.tail), nowMs)
      case Some("compact") => compactCmd(spark, parseOpts(args.tail))
      case Some("zonemap") => zonemapCmd(spark, parseOpts(args.tail))
      case Some("dedup") => dedupCmd(spark, parseOpts(args.tail))
      case Some("despan") => despanCmd(spark, parseOpts(args.tail))
      case Some("index") => indexCmd(spark, parseOpts(args.tail))
      case Some("bm25") => bm25Cmd(spark, parseOpts(args.tail))
      case Some("dsir") => dsirCmd(spark, parseOpts(args.tail))
      case Some("probe") => probeCmd(spark, parseOpts(args.tail))
      case Some("epoch-budget") | Some("epoch_budget") =>
        epochBudgetCmd(spark, parseOpts(args.tail))
      case Some("bpe") => bpeCmd(spark, parseOpts(args.tail))
      case Some("tag") => tagCmd(spark, parseOpts(args.tail))
      case Some("pca") => pcaCmd(spark, parseOpts(args.tail))
      case Some("ann") => annCmd(spark, parseOpts(args.tail))
      case Some("hybrid") => hybridCmd(spark, parseOpts(args.tail))
      case Some("warc") => warcCmd(spark, parseOpts(args.tail))
      case Some(other) => throw CliError(
        s"unknown command: $other " +
          "(expected export | import | db | compact | zonemap | dedup " +
          "| despan | index | bm25 | dsir | probe | epoch-budget | bpe " +
          "| tag | pca | ann | hybrid | warc)")
      case None =>
        throw CliError(
          "usage: graft.Cli <export|import|db|compact|zonemap|dedup" +
            "|despan|index|bm25|dsir|probe|epoch-budget|bpe|tag|pca|ann" +
            "|hybrid|warc> [--options]")
    }

  /** Read a corpus parquet and insist on the (doc_id, text) contract
    * every text command shares — one loud message, not a Spark
    * resolution error mid-plan.
    */
  private def readDocs(spark: SparkSession, path: String,
                       extra: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame = {
    val docs = spark.read.parquet(path)
    val needed = Seq("doc_id", "text") ++ extra
    val missing = needed.filterNot(docs.columns.contains)
    if (missing.nonEmpty)
      throw CliError(s"--docs needs ${needed.mkString(", ")} columns, " +
        s"found ${docs.columns.mkString(",")}")
    docs
  }

  /** Read an embedding parquet and insist on the (vec_id, embedding)
    * contract the vector commands share — the readDocs discipline.
    */
  private def readEmbeddings(spark: SparkSession, path: String)
      : org.apache.spark.sql.DataFrame = {
    val emb = spark.read.parquet(path)
    val missing = Seq("vec_id", "embedding").filterNot(emb.columns.contains)
    if (missing.nonEmpty)
      throw CliError(s"--embeddings needs vec_id, embedding columns, " +
        s"found ${emb.columns.mkString(",")}")
    emb
  }

  /** `bm25` — [EXT] ad-hoc ranked retrieval straight off the corpus
    * at `--docs` (ext.Retrieval.bm25TopK: two corpus passes, no
    * stored index — the one-shot form; keep a persisted store with
    * `index` when the same corpus serves many queries). `--query
    * "terms"`, `--k` results (default 10), `--out` parquet or a
    * printed ranking.
    */
  private def bm25Cmd(spark: SparkSession,
                      opts: Map[String, String]): String = {
    val docs = readDocs(spark, required(opts, "docs"))
    val terms = required(opts, "query").split("\\s+")
      .filter(_.nonEmpty).toSeq
    if (terms.isEmpty) throw CliError("--query must name at least one term")
    val k = intOpt(opts, "k", 10)
    if (k < 1) throw CliError(s"--k must be positive, got $k")
    val hits = graft.ext.Retrieval.bm25TopK(
      docs.select("doc_id", "text"), terms, k)
    opts.get("out") match {
      case Some(out) =>
        hits.write.mode("overwrite").parquet(out)
        s"${spark.read.parquet(out).count()} hits -> $out"
      case None =>
        hits.collect().map(r =>
          f"${r.getLong(0)}%12d  ${r.getLong(1)}%2d  ${r.getDouble(2)}%9.4f")
          .mkString(s"      doc_id  terms     score\n", "\n", "")
    }
  }

  /** `tag` — [EXT] blocklist/lexicon tagging
    * (ext.TextAnalysis.keywordTags, the x40 shape): one Aho–Corasick
    * walk tags `--docs` with the patterns from `--patterns "a,b,…"`
    * or `--patterns-file` (one per line; blank lines and `#` comments
    * skipped — the UT1-blocklist file shape). With `--out` the tagged
    * table is written; without it the command prints the per-pattern
    * hit audit an operator wants BEFORE deploying a blocklist —
    * including zero-hit patterns, the usual sign of a typo.
    */
  /** `ann` — [EXT] ad-hoc nearest-neighbor search over an embedding
    * parquet (ext.Similarity): exact cosine top-k by default, the
    * MMR-diversified selection with `--diversify` (`--lambda`,
    * `--pool` tune it). Probes come from `--query-ids "0,1,…"`
    * (rows of the corpus itself) or a separate `--queries` parquet —
    * exactly one of the two. With `--out` the ranking is written;
    * without it a small ranking prints. The exact scan is the truth
    * twin of the indexed paths (s02/s03/s07/s08) — the ad-hoc probe
    * tool, not the bulk path; keep a persisted index for the latter.
    */
  private def annCmd(spark: SparkSession,
                     opts: Map[String, String]): String = {
    import org.apache.spark.sql.functions.col
    if (opts.contains("index")) return annIndexCmd(spark, opts)
    val emb = readEmbeddings(spark, required(opts, "embeddings"))
    val k = intOpt(opts, "k", 10)
    if (k < 1) throw CliError(s"--k must be positive, got $k")
    val queries = (opts.get("query_ids"), opts.get("queries")) match {
      case (Some(_), Some(_)) =>
        throw CliError("--query-ids and --queries are exclusive " +
          "(corpus rows OR an external probe parquet)")
      case (Some(ids), None) =>
        val parsed = ids.split(",").map(_.trim).filter(_.nonEmpty)
        if (parsed.isEmpty)
          throw CliError("--query-ids must name at least one vec_id")
        val vecIds = parsed.map(s => s.toLongOption.getOrElse(
          throw CliError(s"--query-ids must be integers, got '$s'")))
        val probes = emb.filter(col("vec_id").isin(vecIds.toIndexedSeq: _*))
        // a typo'd id would otherwise filter to an empty probe set and
        // report "0 neighbors" instead of failing loudly
        val found = probes.select(col("vec_id").cast("long"))
          .collect().map(_.getLong(0)).toSet
        val missing = vecIds.filterNot(found)
        if (missing.nonEmpty)
          throw CliError("--query-ids not present in the corpus: " +
            missing.sorted.mkString(", "))
        probes
      case (None, Some(path)) => readEmbeddings(spark, path)
      case (None, None) =>
        throw CliError("name the probes: --query-ids \"0,1\" or " +
          "--queries <parquet>")
    }
    val hits =
      if (boolFlag(opts, "diversify")) {
        val lambda = doubleOpt(opts, "lambda", 0.7)
        if (lambda < 0.0 || lambda > 1.0)
          throw CliError(s"--lambda must be in [0, 1], got $lambda")
        val pool = intOpt(opts, "pool", 4 * k)
        if (pool < k)
          throw CliError(s"--pool ($pool) must cover --k ($k)")
        graft.ext.Similarity.mmrTopK(emb, queries, k, pool, lambda)
      } else graft.ext.Similarity.cosineTopK(emb, queries, k)
    opts.get("out") match {
      case Some(out) =>
        hits.write.mode("overwrite").parquet(out)
        s"${spark.read.parquet(out).count()} neighbors -> $out"
      case None =>
        val header = if (boolFlag(opts, "diversify"))
          "    query_id  neighbor_id  pick_rank\n"
        else "    query_id  neighbor_id       sim  rank\n"
        hits.collect().map { r =>
          if (boolFlag(opts, "diversify"))
            f"${r.getLong(0)}%12d  ${r.getLong(1)}%11d  ${r.getInt(2)}%9d"
          else
            f"${r.getLong(0)}%12d  ${r.getLong(1)}%11d  ${r.getDouble(2)}%8.4f  ${r.getInt(3)}%4d"
        }.mkString(header, "\n", "")
    }
  }

  /** `ann --index <store>` — [EXT] the persisted IVF-PQ index
    * lifecycle (ext.VectorIndex, the BM25 `index` command's shape on
    * the vector plane):
    *
    *   - `--init --embeddings <pq>`: train the coarse quantizer +
    *     residual codebooks and encode the corpus into a fresh store
    *     (refuses an existing one — drop it or `--update`); knobs
    *     `--nlist/--m/--ksub/--dim/--iters/--coarse-iters` (`--nlist`
    *     defaults to 0 = the ⌈N/128⌉ auto-sizing rule).
    *   - `--update --embeddings <delta>`: encode NEW vectors under the
    *     store's frozen model (a zero-shuffle narrow map, no retrain)
    *     and append their codes; already-indexed or tombstoned ids
    *     are skipped.
    *   - query (default): `--query-ids "0,1"` resolved against
    *     `--embeddings`, or an external `--queries` parquet — ranked
    *     FROM THE STORE (`--k`, `--nprobe`); the corpus is never read.
    *     `--diversify` (`--lambda`, `--pool`) swaps in the store-fed
    *     MMR selection over PQ reconstructions (s19's shape);
    *     `--diversify --exact` runs the two-stage tail instead — the
    *     greedy over the pool's ORIGINAL vectors from `--embeddings`
    *     (s24's shape).
    *   - `--delete --vec-ids "1,2"`: tombstone ids (the takedown
    *     path — every read path excludes them immediately; replays
    *     harmless); add `--embeddings <pq>` to also reconcile the
    *     drift stats with the deleted rows' exact negatives, so
    *     `--drift-stats` keeps reporting on the surviving corpus;
    *     `--compact`: physically rewrite the codes store as the
    *     folded tombstone-free row set (result-invisible).
    *   - `--drift --embeddings <pq>`: the s22 reindex advisory —
    *     every component (n/norm ratios, mean/axis shift) of the
    *     serving corpus vs the baseline recorded at init, with the
    *     `stale` verdict; `--drift-stats` reads the SAME report from
    *     the store's incrementally-maintained statistics instead
    *     (s23 — no corpus argument, no corpus scan). Tolerances:
    *     `--tol-mean/--tol-axis/--tol-norm`.
    */
  private def annIndexCmd(spark: SparkSession,
                          opts: Map[String, String]): String = {
    import org.apache.spark.sql.functions.col
    val store = required(opts, "index")
    val init = boolFlag(opts, "init")
    val update = boolFlag(opts, "update")
    if (init && update)
      throw CliError("--init and --update are exclusive")
    // `--rebuild`: the atomic re-init (retrain into a staged sibling,
    // checked-rename swap) — what a tripped --drift advisory runs;
    // readers serve the OLD model until the instant of the swap
    val rebuilding = boolFlag(opts, "rebuild")
    if (rebuilding) {
      if (init || update || opts.contains("query_ids") ||
          opts.contains("queries") || boolFlag(opts, "drift") ||
          boolFlag(opts, "drift_stats") || boolFlag(opts, "delete") ||
          boolFlag(opts, "compact"))
        throw CliError("--rebuild is a standalone maintenance step " +
          "(no --init/--update/--query-ids/--drift/--delete/--compact)")
      if (!graft.ext.VectorIndex.exists(spark, store))
        throw CliError(s"no vector index store at $store " +
          "(bootstrap with --init; --rebuild replaces a live store)")
      val emb = readEmbeddings(spark, required(opts, "embeddings"))
      val (nlist, m, ksub) = (intOpt(opts, "nlist", 0),
        intOpt(opts, "m", 8), intOpt(opts, "ksub", 16))
      val (dim, iters, ci) = (intOpt(opts, "dim", 64),
        intOpt(opts, "iters", 1), intOpt(opts, "coarse_iters", 2))
      if (dim % m != 0)
        throw CliError(s"--dim $dim not divisible by --m $m")
      graft.ext.VectorIndex.rebuild(emb, store, nlist, m, ksub, dim,
        iters, ci)
      val n = graft.ext.VectorIndex.indexedCount(spark, store)
      return s"rebuilt $store atomically: $n vectors indexed " +
        "(readers served the old model until the swap)"
    }
    val querying = opts.contains("query_ids") || opts.contains("queries")
    if ((init || update) && querying)
      throw CliError("--init/--update cannot combine with " +
        "--query-ids/--queries (maintain the store first, then query)")
    val drift = boolFlag(opts, "drift")
    val driftStats = boolFlag(opts, "drift_stats")
    if (drift && driftStats)
      throw CliError("--drift and --drift-stats are exclusive " +
        "(corpus-scan OR stats-fed)")
    if ((drift || driftStats) && (init || update || querying))
      throw CliError("--drift/--drift-stats is a standalone report " +
        "(no --init/--update/--query-ids/--queries)")
    if (driftStats && opts.contains("embeddings"))
      throw CliError("--drift-stats reads the store's own statistics " +
        "— drop --embeddings (or use --drift to scan a corpus)")
    val deleting = boolFlag(opts, "delete")
    val compacting = boolFlag(opts, "compact")
    if (deleting && compacting)
      throw CliError("--delete and --compact are exclusive")
    if ((deleting || compacting) &&
        (init || update || querying || drift || driftStats))
      throw CliError("--delete/--compact is a standalone maintenance " +
        "step (no --init/--update/--drift/--query-ids/--queries)")
    if (opts.contains("vec_ids") && !deleting)
      throw CliError("--vec-ids is a --delete option " +
        "(probes are --query-ids)")
    if (deleting) {
      if (!graft.ext.VectorIndex.exists(spark, store))
        throw CliError(s"no vector index store at $store " +
          "(run --init first)")
      val parsed = required(opts, "vec_ids").split(",").map(_.trim)
        .filter(_.nonEmpty)
      if (parsed.isEmpty)
        throw CliError("--vec-ids must name at least one vec_id")
      val vecIds = parsed.map(s => s.toLongOption.getOrElse(
        throw CliError(s"--vec-ids must be integers, got '$s'"))).toSeq
      // with --embeddings, the takedown also reconciles the drift
      // stats (the deleted rows' exact negative statistics), so
      // --drift-stats keeps reporting on the SURVIVING corpus
      opts.get("embeddings") match {
        case Some(path) =>
          graft.ext.VectorIndex.delete(spark, store, vecIds,
            readEmbeddings(spark, path))
          return s"tombstoned ${vecIds.distinct.size} ids in $store " +
            "with drift-stats reconciliation (queries exclude them " +
            "now; --compact drops the dead rows)"
        case None =>
          graft.ext.VectorIndex.delete(spark, store, vecIds)
          return s"tombstoned ${vecIds.distinct.size} ids in $store " +
            "(queries exclude them now; --compact drops the dead rows)"
      }
    }
    if (compacting) {
      if (!graft.ext.VectorIndex.exists(spark, store))
        throw CliError(s"no vector index store at $store " +
          "(run --init first)")
      val r = graft.ext.VectorIndex.compact(spark, store)
      return s"compacted $store: codes ${r.codeRowsBefore} -> " +
        s"${r.codeRowsAfter} rows, ${r.filesBefore} -> " +
        s"${r.filesAfter} files"
    }
    if (drift || driftStats) {
      if (!graft.ext.VectorIndex.exists(spark, store))
        throw CliError(s"no vector index store at $store " +
          "(run --init first)")
      val tolMean = doubleOpt(opts, "tol_mean", 0.01)
      val tolAxis = doubleOpt(opts, "tol_axis", 0.005)
      val tolNorm = doubleOpt(opts, "tol_norm", 0.02)
      for ((n, v) <- Seq("tol-mean" -> tolMean, "tol-axis" -> tolAxis,
          "tol-norm" -> tolNorm))
        if (v <= 0.0) throw CliError(s"--$n must be positive, got $v")
      val report =
        if (driftStats)
          graft.ext.VectorIndex.driftReportFromStats(spark, store,
            tolMean, tolAxis, tolNorm)
        else
          graft.ext.VectorIndex.driftReport(spark, store,
            readEmbeddings(spark, required(opts, "embeddings")),
            tolMean, tolAxis, tolNorm)
      val r = report.collect()(0)
      val src = if (driftStats) "stats-fed" else "corpus-scan"
      val verdict =
        if (r.getAs[Boolean]("stale"))
          "STALE — reindex advised (re-init, then re-drain deltas)"
        else "fresh"
      // a vectors-free --delete tombstones rows WITHOUT subtracting
      // their statistics, so the stats-fed report keeps describing
      // the appended corpus while queries serve the survivors — an
      // operator acting on it must see that divergence
      val caveat =
        if (!driftStats) ""
        else {
          val un = graft.ext.VectorIndex
            .unreconciledTombstones(spark, store)
          if (un == 0L) ""
          else s"\n  CAVEAT: $un tombstoned ids still counted in the " +
            "stats (vectors-free deletes) — the report describes the " +
            "APPENDED corpus, not the served survivors; re-delete " +
            "with --embeddings, or re-init"
        }
      return s"drift report for $store ($src):\n" +
        f"  n_base=${r.getAs[Long]("n_base")}%d " +
        f"n_current=${r.getAs[Long]("n_current")}%d " +
        f"n_ratio=${r.getAs[Double]("n_ratio")}%.6f\n" +
        f"  norm_ratio=${r.getAs[Double]("norm_ratio")}%.6f " +
        f"mean_shift=${r.getAs[Double]("mean_shift")}%.6f " +
        f"axis_shift=${r.getAs[Double]("axis_shift")}%.6f\n" +
        s"  $verdict$caveat"
    }
    if (init) {
      if (graft.ext.VectorIndex.exists(spark, store))
        throw CliError(s"vector index already exists at $store " +
          "(drop it or --update)")
      val emb = readEmbeddings(spark, required(opts, "embeddings"))
      // --nlist 0 (the default) auto-sizes to the d09 ⌈N/128⌉ rule
      val (nlist, m, ksub) = (intOpt(opts, "nlist", 0),
        intOpt(opts, "m", 8), intOpt(opts, "ksub", 16))
      val (dim, iters, ci) = (intOpt(opts, "dim", 64),
        intOpt(opts, "iters", 1), intOpt(opts, "coarse_iters", 2))
      if (nlist < 0)
        throw CliError(s"--nlist must be positive (or 0 = auto-size), " +
          s"got $nlist")
      for ((n, v) <- Seq("m" -> m, "ksub" -> ksub,
          "dim" -> dim, "iters" -> iters, "coarse-iters" -> ci))
        if (v < 1) throw CliError(s"--$n must be positive, got $v")
      if (dim % m != 0)
        throw CliError(s"--dim $dim not divisible by --m $m")
      graft.ext.VectorIndex.init(emb, store, nlist, m, ksub, dim,
        iters, ci)
      val n = graft.ext.VectorIndex.indexedCount(spark, store)
      s"initialized $store: $n vectors indexed"
    } else if (update) {
      val emb = readEmbeddings(spark, required(opts, "embeddings"))
      if (!graft.ext.VectorIndex.exists(spark, store))
        throw CliError(s"no vector index store at $store " +
          "(run --init first)")
      graft.ext.VectorIndex.update(emb, store)
      val n = graft.ext.VectorIndex.indexedCount(spark, store)
      s"updated $store: $n vectors indexed"
    } else {
      if (!querying)
        throw CliError("name the probes: --query-ids \"0,1\" or " +
          "--queries <parquet> (or --init/--update to maintain)")
      if (!graft.ext.VectorIndex.exists(spark, store))
        throw CliError(s"no vector index store at $store " +
          "(run --init first)")
      val k = intOpt(opts, "k", 10)
      if (k < 1) throw CliError(s"--k must be positive, got $k")
      val nprobe = intOpt(opts, "nprobe", 4)
      if (nprobe < 1)
        throw CliError(s"--nprobe must be positive, got $nprobe")
      val queries = (opts.get("query_ids"), opts.get("queries")) match {
        case (Some(_), Some(_)) =>
          throw CliError("--query-ids and --queries are exclusive " +
            "(corpus rows OR an external probe parquet)")
        case (Some(ids), None) =>
          val parsed = ids.split(",").map(_.trim).filter(_.nonEmpty)
          if (parsed.isEmpty)
            throw CliError("--query-ids must name at least one vec_id")
          val vecIds = parsed.map(s => s.toLongOption.getOrElse(
            throw CliError(s"--query-ids must be integers, got '$s'")))
          val emb = readEmbeddings(spark, required(opts, "embeddings"))
          val probes = emb.filter(
            col("vec_id").isin(vecIds.toIndexedSeq: _*))
          val found = probes.select(col("vec_id").cast("long"))
            .collect().map(_.getLong(0)).toSet
          val missing = vecIds.filterNot(found)
          if (missing.nonEmpty)
            throw CliError("--query-ids not present in the corpus: " +
              missing.sorted.mkString(", "))
          probes
        case (None, Some(path)) => readEmbeddings(spark, path)
        case (None, None) => throw new IllegalStateException("unreachable")
      }
      val diversify = boolFlag(opts, "diversify")
      val exact = boolFlag(opts, "exact")
      if (exact && !diversify)
        throw CliError("--exact is a --diversify option (the ranked " +
          "exact tail is a library concern: queryRerank)")
      val hits =
        if (diversify) {
          // s19's store-fed MMR (pool from the cell-pruned store
          // query, candidate vectors PQ-reconstructed, greedy rerank)
          // — the --diversify corpus-mode flag, served from the store;
          // --exact swaps in s24's two-stage tail (the greedy over
          // the pool's ORIGINAL vectors, fetched by pushed ids from
          // --embeddings)
          val lambda = doubleOpt(opts, "lambda", 0.7)
          if (lambda < 0.0 || lambda > 1.0)
            throw CliError(s"--lambda must be in [0, 1], got $lambda")
          val pool = intOpt(opts, "pool", 4 * k)
          if (pool < k)
            throw CliError(s"--pool ($pool) must cover --k ($k)")
          if (exact)
            graft.ext.VectorIndex.diversifiedQueryRerank(spark, store,
              readEmbeddings(spark, required(opts, "embeddings")),
              queries, k, pool, lambda, nprobe)
          else
            graft.ext.VectorIndex.diversifiedQuery(spark, store,
              queries, k, pool, lambda, nprobe)
        } else graft.ext.VectorIndex.query(spark, store, queries, k,
          nprobe)
      opts.get("out") match {
        case Some(out) =>
          hits.write.mode("overwrite").parquet(out)
          s"${spark.read.parquet(out).count()} neighbors -> $out"
        case None =>
          val header = if (diversify)
            "    query_id  neighbor_id  pick_rank\n"
          else "    query_id  neighbor_id  approx_ip  rank\n"
          hits.collect().map { r =>
            if (diversify)
              f"${r.getLong(0)}%12d  ${r.getLong(1)}%11d  ${r.getInt(2)}%9d"
            else
              f"${r.getLong(0)}%12d  ${r.getLong(1)}%11d  " +
                f"${r.getDouble(2)}%9.4f  ${r.getInt(3)}%4d"
          }.mkString(header, "\n", "")
      }
    }
  }

  /** `hybrid` — [EXT] the production first-stage retriever: fused
    * lexical + dense ranking ENTIRELY from the persisted stores
    * (ext.Retrieval.hybridQueryStores — the s21 shape). The lexical
    * leg ranks from the BM25 inverted index at `--index` (pushed
    * token filter, no corpus scan), the dense leg from the IVF-PQ
    * vector store at `--vector-index` (cell-pruned ADC), fused by
    * reciprocal-rank fusion over each leg's top-`--depth`.
    *
    *   - `--query "terms"` is the lexical bag; `--query-id N` names
    *     the probe vector, resolved against `--embeddings` and
    *     collected to a LOCAL relation (a serving path receives the
    *     query vector WITH the request — the corpus is not scanned
    *     for it).
    *   - `--exact`: the two-stage tail (hybridQueryStoresRerank, the
    *     s25 shape) — the dense nominees' ORIGINAL vectors are
    *     fetched from `--embeddings` by a pushed vec_id filter and
    *     re-ranked by exact cosine before the fuse.
    *   - `--diversify` (r13): the s28 MMR tail — the fused top-`--pool`
    *     (default min(depth, max(3k, 12))) is greedily re-ranked over its
    *     exact-fetched originals (λ·fused − (1−λ)·max-sim, `--lambda`
    *     default 0.7) so near-duplicate fused hits stop crowding the
    *     cut; implies the exact-tail nomination.
    *   - `--k` fused results (default 10), `--depth` per-leg pool
    *     (default 20), `--nprobe` probed cells (default 4); `--out`
    *     parquet or a printed ranking.
    */
  private def hybridCmd(spark: SparkSession,
                        opts: Map[String, String]): String = {
    import org.apache.spark.sql.functions.col
    val indexStore = required(opts, "index")
    val vectorStore = required(opts, "vector_index")
    if (!graft.ext.Retrieval.indexExists(spark, indexStore))
      throw CliError(s"no index store at $indexStore " +
        "(build it: index --init)")
    if (!graft.ext.VectorIndex.exists(spark, vectorStore))
      throw CliError(s"no vector index store at $vectorStore " +
        "(build it: ann --index ... --init)")
    val terms = required(opts, "query").split("\\s+")
      .filter(_.nonEmpty).toSeq
    if (terms.isEmpty) throw CliError("--query must name at least one term")
    val qid = required(opts, "query_id").toLongOption.getOrElse(
      throw CliError("--query-id must be an integer"))
    val k = intOpt(opts, "k", 10)
    if (k < 1) throw CliError(s"--k must be positive, got $k")
    val depth = intOpt(opts, "depth", 20)
    if (depth < k)
      throw CliError(s"--depth ($depth) must cover --k ($k)")
    val nprobe = intOpt(opts, "nprobe", 4)
    if (nprobe < 1) throw CliError(s"--nprobe must be positive, got $nprobe")
    val emb = readEmbeddings(spark, required(opts, "embeddings"))
    // the request's own vector, collected to a local relation (one
    // row) — fail loudly on a typo'd id, never rank from nothing
    import spark.implicits._
    val qRows = emb.filter(col("vec_id") === qid)
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    if (qRows.isEmpty)
      throw CliError(s"--query-id $qid not present in --embeddings")
    val qVecs = qRows.toSeq.map { case (id, e) => (id, e.toSeq) }
      .toDF("vec_id", "embedding")
    val queries = Seq(qid -> terms)
    // `--diversify`: the s28 MMR tail after the fuse (implies the
    // exact-tail nomination — the originals are fetched anyway)
    if (boolFlag(opts, "diversify")) {
      if (boolFlag(opts, "exact"))
        throw CliError("--diversify already re-ranks the exact " +
          "originals — drop --exact")
      val lambda = doubleOpt(opts, "lambda", 0.7)
      if (lambda < 0.0 || lambda > 1.0)
        throw CliError(s"--lambda must be in [0, 1], got $lambda")
      // default pool: 3k breathing room capped at the nomination
      // depth (the pool can never exceed what the legs nominate) —
      // the r13 default (uncapped max(3k,12)) crashed at k=10/depth=20
      val pool = intOpt(opts, "pool",
        math.min(depth, math.max(3 * k, 12)))
      if (pool < k)
        throw CliError(s"--pool ($pool) must cover --k ($k)")
      if (pool > depth)
        throw CliError(s"--pool ($pool) cannot exceed --depth ($depth)" +
          " — the legs nominate only depth candidates per query")
      val picks = graft.ext.Retrieval.hybridQueryStoresDiversify(spark,
        indexStore, vectorStore, emb, queries, qVecs, k = k,
        poolSize = pool, depth = depth, nprobe = nprobe,
        lambda = lambda)
      return opts.get("out") match {
        case Some(out) =>
          picks.write.mode("overwrite").parquet(out)
          s"${spark.read.parquet(out).count()} diversified hits -> $out"
        case None =>
          picks.collect().sortBy(_.getInt(2)).map { r =>
            f"${r.getLong(0)}%12d  ${r.getLong(1)}%11d  ${r.getInt(2)}%9d"
          }.mkString("    query_id  neighbor_id  pick_rank\n", "\n", "")
      }
    }
    if (opts.contains("lambda") || opts.contains("pool"))
      throw CliError("--lambda/--pool are --diversify options")
    val hits =
      if (boolFlag(opts, "exact"))
        graft.ext.Retrieval.hybridQueryStoresRerank(spark, indexStore,
          vectorStore, emb, queries, qVecs, k, depth, nprobe = nprobe)
      else
        graft.ext.Retrieval.hybridQueryStores(spark, indexStore,
          vectorStore, queries, qVecs, k, depth, nprobe = nprobe)
    opts.get("out") match {
      case Some(out) =>
        hits.write.mode("overwrite").parquet(out)
        s"${spark.read.parquet(out).count()} fused hits -> $out"
      case None =>
        hits.collect().map { r =>
          f"${r.getLong(0)}%12d  ${r.getLong(1)}%8d  ${r.getInt(2)}%4d  " +
            f"${r.getInt(3)}%5d  ${r.getDouble(4)}%9.6f  ${r.getInt(5)}%4d"
        }.mkString(
          "    query_id    doc_id   lex  dense      fused  rank\n",
          "\n", "")
    }
  }

  /** `pca` — [EXT] the top-principal-component model in its
    * deployment split (ext.Pca, the `dsir` pattern):
    *
    *   - TRAIN (`--train`): fit mean + direction by `--iters` power
    *     iterations (default 4) over `--embeddings`, write the model
    *     to `--model` as (i, m, v) parquet — d rows, KB-scale.
    *   - SCORE (no `--train`): read the model, project `--embeddings`
    *     with the scan-speed narrow-map scorer
    *     ([[graft.ext.Pca.pcaScoreMap]]) to `--out`.
    */
  private def pcaCmd(spark: SparkSession,
                     opts: Map[String, String]): String = {
    val model = required(opts, "model")
    if (boolFlag(opts, "train")) {
      if (opts.contains("out"))
        throw CliError("--out is a SCORE option; training writes " +
          "only --model (score in a second invocation)")
      val iters = intOpt(opts, "iters", 4)
      if (iters < 1)
        throw CliError(s"--iters must be positive, got $iters")
      val emb = readEmbeddings(spark, required(opts, "embeddings"))
      val m = graft.ext.Pca.pcaModel(emb, iters)
      import spark.implicits._
      m.mu.indices.map(i => (i, m.mu(i), m.v(i))).toDF("i", "m", "v")
        .coalesce(1).write.mode("overwrite").parquet(model)
      s"trained pca component: dim ${m.mu.length} -> $model"
    } else {
      val modelPath = new org.apache.hadoop.fs.Path(model)
      val fs = modelPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(modelPath))
        throw CliError(s"no pca model at $model " +
          "(train first: --train --embeddings ... --model ...)")
      val rows = spark.read.parquet(model)
      val needed = Seq("i", "m", "v")
      val missing = needed.filterNot(rows.columns.contains)
      if (missing.nonEmpty)
        throw CliError(s"$model is not a pca model (missing " +
          s"${missing.mkString(", ")}; found ${rows.columns.mkString(",")})")
      val collected = rows.select("i", "m", "v").collect()
      val dim = collected.length
      if (collected.map(_.getInt(0)).sorted.toSeq != (0 until dim))
        throw CliError(s"$model dimension domain is not contiguous " +
          s"0..${dim - 1} — wrong or truncated model")
      val mu = new Array[Double](dim)
      val v = new Array[Double](dim)
      collected.foreach { r =>
        mu(r.getInt(0)) = r.getDouble(1)
        v(r.getInt(0)) = r.getDouble(2)
      }
      val out = required(opts, "out")
      val emb = readEmbeddings(spark, required(opts, "embeddings"))
      graft.ext.Pca.pcaScoreMap(emb, graft.ext.Pca.PcaModel(mu, v))
        .write.mode("overwrite").parquet(out)
      s"projected ${spark.read.parquet(out).count()} vectors " +
        s"(dim-$dim component) -> $out"
    }
  }

  private def tagCmd(spark: SparkSession,
                     opts: Map[String, String]): String = {
    import org.apache.spark.sql.functions.{col, explode, split}
    val docs = readDocs(spark, required(opts, "docs"))
    val pats = (opts.get("patterns"), opts.get("patterns_file")) match {
      case (Some(csv), None) =>
        csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case (None, Some(pf)) =>
        if (!new java.io.File(pf).isFile)
          throw CliError(s"--patterns-file not found: $pf")
        val src = scala.io.Source.fromFile(pf, "UTF-8")
        try src.getLines().map(_.trim)
          .filter(l => l.nonEmpty && !l.startsWith("#")).toList
        finally src.close()
      case (None, None) => throw CliError(
        "tag needs --patterns \"a,b,…\" or --patterns-file <path>")
      case _ => throw CliError(
        "--patterns and --patterns-file are mutually exclusive")
    }
    if (pats.isEmpty)
      throw CliError("empty pattern list (nothing to tag with)")
    val tagged = graft.ext.TextAnalysis.keywordTags(docs, pats)
    opts.get("out") match {
      case Some(out) =>
        tagged.write.mode("overwrite").parquet(out)
        val written = spark.read.parquet(out)
        val n = written.count()
        val hit = written.filter(col("hit")).count()
        s"$n docs tagged ($hit hit) -> $out"
      case None =>
        val counts = tagged.filter(col("n_tags") > 0)
          .select(explode(split(col("tags"), ",")).as("p"))
          .groupBy(col("p")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val total = tagged.count()
        val hits = tagged.filter(col("hit")).count()
        pats.distinct.sorted
          .map(p => f"${counts.getOrElse(p, 0L)}%8d  $p")
          .mkString(s"$total docs, $hits hit\n    docs  pattern\n",
            "\n", "")
    }
  }

  /** `warc` — [EXT] the crawl front door (ext.Warc/Html) on archives
    * stored as `(archive_id, payload)` parquet:
    *
    *   - `--mode walk`: record facts (types, URIs, offsets, the HTTP
    *     split); `--gz` inflates `.warc.gz` member streams first.
    *   - `--mode extract`: HTTP payload texts, optionally gated by
    *     `--status` / `--content-type`; `--html-extract` runs the
    *     structural HTML→text extractor on each payload.
    *   - `--mode index`: the CDX index over gzipped archives (SURT
    *     keys, record coordinates, the verified random-access bit);
    *     refuses plain archives — member offsets only exist on the
    *     wire format.
    *
    * `--out` writes parquet and reports counts; without it the
    * summary prints alone. Rotten archives drop silently in the facts
    * (the walks' fail-soft contract); the summary's archive count
    * makes the drop visible against the input count.
    */
  private def warcCmd(spark: SparkSession,
                      opts: Map[String, String]): String = {
    import org.apache.spark.sql.functions.col
    val path = required(opts, "archives")
    val archives = spark.read.parquet(path)
    val missing = Seq("archive_id", "payload")
      .filterNot(archives.columns.contains)
    if (missing.nonEmpty)
      throw CliError(s"--archives needs archive_id, payload columns, " +
        s"missing: ${missing.mkString(", ")}")
    val gz = opts.contains("gz")
    val nArchives = archives.count()
    def finish(df: org.apache.spark.sql.DataFrame,
               what: String): String = {
      opts.get("out") match {
        case Some(out) =>
          df.write.mode("overwrite").parquet(out)
          val n = spark.read.parquet(out).count()
          s"$n $what from $nArchives archives -> $out"
        case None =>
          s"${df.count()} $what from $nArchives archives"
      }
    }
    opts.getOrElse("mode", "walk") match {
      case "walk" =>
        val facts =
          if (gz) graft.ext.Warc.recordFactsGz(spark, archives).toDF()
          else graft.ext.Warc.recordFacts(spark, archives).toDF()
        finish(facts, "records")
      case "extract" =>
        var texts =
          if (gz) graft.ext.Warc.httpTextsGz(spark, archives)
          else graft.ext.Warc.httpTexts(spark, archives)
        opts.get("status").foreach { s =>
          val code = s.toIntOption.getOrElse(throw CliError(
            s"--status must be an integer, got '$s'"))
          texts = texts.filter(col("http_status") === code)
        }
        opts.get("content_type").foreach(ct =>
          texts = texts.filter(col("http_content_type") === ct))
        if (opts.contains("html_extract")) {
          import spark.implicits._
          texts = texts.select(col("archive_id"), col("target_uri"),
              col("http_status"), col("text"))
            .as[(Long, String, Int, String)]
            .map { case (aid, uri, st, html) =>
              (aid, uri, st, graft.ext.Html.extractText(html))
            }.toDF("archive_id", "target_uri", "http_status", "text")
        }
        finish(texts, "pages")
      case "index" =>
        if (!gz) throw CliError(
          "index needs --gz: member offsets only exist on .warc.gz " +
            "archives (the wire format)")
        val idx = graft.ext.Warc.cdxIndex(spark, archives)
        val bad = idx.filter(!col("fetch_ok")).count()
        if (bad > 0)
          throw CliError(s"$bad index rows failed the random-access " +
            "verification — the index would lie; not writing")
        finish(idx, "index rows")
      case other => throw CliError(
        s"unknown --mode: $other (expected walk | extract | index)")
    }
  }

  /** `dsir` — [EXT] importance resampling in its deployment split
    * (ext.TextAnalysis):
    *
    *   - TRAIN (`--target-expr` present): fit the per-bucket
    *     log-ratio table against the target slice defined by the SQL
    *     boolean (e.g. `--target-expr "source = 'wiki'"`), write it
    *     to `--model` as (b, lr) parquet — the KB-scale artifact the
    *     scorer ships with.
    *   - SCORE (`--model` without `--target-expr`): read the model,
    *     score `--docs` with the pure narrow-map scorer (dsirScore),
    *     write (…, n_features, logw) to `--out`.
    *
    * The split mirrors `dedup`/`index`: train rarely, score at scan
    * speed; mixing both flags in one invocation is refused.
    */
  private def dsirCmd(spark: SparkSession,
                      opts: Map[String, String]): String = {
    import org.apache.spark.sql.functions.expr
    val model = required(opts, "model")
    val nBuckets = intOpt(opts, "n_buckets", 256)
    if (nBuckets < 2) throw CliError(
      s"--n-buckets must be at least 2, got $nBuckets")
    opts.get("target_expr") match {
      case Some(te) =>
        val docs = readDocs(spark, required(opts, "docs"))
        if (opts.contains("out"))
          throw CliError("--out is a SCORE option; training writes " +
            "only --model (score in a second invocation)")
        val target =
          try {
            val t = docs.select(expr(te).as("t"))
            if (t.schema.head.dataType !=
                org.apache.spark.sql.types.BooleanType)
              throw CliError(s"--target-expr must be a boolean " +
                s"predicate, '$te' is ${t.schema.head.dataType.simpleString}")
            expr(te)
          } catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw CliError(s"--target-expr does not resolve against " +
                s"the corpus: ${e.getMessage.linesIterator.next()}")
          }
        val ratios = graft.ext.TextAnalysis
          .dsirRatios(docs, target, nBuckets)
        import spark.implicits._
        ratios.toSeq.sortBy(_._1).toDF("b", "lr")
          .coalesce(1).write.mode("overwrite").parquet(model)
        s"trained dsir model: ${ratios.size} buckets -> $model"
      case None =>
        val modelPath = new org.apache.hadoop.fs.Path(model)
        val fs = modelPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(modelPath))
          throw CliError(s"no dsir model at $model " +
            "(train first: --docs ... --target-expr ... --model ...)")
        val rows = spark.read.parquet(model)
        if (!rows.columns.contains("b") || !rows.columns.contains("lr"))
          throw CliError(s"$model is not a dsir model " +
            s"(expected b, lr columns, found ${rows.columns.mkString(",")})")
        val ratios = rows.collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        if (ratios.keySet != (0L until ratios.size.toLong).toSet)
          throw CliError(s"$model bucket domain is not contiguous " +
            s"0..${ratios.size - 1} — wrong or truncated model")
        val out = required(opts, "out")
        val docs = readDocs(spark, required(opts, "docs"))
        graft.ext.TextAnalysis.dsirScore(docs, ratios, ratios.size)
          .write.mode("overwrite").parquet(out)
        s"scored ${spark.read.parquet(out).count()} documents " +
          s"(${ratios.size}-bucket model) -> $out"
    }
  }

  /** `probe` — [EXT] the trainable quality classifier in its
    * deployment split (ext.TextAnalysis, the `dsir` pattern):
    *
    *   - TRAIN (`--target-expr` present): fit the linear probe
    *     against the SQL-boolean target slice (deterministic
    *     full-batch GD, `--epochs` default 3, `--n-buckets` default
    *     256), write the weight table to `--model` as (b, w) parquet
    *     (bias at b = n-buckets).
    *   - SCORE (`--model` without `--target-expr`): read the model,
    *     score `--docs` (margin / quality / predicted) to `--out`.
    */
  private def probeCmd(spark: SparkSession,
                       opts: Map[String, String]): String = {
    import org.apache.spark.sql.functions.expr
    val model = required(opts, "model")
    val nBuckets = intOpt(opts, "n_buckets", 256)
    if (nBuckets < 2) throw CliError(
      s"--n-buckets must be at least 2, got $nBuckets")
    opts.get("target_expr") match {
      case Some(te) =>
        val docs = readDocs(spark, required(opts, "docs"))
        if (opts.contains("out"))
          throw CliError("--out is a SCORE option; training writes " +
            "only --model (score in a second invocation)")
        val epochs = intOpt(opts, "epochs", 3)
        if (epochs < 1) throw CliError(
          s"--epochs must be positive, got $epochs")
        val target =
          try {
            val t = docs.select(expr(te).as("t"))
            if (t.schema.head.dataType !=
                org.apache.spark.sql.types.BooleanType)
              throw CliError(s"--target-expr must be a boolean " +
                s"predicate, '$te' is " +
                t.schema.head.dataType.simpleString)
            expr(te)
          } catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw CliError(s"--target-expr does not resolve against " +
                s"the corpus: ${e.getMessage.linesIterator.next()}")
          }
        val weights = graft.ext.TextAnalysis
          .qualityProbeModel(docs, target, nBuckets, epochs)
        import spark.implicits._
        weights.toSeq.sortBy(_._1).toDF("b", "w")
          .coalesce(1).write.mode("overwrite").parquet(model)
        s"trained quality probe: ${weights.size - 1} buckets + bias " +
          s"($epochs epochs) -> $model"
      case None =>
        val modelPath = new org.apache.hadoop.fs.Path(model)
        val fs = modelPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(modelPath))
          throw CliError(s"no probe model at $model " +
            "(train first: --docs ... --target-expr ... --model ...)")
        val rows = spark.read.parquet(model)
        if (!rows.columns.contains("b") || !rows.columns.contains("w"))
          throw CliError(s"$model is not a probe model " +
            s"(expected b, w columns, found ${rows.columns.mkString(",")})")
        val weights = rows.collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        if (weights.keySet != (0L until weights.size.toLong).toSet)
          throw CliError(s"$model bucket domain is not contiguous " +
            s"0..${weights.size - 1} — wrong or truncated model")
        val out = required(opts, "out")
        val docs = readDocs(spark, required(opts, "docs"))
        graft.ext.TextAnalysis.qualityProbeScore(docs, weights)
          .write.mode("overwrite").parquet(out)
        s"scored ${spark.read.parquet(out).count()} documents " +
          s"(${weights.size - 1}-bucket probe) -> $out"
    }
  }

  /** `bpe` — [EXT] the subword tokenizer in its deployment split
    * (ext.TextAnalysis, the `dsir`/`probe` pattern):
    *
    *   - TRAIN (`--n-merges` present): learn that many BPE merges
    *     from the corpus's word-frequency dictionary, write the
    *     display-form merge table to `--model` as
    *     (merge_rank, lhs, rhs, merged, freq) parquet — the KB-scale
    *     artifact the counter ships with.
    *   - COUNT (`--model` without `--n-merges`): read the model,
    *     count per-document subword tokens with the pure narrow-map
    *     encoder (bpeTokenCounts), write (doc_id, n_tokens) to
    *     `--out`.
    *
    * Train rarely, count at scan speed; a malformed or truncated
    * model is refused loudly (contiguous 1..n ranks) rather than
    * silently under-merging.
    */
  private def bpeCmd(spark: SparkSession,
                     opts: Map[String, String]): String = {
    val model = required(opts, "model")
    opts.get("n_merges") match {
      case Some(_) =>
        val n = intOpt(opts, "n_merges", 0)
        if (n < 1) throw CliError(s"--n-merges must be positive, got $n")
        if (opts.contains("out"))
          throw CliError("--out is a COUNT option; training writes " +
            "only --model (count in a second invocation)")
        val docs = readDocs(spark, required(opts, "docs"))
        // --local: the driver-side merge loop (merge-for-merge equal
        // to the distributed trainer, spec-pinned) — the right shape
        // for production merge counts, where 30k distributed merges
        // are 30k serial driver round-trips over a KB dictionary
        val merges =
          if (boolFlag(opts, "local"))
            graft.ext.TextAnalysis.bpeTrainLocal(
              docs.select("doc_id", "text"), n)
          else graft.ext.TextAnalysis.bpeTrain(
            docs.select("doc_id", "text"), n)
        graft.ext.TextAnalysis.bpeMergesTable(spark, merges)
          .coalesce(1).write.mode("overwrite").parquet(model)
        s"trained bpe model: ${merges.size} merges" +
          (if (merges.size < n) s" (exhausted before $n)" else "") +
          s" -> $model"
      case None =>
        val modelPath = new org.apache.hadoop.fs.Path(model)
        val fs = modelPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(modelPath))
          throw CliError(s"no bpe model at $model " +
            "(train first: --docs ... --n-merges ... --model ...)")
        val rows = spark.read.parquet(model)
        val needed = Seq("merge_rank", "lhs", "rhs", "merged", "freq")
        val missing = needed.filterNot(rows.columns.contains)
        if (missing.nonEmpty)
          throw CliError(s"$model is not a bpe model (missing " +
            s"${missing.mkString(", ")}; found ${rows.columns.mkString(",")})")
        val merges = rows.collect()
          .map(r => graft.ext.TextAnalysis.bpeMergeOf(
            r.getAs[Long]("merge_rank").toInt, r.getAs[String]("lhs"),
            r.getAs[String]("rhs"), r.getAs[Long]("freq")))
          .sortBy(_.rank).toSeq
        if (merges.map(_.rank) != (1 to merges.size))
          throw CliError(s"$model merge ranks are not contiguous " +
            s"1..${merges.size} — wrong or truncated model")
        val out = required(opts, "out")
        val docs = readDocs(spark, required(opts, "docs"))
        graft.ext.TextAnalysis.bpeTokenCounts(
          docs.select("doc_id", "text"), merges)
          .write.mode("overwrite").parquet(out)
        s"counted ${spark.read.parquet(out).count()} documents " +
          s"(${merges.size}-merge model) -> $out"
    }
  }

  /** `epoch-budget` — [EXT] data-constrained epoch allocation over
    * the corpus at `--docs` (ext.TextAnalysis.epochBudget):
    * √-temperature weights, `--budget-frac` of total supply
    * (default 0.6), per-domain repetition cap `--max-epochs`
    * (default 0.6). `--out` parquet, or the per-domain table printed
    * (domains are few by construction).
    */
  private def epochBudgetCmd(spark: SparkSession,
                             opts: Map[String, String]): String = {
    val docs = readDocs(spark, required(opts, "docs"),
      extra = Seq("source"))
    val budgetFrac = doubleOpt(opts, "budget_frac", 0.6)
    if (budgetFrac <= 0 || budgetFrac > 1) throw CliError(
      s"--budget-frac must be in (0, 1], got $budgetFrac")
    val maxEpochs = doubleOpt(opts, "max_epochs", 0.6)
    if (maxEpochs <= 0) throw CliError(
      s"--max-epochs must be positive, got $maxEpochs")
    val alloc = graft.ext.TextAnalysis
      .epochBudget(docs, budgetFrac, maxEpochs)
    opts.get("out") match {
      case Some(out) =>
        alloc.write.mode("overwrite").parquet(out)
        s"${spark.read.parquet(out).count()} domains -> $out"
      case None =>
        alloc.orderBy(org.apache.spark.sql.functions.col("source"))
          .collect().map { r =>
            f"${r.getAs[String]("source")}%-20s " +
              f"${r.getAs[Long]("domain_tokens")}%12d " +
              f"${r.getAs[Long]("allocated_tokens")}%12d " +
              f"${r.getAs[Double]("epochs")}%7.4f " +
              (if (r.getAs[Boolean]("capped")) "capped" else "")
          }.mkString(
            f"${"source"}%-20s ${"tokens"}%12s ${"allocated"}%12s " +
              f"${"epochs"}%7s\n", "\n", "")
    }
  }

  /** `despan` — [EXT] one-shot span-level cleaning (ext.Dedup): cut
    * duplicated spans out of the corpus at `--docs` and write the
    * cleaned corpus (doc_id, text, n_tokens, n_removed) to `--out`.
    * Without `--eval`, intra-corpus dedup (removeDupSpans: min-id
    * survivor, context-preserving ragged boundaries); with `--eval
    * PATH`, benchmark decontamination against that slice
    * (despanContaminated: cover-all cut — no eval n-gram fragment
    * survives). `--n` is the window width (default 3 for dedup, 5
    * for decontamination, overridable).
    */
  private def despanCmd(spark: SparkSession,
                        opts: Map[String, String]): String = {
    val docsPath = required(opts, "docs")
    val out = required(opts, "out")
    val docs = spark.read.parquet(docsPath)
    if (!docs.columns.contains("doc_id") || !docs.columns.contains("text"))
      throw CliError(s"--docs needs doc_id and text columns, " +
        s"found ${docs.columns.mkString(",")}")
    val cleaned = opts.get("eval") match {
      case Some(evalPath) =>
        val n = intOpt(opts, "n", 5)
        if (n < 1) throw CliError(s"--n must be positive, got $n")
        graft.ext.Dedup.despanContaminated(
          docs, spark.read.parquet(evalPath), n)
      case None =>
        val n = intOpt(opts, "n", 3)
        if (n < 1) throw CliError(s"--n must be positive, got $n")
        graft.ext.Dedup.removeDupSpans(docs, n)
    }
    cleaned.write.mode("overwrite").parquet(out)
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
    val stats = spark.read.parquet(out)
      .agg(count(lit(1)), coalesce(sum("n_removed"), lit(0L))).head()
    val mode = if (opts.contains("eval")) "decontaminated" else "despanned"
    s"$mode ${stats.getLong(0)} docs; ${stats.getLong(1)} tokens cut " +
      s"-> $out"
  }

  /** `dedup` — [EXT] maintenance for the incremental dedup stores
    * (ext.Dedup). `--mode minhash` (default) keeps the signature
    * store and emits LSH candidate pairs; `--mode jaccard` keeps the
    * exploded shingle store and emits exact jaccard pairs (with
    * `--threshold` and `--max-df`, update-time cap semantics as
    * documented on updateJaccardPairs). Either way: `--init`
    * bootstraps `--store` from the full corpus at `--docs`; without
    * it, `--docs` is a DELTA — only those documents are shingled,
    * the store is appended, and the NEW pairs (≥ 1 new member;
    * old-vs-old never recomputes) are written to `--out` (or just
    * counted). `--n` is the shingle width (default 3).
    * `--drift-stats` (r13) prints the s27 drift advisory from the
    * minhash store's own statistics (growth/avgdl ratios, band
    * candidate-pairs-per-doc vs the init-time baseline);
    * `--drift --docs <pq>` is its corpus-scan twin.
    */
  private def dedupCmd(spark: SparkSession,
                       opts: Map[String, String]): String = {
    val drift = boolFlag(opts, "drift")
    val driftStats = boolFlag(opts, "drift_stats")
    if (drift && driftStats)
      throw CliError("--drift and --drift-stats are exclusive " +
        "(corpus-scan OR store-fed)")
    if ((drift || driftStats) && (boolFlag(opts, "init") ||
        opts.contains("out") || opts.contains("threshold")))
      throw CliError("--drift/--drift-stats is a standalone report " +
        "(no --init/--out/--threshold)")
    if (driftStats && opts.contains("docs"))
      throw CliError("--drift-stats reads the store's own statistics " +
        "— drop --docs (or use --drift to scan a corpus)")
    if (drift || driftStats) {
      val store = required(opts, "store")
      if (opts.getOrElse("mode", "minhash") != "minhash")
        throw CliError("--drift/--drift-stats reports on the minhash " +
          "signature store (--mode minhash)")
      if (!graft.ext.Dedup.storeExists(spark, store))
        throw CliError(s"no dedup store at $store (run --init first)")
      val tolPairs = doubleOpt(opts, "tol_pairs", 0.5)
      val tolDl = doubleOpt(opts, "tol_dl", 0.05)
      for ((nm, v) <- Seq("tol-pairs" -> tolPairs, "tol-dl" -> tolDl))
        if (v <= 0.0) throw CliError(s"--$nm must be positive, got $v")
      val report =
        if (driftStats)
          graft.ext.Dedup.sigDriftReportFromStore(spark, store,
            tolPairs, tolDl)
        else {
          val d = spark.read.parquet(required(opts, "docs"))
          if (!d.columns.contains("doc_id") || !d.columns.contains("text"))
            throw CliError(s"--docs needs doc_id and text columns, " +
              s"found ${d.columns.mkString(",")}")
          graft.ext.Dedup.sigDriftReportScan(
            d.select("doc_id", "text"), store, tolPairs, tolDl)
        }
      val r = report.collect()(0)
      val src = if (driftStats) "store-fed" else "corpus-scan"
      val verdict =
        if (r.getAs[Boolean]("stale"))
          "STALE — re-signature advised (rebuild the store, then re-drain)"
        else "fresh"
      return s"signature drift report for $store ($src):\n" +
        f"  n_base=${r.getAs[Long]("n_base")}%d " +
        f"n_current=${r.getAs[Long]("n_current")}%d " +
        f"n_ratio=${r.getAs[Double]("n_ratio")}%.6f\n" +
        f"  avgdl_ratio=${r.getAs[Double]("avgdl_ratio")}%.6f " +
        f"ppd_base=${r.getAs[Double]("ppd_base")}%.6f " +
        f"ppd_cur=${r.getAs[Double]("ppd_cur")}%.6f " +
        f"pair_delta=${r.getAs[Double]("pair_delta")}%.6f\n" +
        s"  $verdict"
    }
    val docsPath = required(opts, "docs")
    val store = required(opts, "store")
    val n = intOpt(opts, "n", 3)
    if (n < 1) throw CliError(s"--n must be positive, got $n")
    val mode = opts.getOrElse("mode", "minhash")
    if (mode != "minhash" && mode != "jaccard")
      throw CliError(s"unknown --mode $mode (expected minhash|jaccard)")
    val docs = spark.read.parquet(docsPath)
    if (!docs.columns.contains("doc_id") || !docs.columns.contains("text"))
      throw CliError(s"--docs needs doc_id and text columns, " +
        s"found ${docs.columns.mkString(",")}")
    if (boolFlag(opts, "init")) {
      if (mode == "minhash") {
        graft.ext.Dedup.writeSignatures(docs, store, n)
        val count = graft.ext.Dedup.readSignatures(spark, store).count()
        s"initialized $store: $count signatures"
      } else {
        graft.ext.Dedup.writeShingleStore(docs, store, n)
        val count = graft.ext.Dedup.readShingleStore(spark, store).count()
        s"initialized $store: $count shingle rows"
      }
    } else {
      // a missing store on the update path is a mistyped path or a
      // forgotten --init, never a valid request: appending the delta
      // would silently found a NEW store that thinks the old corpus
      // doesn't exist, and every old-vs-new pair would be lost
      // (recover-then-probe: a crash-interrupted --compact swap must
      // restore the store, not read as missing)
      if (!graft.ext.Dedup.storeExists(spark, store))
        throw CliError(s"no dedup store at $store (run --init first)")
      val pairs =
        if (mode == "minhash") graft.ext.Dedup.updatePairs(docs, store, n)
        else graft.ext.Dedup.updateJaccardPairs(docs, store, n,
          threshold = doubleOpt(opts, "threshold", 0.5),
          maxDf = intOpt(opts, "max_df", 50))
      val what =
        if (mode == "minhash") "new candidate pairs" else "new jaccard pairs"
      opts.get("out") match {
        case Some(out) =>
          pairs.write.mode("overwrite").parquet(out)
          val k = spark.read.parquet(out).count()
          s"updated $store; $k $what -> $out"
        case None =>
          s"updated $store; ${pairs.count()} $what"
      }
    }
  }

  /** `index` — [EXT] maintenance + query for the incremental BM25
    * retrieval index (ext.Retrieval). `--init` bootstraps `--store`
    * from the full corpus at `--docs` (refused if the store exists —
    * appending a full corpus onto live stores would double-count
    * nothing but re-tokenize everything); without it, `--docs` is a
    * DELTA appended to the stores (the old corpus is never
    * re-tokenized). `--query "terms"` ranks from the stores alone —
    * the corpus is not read — with `--k` results (default 10) to
    * stdout or `--out`. `--drift-stats` prints the s26 lexical drift
    * advisory from the store's own statistics (growth/avgdl ratios,
    * df-fraction and OOV-mass shifts vs the init-time baseline);
    * `--drift --docs <pq>` is its corpus-scan twin.
    */
  private def indexCmd(spark: SparkSession,
                       opts: Map[String, String]): String = {
    val store = required(opts, "store")
    // recover-then-probe (ext.Retrieval.indexExists): a raw
    // FileSystem.exists after a crash-interrupted --rebuild swap would
    // report "no index store" for a store one rename away from live
    def storeExists: Boolean =
      graft.ext.Retrieval.indexExists(spark, store)
    // store lifecycle maintenance: `--delete --doc-ids "1,2"` appends
    // tombstone facts (queries and the store-rebuilt model exclude
    // the docs immediately — N, avgdl, df all drop them); `--compact`
    // physically rewrites postings + lengths as the folded
    // tombstone-free row sets (result-invisible)
    val deleting = boolFlag(opts, "delete")
    val compacting = boolFlag(opts, "compact")
    if (deleting && compacting)
      throw CliError("--delete and --compact are exclusive")
    if ((deleting || compacting) && (opts.contains("query") ||
        opts.contains("docs") || opts.contains("init")))
      throw CliError("--delete/--compact is a standalone maintenance " +
        "step (no --docs/--init/--query)")
    if (opts.contains("doc_ids") && !deleting)
      throw CliError("--doc-ids is a --delete option")
    // `--rebuild`: the atomic re-init — what a tripped --drift-stats
    // advisory runs; readers serve the OLD store until the swap
    if (boolFlag(opts, "rebuild")) {
      if (deleting || compacting || opts.contains("query") ||
          boolFlag(opts, "init") || boolFlag(opts, "drift") ||
          boolFlag(opts, "drift_stats"))
        throw CliError("--rebuild is a standalone maintenance step " +
          "(no --init/--query/--drift/--delete/--compact)")
      if (!storeExists)
        throw CliError(s"no index store at $store " +
          "(bootstrap with --init; --rebuild replaces a live store)")
      val docs = readDocs(spark, required(opts, "docs"))
      graft.ext.Retrieval.rebuildIndex(
        docs.select("doc_id", "text"), store)
      val n = graft.ext.Retrieval.indexedCount(spark, store)
      return s"rebuilt $store atomically: $n documents indexed " +
        "(readers served the old store until the swap)"
    }
    // from the persisted stores (no corpus argument, no corpus scan);
    // `--drift --docs <pq>`: the corpus-scan twin over an external
    // corpus. Tolerances: --tol-df/--tol-oov/--tol-dl.
    val drift = boolFlag(opts, "drift")
    val driftStats = boolFlag(opts, "drift_stats")
    if (drift && driftStats)
      throw CliError("--drift and --drift-stats are exclusive " +
        "(corpus-scan OR store-fed)")
    if ((drift || driftStats) && (deleting || compacting ||
        opts.contains("query") || opts.contains("init")))
      throw CliError("--drift/--drift-stats is a standalone report " +
        "(no --init/--query/--delete/--compact)")
    if (driftStats && opts.contains("docs"))
      throw CliError("--drift-stats reads the store's own statistics " +
        "— drop --docs (or use --drift to scan a corpus)")
    if (drift || driftStats) {
      if (!storeExists)
        throw CliError(s"no index store at $store (run --init first)")
      val tolDf = doubleOpt(opts, "tol_df", 0.02)
      val tolOov = doubleOpt(opts, "tol_oov", 0.01)
      val tolDl = doubleOpt(opts, "tol_dl", 0.05)
      for ((n, v) <- Seq("tol-df" -> tolDf, "tol-oov" -> tolOov,
          "tol-dl" -> tolDl))
        if (v <= 0.0) throw CliError(s"--$n must be positive, got $v")
      val report =
        if (driftStats)
          graft.ext.Retrieval.lexDriftReportFromIndex(spark, store,
            tolDf, tolOov, tolDl)
        else
          graft.ext.Retrieval.lexDriftReportScan(
            readDocs(spark, required(opts, "docs")), store,
            tolDf, tolOov, tolDl)
      val r = report.collect()(0)
      val src = if (driftStats) "store-fed" else "corpus-scan"
      val verdict =
        if (r.getAs[Boolean]("stale"))
          "STALE — rebaseline advised (rebuild the index, then re-drain)"
        else "fresh"
      return s"lexical drift report for $store ($src):\n" +
        f"  n_base=${r.getAs[Long]("n_base")}%d " +
        f"n_current=${r.getAs[Long]("n_current")}%d " +
        f"n_ratio=${r.getAs[Double]("n_ratio")}%.6f\n" +
        f"  avgdl_ratio=${r.getAs[Double]("avgdl_ratio")}%.6f " +
        f"df_shift=${r.getAs[Double]("df_shift")}%.6f " +
        f"oov_shift=${r.getAs[Double]("oov_shift")}%.6f\n" +
        s"  $verdict"
    }
    if (deleting) {
      if (!storeExists)
        throw CliError(s"no index store at $store (run --init first)")
      val parsed = required(opts, "doc_ids").split(",").map(_.trim)
        .filter(_.nonEmpty)
      if (parsed.isEmpty)
        throw CliError("--doc-ids must name at least one doc_id")
      val docIds = parsed.map(s => s.toLongOption.getOrElse(
        throw CliError(s"--doc-ids must be integers, got '$s'"))).toSeq
      graft.ext.Retrieval.deleteFromIndex(spark, store, docIds)
      return s"tombstoned ${docIds.distinct.size} docs in $store " +
        "(queries exclude them now; --compact drops the dead rows)"
    }
    if (compacting) {
      if (!storeExists)
        throw CliError(s"no index store at $store (run --init first)")
      val r = graft.ext.Retrieval.compactIndex(spark, store)
      return s"compacted $store: postings ${r.postingsBefore} -> " +
        s"${r.postingsAfter} rows, ${r.filesBefore} -> " +
        s"${r.filesAfter} files"
    }
    opts.get("query") match {
      case Some(q) =>
        // refuse the mixed form: silently skipping the update half of
        // "index --docs delta --query ..." would rank against a stale
        // store with no warning
        if (opts.contains("docs") || opts.contains("init"))
          throw CliError("--query cannot combine with --docs/--init " +
            "(update the store first, then query)")
        val terms = q.split("\\s+").filter(_.nonEmpty).toSeq
        if (terms.isEmpty) throw CliError("--query must name at least one term")
        if (!storeExists)
          throw CliError(s"no index store at $store (run --init first)")
        val k = intOpt(opts, "k", 10)
        if (k < 1) throw CliError(s"--k must be positive, got $k")
        val hits = graft.ext.Retrieval.queryIndex(spark, store, terms, k)
        opts.get("out") match {
          case Some(out) =>
            hits.write.mode("overwrite").parquet(out)
            s"${spark.read.parquet(out).count()} hits -> $out"
          case None =>
            hits.collect().map(r =>
              f"${r.getLong(0)}%12d  ${r.getLong(1)}%2d  ${r.getDouble(2)}%9.4f")
              .mkString(s"      doc_id  terms     score\n", "\n", "")
        }
      case None =>
        val docsPath = required(opts, "docs")
        val docs = spark.read.parquet(docsPath)
        if (!docs.columns.contains("doc_id") ||
            !docs.columns.contains("text"))
          throw CliError(s"--docs needs doc_id and text columns, " +
            s"found ${docs.columns.mkString(",")}")
        if (boolFlag(opts, "init")) {
          if (storeExists)
            throw CliError(s"index store already exists at $store " +
              "(drop it or update without --init)")
          graft.ext.Retrieval.updateIndex(docs, store)
          val n = graft.ext.Retrieval.indexedCount(spark, store)
          s"initialized $store: $n documents indexed"
        } else {
          if (!storeExists)
            throw CliError(s"no index store at $store (run --init first)")
          graft.ext.Retrieval.updateIndex(docs, store)
          val n = graft.ext.Retrieval.indexedCount(spark, store)
          s"updated $store: $n documents indexed"
        }
    }
  }

  /** `zonemap` — [EXT] maintenance: build or incrementally refresh the
    * per-table `_zonemap` sidecars (engine.ZoneMap) for a session's
    * tables, over `--cols a,b`. `--rebuild` forces a from-scratch
    * build; the default is the O(delta) [[graft.engine.ZoneMap.update]]
    * (new files' footers only, deleted files dropped).
    */
  private def zonemapCmd(spark: SparkSession,
                         opts: Map[String, String]): String = {
    val destRoot = required(opts, "dest_root")
    val sessionName = required(opts, "session_name")
    val cols = required(opts, "cols").split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq
    if (cols.isEmpty) throw CliError("--cols must name at least one column")
    val tables: Seq[String] =
      if (opts.contains("tables"))
        opts("tables").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else {
        val session = new org.apache.hadoop.fs.Path(s"$destRoot/$sessionName")
        val f = session.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!f.exists(session))
          throw CliError(s"no such session dir: $session")
        f.listStatus(session).filter(_.isDirectory)
          .map(_.getPath.getName).filterNot(_.startsWith("_")).toSeq.sorted
      }
    if (tables.isEmpty)
      throw CliError(s"nothing to index under $destRoot/$sessionName")
    val rebuild = boolFlag(opts, "rebuild")
    tables.map { t =>
      val dir = engine.Exporter.destPath(destRoot, sessionName, t)
      val target =
        if (rebuild) engine.ZoneMap.write(spark, dir, cols)
        else engine.ZoneMap.update(spark, dir, cols)
      val n = spark.read.parquet(target).count()
      s"$t: ${if (rebuild) "rebuilt" else "updated"} $target ($n entries)"
    }.mkString("\n")
  }

  /** `compact` — [EXT] maintenance: rewrite a session's (or one
    * table's) fragmented export dirs into ~target-mb files. No
    * reference equivalent (HBase compacts server-side; a file-based
    * destination needs it done here). `--zorder a,b` re-layouts the
    * rewrite along a Z-order curve over the named columns
    * (engine.Layout) so restore-side scans prune on any of them.
    */
  private def compactCmd(spark: SparkSession,
                         opts: Map[String, String]): String = {
    val destRoot = required(opts, "dest_root")
    val sessionName = required(opts, "session_name")
    val targetBytes =
      opts.get("target_mb").map(_.toLong).getOrElse(512L) << 20
    val zorderCols = opts.get("zorder").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val tables: Seq[String] =
      if (opts.contains("tables"))
        opts("tables").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else {
        val session = new org.apache.hadoop.fs.Path(s"$destRoot/$sessionName")
        val f = session.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!f.exists(session))
          throw CliError(s"no such session dir: $session")
        f.listStatus(session).filter(_.isDirectory)
          .map(_.getPath.getName).filterNot(_.startsWith("_")).toSeq.sorted
      }
    if (tables.isEmpty)
      throw CliError(s"nothing to compact under $destRoot/$sessionName")
    val lines = tables.map { t =>
      val r = engine.Compactor.compact(spark,
        engine.Exporter.destPath(destRoot, sessionName, t), targetBytes,
        zorderCols)
      if (r.compacted)
        s"$t: compacted ${r.filesBefore} -> ${r.filesAfter} files " +
          s"(rows=${r.rows}, bytes=${r.bytes})"
      else s"$t: already compact (${r.filesAfter} files)"
    }
    lines.mkString("\n")
  }

  /** `export` — cli.rb:147-169. */
  private def exportCmd(spark: SparkSession, opts: Map[String, String],
                        nowMs: Long): String = {
    // cli.rb:150-154 — exact validation: --all and --tables are exclusive
    if (opts.contains("all") && opts.contains("tables"))
      throw CliError("Can only choose one of --all or --tables")
    val sourceDir = required(opts, "source_dir")
    val destRoot = required(opts, "dest_root")
    val tables: Seq[String] =
      if (opts.contains("all"))
        TableOps.listTables(spark, sourceDir).collect().toSeq
      else if (opts.contains("tables"))
        opts("tables").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      // cli.rb:163-167 — neither selection option is an error, not a default
      else throw CliError("Invalid option combination: need --all or --tables")
    val sessionName = opts.getOrElse("session_name", defaultSessionName(nowMs))
    val tsCol = opts.get("ts_col")
    // an explicit window without a timestamp column would be silently
    // ignored by the engine (full export) while the catalog records the
    // window as taken — corrupting later incremental planning
    if (tsCol.isEmpty &&
        (opts.contains("start_time") || opts.contains("end_time")))
      throw CliError(
        "--start-time/--end-time require --ts-col (the column to window on)")
    val startMs = opts.get("start_time").map(_.toLong).getOrElse(0L)
    // the default end bound is the hot-tail guard even WITHOUT a ts
    // column: the engine ignores the window then, but the value lands
    // in the catalog's end_time, which lastEndTimes/planIncremental
    // read back as the table's watermark. A full export taken at T
    // contains everything visible at T, so claiming T−guard is the
    // conservative truth — a MaxValue sentinel would poison every
    // later incremental into an empty window (start > end) forever.
    val endMs = opts.get("end_time").map(_.toLong)
      .getOrElse(nowMs - Incremental.HotTailGuardMs)
    val versions = intOpt(opts, "versions", 100000)
    val format = formatOpt(opts)
    val specs = tables.map { t =>
      ExportSpec(t, Tables.path(sourceDir, t), tsCol = tsCol,
        versions = versions, startMs = startMs, endMs = endMs,
        format = format)
    }
    val cat = new BackupCatalog(spark,
      opts.getOrElse("catalog_root", s"$destRoot/_catalog"))
    val runner = new BackupRunner(spark, cat,
      maxConcurrent = intOpt(opts, "max_jobs", 6))
    val summary = runner.exportAll(specs,
      opts.getOrElse("cluster_name", sourceDir), sessionName, destRoot,
      nowMs, specifiedStart = startMs, specifiedEnd = endMs)
    val lines = summary.outcomes.sortBy(_.table).map {
      case Exporter.Exported(t, rows, dest) => s"$t: exported rows=$rows dest=$dest"
      case Exporter.Empty(t) => s"$t: empty (no export job run)"
      case Exporter.Skipped(t) => s"$t: skipped (already recorded for $sessionName)"
      case Exporter.Failed(t, e) => s"$t: FAILED ${e.getMessage}"
    }
    (lines :+ s"session $sessionName: ${summary.outcomes.size} tables, " +
      s"${summary.failed.size} failed").mkString("\n")
  }

  /** `import` — cli.rb:257-264. */
  private def importCmd(spark: SparkSession, opts: Map[String, String],
                        nowMs: Long): String = {
    // cli.rb:259 — exact validation (reference raises MalformattedArgumentError)
    if (opts.contains("tables") && opts.contains("pattern"))
      throw CliError("Can not set both --tables and --pattern")
    val sourceRoot = required(opts, "source_root")
    val sessionName = required(opts, "session_name")
    val targetRoot = required(opts, "target_root")
    val exportCat = new BackupCatalog(spark,
      opts.getOrElse("catalog_root", s"$sourceRoot/_catalog"))
    val requested: Seq[String] =
      if (opts.contains("tables"))
        opts("tables").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else {
        // no --tables: everything exported for the session, optionally
        // narrowed by the %-pattern (cli.rb long_desc; mysql.rb:274-288).
        // Empty exports wrote no data dir (the short-circuit) and error
        // rows have nothing restorable — selecting either would fail a
        // restore of a perfectly good backup.
        import spark.implicits._
        import org.apache.spark.sql.functions.col
        exportCat.listTableInfo("export", sessionName,
            opts.getOrElse("pattern", "%"))
          .filter(!col("error") && !col("empty"))
          .select("table_name").distinct().as[String].collect().toSeq.sorted
      }
    // a mistyped session/pattern must not masquerade as a successful
    // 0-table restore (the --tables path already hard-fails via
    // resolveRequested; this makes the pattern path equally loud)
    if (requested.isEmpty)
      throw CliError(s"nothing to restore: session '$sessionName'" +
        opts.get("pattern").fold("")(p => s" pattern '$p'") +
        " matches no restorable exported tables")
    val importCat = new BackupCatalog(spark,
      opts.getOrElse("import_catalog_root", s"$targetRoot/_catalog"))
    val runner = new BackupRunner(spark, importCat,
      maxConcurrent = intOpt(opts, "max_jobs", 6))
    val importSession = opts.getOrElse("import_session_name",
      defaultSessionName(nowMs))
    val outcomes = runner.importAll(exportCat, requested,
      opts.getOrElse("cluster_name", sourceRoot), sessionName, sourceRoot,
      targetRoot, nowMs, importSessionName = Some(importSession),
      format = formatOpt(opts))
    val lines = outcomes.sortBy(_.table).map {
      case graft.engine.Importer.Imported(t, rows, target) =>
        s"$t: imported rows=$rows target=$target"
      case graft.engine.Importer.Failed(t, e) => s"$t: FAILED ${e.getMessage}"
    }
    val nFailed = outcomes.count(_.isInstanceOf[graft.engine.Importer.Failed])
    (lines :+ s"import session $importSession: ${outcomes.size} tables, " +
      s"$nFailed failed").mkString("\n")
  }

  /** `db` — cli.rb:266-322: print each matching session's non-key
    * attributes; with --table-name, its table rows too. One collected
    * plan per relation instead of the reference's per-session query
    * loop (the N+1 CatalogOps.displayJoin fixes). `--diff-with S2`
    * ([EXT]) compares --session-name against S2 per table
    * (CatalogOps.sessionDiff) instead of leaving the eyeball diff of
    * two printed listings to the operator. `--purge-session S`
    * ([EXT]) takes a session DOWN: appends a purge fact (every
    * catalog read forgets the session immediately), then `--compact`
    * alongside it also drops the dead rows physically; `--mode`
    * picks the plane (default export). `--purge-data --dest-root R`
    * (r13) completes the takedown on the PAYLOAD plane: deletes
    * `R/<session>/` — the reference's export layout (export.rb:76) —
    * through a checked-rename stage (atomic namespace removal, then
    * recursive delete; crashed stages resume, replays no-op).
    */
  private def dbCmd(spark: SparkSession, opts: Map[String, String],
                    nowMs: Long): String = {
    val cat = new BackupCatalog(spark, required(opts, "catalog_root"))
    opts.get("purge_session").foreach { name =>
      if (name.contains("%"))
        throw CliError("--purge-session needs an exact session name, " +
          "not a pattern (takedowns are deliberate)")
      val mode = opts.getOrElse("mode", "export")
      if (mode != "export" && mode != "import")
        throw CliError(s"unknown --mode $mode (expected export|import)")
      if (opts.contains("session_name") || opts.contains("table_name") ||
          opts.contains("diff_with"))
        throw CliError("--purge-session is a standalone maintenance " +
          "step (no --session-name/--table-name/--diff-with)")
      // `--purge-data --dest-root R`: the payload plane of the
      // takedown — delete R/<session>/ (the reference export layout)
      // through the checked-rename stage; replays and crashed stages
      // resume harmlessly (engine.TableOps.purgeSessionData)
      val purgeData = boolFlag(opts, "purge_data")
      if (purgeData && mode != "export")
        throw CliError("--purge-data applies to export sessions (the " +
          "payload layout is <dest-root>/<session>/<table>); import " +
          "targets are restored tables the operator owns")
      if (purgeData && !opts.contains("dest_root"))
        throw CliError("--purge-data needs --dest-root (where the " +
          "session's export dirs live)")
      if (!purgeData && opts.contains("dest_root"))
        throw CliError("--dest-root is a --purge-data option")
      // a typo'd --dest-root must never delete an unrelated tree that
      // happens to contain a <session> subdir: the session row records
      // its real destination (mysql.rb:34) — cross-check BEFORE the
      // purge fact makes the catalog forget the row (r13 ADVICE).
      // FS-qualified comparison so `file:///r/`, `file:/r` and `/r`
      // all name the same root; a compacted-away replay (no session
      // row left) skips the check — the tree is already gone.
      if (purgeData) {
        def qualified(p: String): String = {
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .makeQualified(hp).toString
        }
        val supplied = required(opts, "dest_root")
        cat.sessions
          .filter(s => s.mode == "export" && s.session_name == name)
          .collect().headOption.map(_.dest_root)
          .filter(_.nonEmpty).foreach { recorded =>
            if (qualified(recorded) != qualified(supplied))
              throw CliError(s"--dest-root '$supplied' does not match " +
                s"session '$name''s recorded destination '$recorded' " +
                "— refusing the payload delete (pass the recorded root)")
          }
      }
      try cat.purgeSession(mode, name, nowMs)
      catch {
        case e: IllegalArgumentException => throw CliError(e.getMessage)
      }
      val dataNote =
        if (!purgeData) ""
        else if (graft.engine.TableOps.purgeSessionData(spark,
          required(opts, "dest_root"), name)) "; export payload deleted"
        else "; no export payload on disk (already gone)"
      val physical =
        if (boolFlag(opts, "compact")) { cat.compactAll(); " and rows dropped physically" }
        else " (rows drop physically at the next compaction)"
      return s"purged $mode session '$name'$physical$dataNote"
    }
    if (boolFlag(opts, "compact")) {
      cat.compactAll()
      return "catalog compacted (sessions/tables/descriptors folded)"
    }
    opts.get("diff_with").foreach { other =>
      val base = required(opts, "session_name")
      if (base.contains("%") || other.contains("%"))
        throw CliError("--diff-with needs two exact session names, " +
          "not patterns")
      val rows = catalog.CatalogOps
        .sessionDiff(cat.tables.toDF(), "export", base, other)
        .collect().sortBy(_.getAs[String]("table_name"))
      if (rows.isEmpty)
        return s"no export tables recorded for '$base' or '$other'"
      return rows.map { r =>
        def n(c: String) = Option(r.getAs[Any](c)).map(_.toString)
          .getOrElse("-")
        f"${r.getAs[String]("table_name")}%-12s ${n("rows_a")}%8s " +
          f"${n("rows_b")}%8s  ${r.getAs[String]("status")}"
      }.mkString(s"table        $base -> $other  status\n", "\n", "")
    }
    val sessionPattern = opts.getOrElse("session_name", "%")
    val sessions = cat.sessionInfo("export", sessionPattern)
      .collect().sortBy(_.getAs[String]("session_name"))
    val out = new StringBuilder
    sessions.foreach { s =>
      val attrs = s.schema.fieldNames
        .filterNot(Set("session_name")) // cli.rb:303 skips key columns
        .map(k => s"$k: ${s.getAs[Any](k)}").mkString(" ")
      out ++= s"${s.getAs[String]("session_name")}: $attrs\n"
      opts.get("table_name").foreach { tablePattern =>
        val tables = cat.listTableInfo("export",
            s.getAs[String]("session_name"), tablePattern)
          .collect().sortBy(_.getAs[String]("table_name"))
        tables.foreach { t =>
          val tAttrs = t.schema.fieldNames
            .filterNot(Set("table_name", "session_name"))
            .map(k => s"$k: ${t.getAs[Any](k)}").mkString(" ")
          out ++= s"  ${t.getAs[String]("table_name")}: $tAttrs\n"
        }
      }
    }
    if (out.isEmpty) s"no export sessions match '$sessionPattern'"
    else out.toString.stripLineEnd
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      .appName("graft-cli")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(run(spark, args.toSeq, System.currentTimeMillis()))
    catch {
      case CliError(msg) =>
        System.err.println(s"error: $msg")
        sys.exit(2)
    } finally spark.stop()
  }
}
