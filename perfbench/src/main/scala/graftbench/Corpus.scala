package graftbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generates the benchmark corpus: the ten tables graft's query surface
  * reads (`graft.Tables.names`), with the schemas, row counts and value
  * ranges of the repository's sf0.1 test corpus (TPC-H-like star schema,
  * an `events` stream, a `documents` text table and 64-d `embeddings`).
  *
  * Every value is a pure function of its row id and a fixed salt, so the
  * corpus is bit-identical on every run and every host: the golden
  * fingerprints in `golden.json` are taken over it. The run seed never
  * touches the base corpus; it only drives the deltas, the op order and
  * the request stream layered on top.
  *
  * Each table is written as one parquet file, like the test corpus, so a
  * scan of it has the same split count.
  */
object Corpus {
  val Salt = 42L

  /** Row counts at sf0.1. */
  val Rows: Seq[(String, Long)] = Seq(
    "region" -> 5L, "nation" -> 25L, "customer" -> 15000L,
    "supplier" -> 1000L, "part" -> 20000L, "orders" -> 150000L,
    "lineitem" -> 600000L, "events" -> 100000L, "documents" -> 5000L,
    "embeddings" -> 2000L)

  val Vocabulary: Seq[String] = Seq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  val Dim = 64

  /** Events start here (2024-01-01T00:00:00Z) and span 30 days. */
  val EventsStartUs: Long = 1704067200000000L
  val EventsSpanUs: Long = 30L * 86400L * 1000000L

  private def h(id: Column, k: Int): Column =
    xxhash64(id, lit(Salt * 1000 + k))

  /** Uniform integer in [0, n). */
  private def ri(id: Column, k: Int, n: Long): Column = pmod(h(id, k), lit(n))

  /** Uniform double in [0, 1). */
  private def u(id: Column, k: Int): Column =
    pmod(h(id, k), lit(1L << 53)).cast("double") / lit((1L << 53).toDouble)

  private def pick(id: Column, k: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (ri(id, k, values.size.toLong) + 1).cast("int"))

  private def money(x: Column): Column = round(x, 2)

  /** A day offset from `startDay` (UTC midnight) as TIMESTAMP_NTZ. */
  private def dayNtz(startDay: String, days: Column): Column =
    date_add(to_date(lit(startDay)), days.cast("int"))
      .cast("timestamp_ntz")

  private def microsNtz(us: Column): Column =
    timestamp_micros(us).cast("timestamp_ntz")

  def table(spark: SparkSession, name: String, n: Long): DataFrame = {
    val id = col("id")
    val base = spark.range(0, n, 1, 1).toDF()
    name match {
      case "region" =>
        base.select(id.cast("int").as("r_regionkey"),
          element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
            "MIDDLE EAST").map(lit): _*), (id + 1).cast("int")).as("r_name"))
      case "nation" =>
        base.select(id.cast("int").as("n_nationkey"),
          concat(lit("NATION_"), id.cast("string")).as("n_name"),
          (id % 5).cast("int").as("n_regionkey"))
      case "customer" =>
        base.select(id.as("c_custkey"),
          format_string("Customer#%09d", id).as("c_name"),
          ri(id, 1, 25).cast("int").as("c_nationkey"),
          money(lit(-999.99) + u(id, 2) * 10999.79).as("c_acctbal"),
          pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
            "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
      case "supplier" =>
        base.select(id.as("s_suppkey"),
          format_string("Supplier#%09d", id).as("s_name"),
          ri(id, 1, 25).cast("int").as("s_nationkey"),
          money(lit(-999.99) + u(id, 2) * 10999.79).as("s_acctbal"))
      case "part" =>
        base.select(id.as("p_partkey"),
          concat_ws(" ",
            pick(id, 1, Seq("blue", "red", "hot", "new", "small", "large",
              "green", "old", "shiny", "cold", "dark", "light", "big")),
            pick(id, 2, Seq("anvil", "bolt", "ring", "rod", "plate")))
            .as("p_name"),
          concat(lit("Brand#"), (ri(id, 3, 25) + 1).cast("string"))
            .as("p_brand"),
          pick(id, 4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
            "STANDARD")).as("p_type"),
          (ri(id, 5, 50) + 1).cast("int").as("p_size"),
          round(lit(900.0) + ri(id, 6, 1000).cast("double") / 10.0, 1)
            .as("p_retailprice"))
      case "orders" =>
        base.select(id.as("o_orderkey"),
          ri(id, 1, 15000).as("o_custkey"),
          pick(id, 2, Seq("F", "O", "P")).as("o_orderstatus"),
          money(lit(1000.0) + u(id, 3) * 499000.0).as("o_totalprice"),
          dayNtz("1995-01-01", ri(id, 4, 2404)).as("o_orderdate"),
          pick(id, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
            "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
      case "lineitem" =>
        base.select(ri(id, 1, 150000).as("l_orderkey"),
          ri(id, 2, 20000).as("l_partkey"),
          ri(id, 3, 1000).as("l_suppkey"),
          (ri(id, 4, 7) + 1).cast("int").as("l_linenumber"),
          (ri(id, 5, 50) + 1).cast("double").as("l_quantity"),
          money(lit(900.0) + u(id, 6) * 104099.0).as("l_extendedprice"),
          (ri(id, 7, 11).cast("double") / 100.0).as("l_discount"),
          (ri(id, 8, 9).cast("double") / 100.0).as("l_tax"),
          pick(id, 9, Seq("A", "N", "R")).as("l_returnflag"),
          pick(id, 10, Seq("F", "O")).as("l_linestatus"),
          dayNtz("1995-01-02", ri(id, 11, 2499)).as("l_shipdate"))
      case "events" => events(base, EventsStartUs, EventsSpanUs / n, 0L)
      case "documents" =>
        // ~5% of documents carry the rare `dup` token; every 625th is an
        // exact copy of its predecessor and every 50th a one-word edit
        // of it, so the dedup operators have something to find.
        val src = when(id % 625 === 624 || id % 50 === 25, id - 1)
          .otherwise(id)
        val words = (ri(src, 1, 89) + 8).cast("int")
        val vocab = array(Vocabulary.map(lit): _*)
        val text0 = array_join(transform(sequence(lit(0), words - 1),
          i => element_at(vocab,
            (pmod(xxhash64(src, i, lit(Salt)), lit(Vocabulary.size.toLong))
              + 1).cast("int"))), " ")
        val text1 = when(src % 20 === 7, concat(text0, lit(" dup")))
          .otherwise(text0)
        val text = when(id % 50 === 25,
          concat(lit("fresh "), text1)).otherwise(text1)
        base.select(id.as("doc_id"), text.as("text"),
          pick(id, 2, Seq("de", "en", "es", "fr", "zh")).as("lang"),
          concat(lit("src"), (id % 20).cast("string")).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        // isotropic: each component a sum of three uniforms, then the
        // vector is L2-normalized
        val raw = array((0 until Dim).map { j =>
          u(id, 100 + 3 * j) + u(id, 101 + 3 * j) + u(id, 102 + 3 * j) -
            lit(1.5)
        }: _*)
        base.select(id.as("vec_id"), raw.as("raw"),
            ri(id, 1, 10).cast("int").as("label"))
          .select(col("vec_id"),
            transform(col("raw"), x => (x / sqrt(aggregate(col("raw"),
              lit(0.0), (acc, y) => acc + y * y))).cast("float"))
              .as("embedding"),
            col("label"))
      case other =>
        throw new IllegalArgumentException(s"unknown table $other")
    }
  }

  /** Events rows `id` (a `range` frame): one every `stepUs` from
    * `startUs` with up to one step of jitter, so `ts` grows with
    * `event_id`. `idOffset` shifts the ids (deltas use fresh ids).
    */
  def events(base: DataFrame, startUs: Long, stepUs: Long,
             idOffset: Long): DataFrame = {
    val id = col("id")
    base.select((id + idOffset).as("event_id"),
      microsNtz(lit(startUs) + id * stepUs + ri(id + idOffset, 1, stepUs))
        .as("ts"),
      ri(id + idOffset, 2, 1500).as("user_id"),
      pick(id + idOffset, 3, Seq("click", "error", "purchase", "signup",
        "view")).as("event_type"),
      money(-log(lit(1.0) - u(id + idOffset, 4)) * 50.0).as("value"),
      format_string("{\"k\": %d}", ri(id + idOffset, 5, 100)).as("props"))
  }

  def generate(spark: SparkSession, dir: String, rec: Recorder): Unit =
    Rows.foreach { case (name, n) =>
      rec.span(s"generate $name", "setup.generate") {
        table(spark, name, n).coalesce(1).write.mode("overwrite")
          .parquet(graft.Tables.path(dir, name))
      }
    }

  /** Marks a complete cached corpus. */
  val Complete = "_COMPLETE"

  /** Moves a generated corpus into `cacheDir`; if another run published
    * one first, that copy stands.
    */
  def publish(fresh: File, cacheDir: File): Unit = {
    new File(fresh, Complete).createNewFile()
    cacheDir.getParentFile.mkdirs()
    if (!fresh.renameTo(cacheDir) && !new File(cacheDir, Complete).isFile)
      throw new IllegalStateException(s"could not publish $cacheDir")
  }

  /** Copies `tables` of the corpus at `from` into `to`. */
  def copy(from: String, to: String, tables: Seq[String]): Unit =
    tables.foreach { t =>
      val src = new File(graft.Tables.path(from, t)).toPath
      val dst = new File(graft.Tables.path(to, t)).toPath
      Files.createDirectories(dst)
      Option(src.toFile.listFiles()).toSeq.flatten.filter(_.isFile)
        .foreach(f => Files.copy(f.toPath, dst.resolve(f.getName)))
    }
}
