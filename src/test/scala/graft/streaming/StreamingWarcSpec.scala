package graft.streaming

import graft.{SparkTestBase, Tables}
import graft.ext.{Html, Warc}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

/** Streaming twins of the crawl plane (wa01–wa07): the WARC walks and
  * the HTML extraction are stateless narrow maps, so they must run
  * UNCHANGED on a stream of archives, indifferent to batch
  * boundaries — the shape a live crawl drain takes (archives land as
  * files; an AvailableNow drain walks only the new ones).
  */
class StreamingWarcSpec extends SparkTestBase {

  private def stage(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = tmpDir("sw-stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(dir, name))
  }

  private val archiveSchema = StructType(Seq(
    StructField("archive_id", LongType),
    StructField("payload", BinaryType)))

  private def stagedArchiveStream(archives: DataFrame): DataFrame = {
    val srcDir = tmpDir("warc-stream-src")
    stage(archives.filter(col("archive_id") % 2 === 0), srcDir,
      "even.parquet")
    stage(archives.filter(col("archive_id") % 2 === 1), srcDir,
      "odd.parquet")
    spark.readStream.schema(archiveSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
  }

  test("gz record walk: stateless streaming map; drain == batch " +
    "facts bit for bit") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val archives = Warc.asWarcGzArchives(spark, docs)
    val stream = stagedArchiveStream(archives)
    val facts = Warc.recordFactsGz(spark, stream).toDF()
    assert(facts.isStreaming,
      "the gz walk must stay a stateless streaming transform")
    StreamingOps.runToCompletion(facts, "warc_facts_stream",
      OutputMode.Append())
    val streamed = spark.table("warc_facts_stream").collect()
      .map(_.toSeq).toSet
    val batch = Warc.recordFactsGz(spark, archives).toDF().collect()
      .map(_.toSeq).toSet
    assert(streamed == batch,
      "streamed gz walk diverged from the batch walk")
  }

  test("page analysis plane: metaFacts and blockFactsDf stream " +
    "statelessly; drain == batch bit for bit") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val pages = Html.asHtmlPages(spark, docs)
    val srcDir = tmpDir("pages-stream-src")
    stage(pages.filter(col("doc_id") % 2 === 0), srcDir, "a.parquet")
    stage(pages.filter(col("doc_id") % 2 === 1), srcDir, "b.parquet")
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("html",
        org.apache.spark.sql.types.StringType)))
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    for ((name, fn) <- Seq[(String,
      org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "meta" -> (df => Html.metaFacts(spark, df)),
      "blocks" -> (df => Html.blockFactsDf(spark, df)))) {
      val out = fn(stream())
      assert(out.isStreaming, s"$name must stream statelessly")
      StreamingOps.runToCompletion(out, s"pages_${name}_stream",
        OutputMode.Append())
      val streamed = spark.table(s"pages_${name}_stream").collect()
        .map(_.toSeq).toSet
      val batch = fn(pages).collect().map(_.toSeq).toSet
      assert(streamed == batch, s"$name drain diverged from batch")
    }
  }

  test("crawl extraction chain: httpTextsGz + extractText stream " +
    "statelessly; drain == the batch wa07 facts") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val archives = Warc.asHtmlWarcGzArchives(spark, docs)
    def chain(a: DataFrame): DataFrame =
      Warc.httpTextsGz(spark, a)
        .filter(col("http_status") === 200 &&
          col("http_content_type") === Warc.HttpHtmlCt)
        .select(regexp_extract(col("target_uri"), "(\\d+)$", 1)
          .cast("long").as("doc_id"), col("text").as("page"))
        .as[(Long, String)]
        .map { case (id, page) =>
          (id, Html.extractText(page))
        }.toDF("doc_id", "extracted")
    val out = chain(stagedArchiveStream(archives))
    assert(out.isStreaming,
      "the extraction chain must stay a stateless streaming transform")
    StreamingOps.runToCompletion(out, "crawl_extract_stream",
      OutputMode.Append())
    val streamed = spark.table("crawl_extract_stream").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = chain(archives).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch,
      "streamed extraction diverged from the batch chain")
    assert(streamed.nonEmpty && streamed.size < 500,
      "the 404 gate vanished in the streaming chain")
  }
}
