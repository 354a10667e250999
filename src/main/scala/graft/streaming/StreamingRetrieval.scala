package graft.streaming

import graft.ext.Retrieval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Incremental BM25 index maintenance as a Structured Streaming job —
  * the retrieval twin of [[StreamingDedup]]: a checkpointed parquet
  * file source over the corpus directory, drained with
  * `Trigger.AvailableNow`, each micro-batch tokenized ONCE and
  * appended to the postings/lengths stores by
  * [[graft.ext.Retrieval.updateIndex]].
  *
  * Why this shape at 100 TB: the file-source checkpoint is the delta
  * tracker (new corpus files only — the existing corpus is never
  * re-tokenized); `maxFilesPerTrigger` bounds per-batch memory; the
  * stores are append-only sets of facts that fold at read, so
  * at-least-once replays are harmless ([[StreamingDedup]]'s
  * idempotence contract). A model built from the stores
  * ([[graft.ext.Retrieval.modelFromIndex]]) is bit-identical to the
  * batch [[graft.ext.Retrieval.bm25Model]] over the same corpus
  * (spec-pinned), so scoring deploys unchanged whether the index was
  * built in one pass or grown drain by drain.
  */
object StreamingRetrieval {

  /** One maintenance drain: tokenize and index every corpus file not
    * yet in the checkpoint. The first drain over an empty store is
    * the bootstrap. Returns the indexed document count.
    */
  def maintainStream(spark: SparkSession, docsPath: String,
                     indexStore: String, checkpointDir: String): Long = {
    val peek = spark.read.parquet(docsPath)
    val src = spark.readStream
      .schema(peek.schema)
      .option("maxFilesPerTrigger", "8")
      .parquet(docsPath)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Retrieval.updateIndex(batch, indexStore)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Retrieval.indexedCount(spark, indexStore)
  }
}
