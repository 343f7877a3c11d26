package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The everything-on streaming ingest fixture: every gate
  * [[streaming.Realtime.streamIngestPipeline]] offers, over the sf0.01
  * decontamination split. Shared by RealtimeSpec's everything-on tests
  * and [[StreamBatchProbe]]. */
object EverythingOnStream {

  val dir = "/root/testdata/sf0.01"

  /** A store holding the pre-split corpus (docs + signature index), the
    * benchmark signatures and vectors, the span-df store, the
    * detected-language calibration snapshot and the language-ID model;
    * and the ingest batch (doc_id, text, embedding) — PRODUCTION SHAPE:
    * no lang column. */
  def fixture(spark: SparkSession, prefix: String)
      : (graft.sources.ParquetStore, DataFrame) = {
    import graft.operators.{Dedup, LangId, QualityCal}
    import graft.functions.GraftFunctions
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val docsRaw = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val existing = docsRaw.filter(col("doc_id") < Queries.incrementalSplit)
    val batch = docsRaw
      .filter(col("doc_id") >= Queries.incrementalSplit &&
        col("doc_id") < Queries.decontamNearDupSplit)
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
    val benchDocs = docsRaw.filter(
      col("doc_id") >= Queries.decontamNearDupSplit)
    val model = Queries.langIdModel(spark, dir)
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir(prefix + "store_"))
    store.merge("docs", existing, "doc_id")
    Dedup.buildNearDupStore(store, "sigs", existing, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    Dedup.buildNearDupStore(store, "bench_sigs", benchDocs, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    store.merge("bench_vecs",
      emb.filter(col("vec_id") >= Queries.decontamNearDupSplit)
        .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
    Dedup.buildSpanDfStore(store, "span_df", docsRaw, "doc_id", "text",
      spanTokens = Queries.spanDedupTokens)
    QualityCal.buildPercentileStore(store, "quality_cdf",
      GraftFunctions.withDetectedLanguage(docsRaw, "text",
        scorer = LangId.scorer(model)),
      "lang", "text", snapshot = "corpus-v1")
    LangId.saveModel(store, "langid_model", model)
    (store, batch)
  }

  /** Appends `batch` as one file to the source directory `src`. */
  def deliver(batch: DataFrame, src: String): Unit =
    batch.coalesce(1).write.mode("append").parquet(src)

  /** Starts the everything-on pipeline, with the audit on, over the
    * parquet files in `src`; each start ingests the files not yet
    * committed under the checkpoint `cp` as one micro-batch. */
  def start(spark: SparkSession, store: graft.sources.ParquetStore,
      src: String, cp: String): StreamingQuery =
    streaming.Realtime.streamIngestPipeline(store, "docs", "sigs",
      spark.readStream
        .schema("doc_id LONG, text STRING, embedding ARRAY<FLOAT>")
        .parquet(src),
      "doc_id", "text", cp,
      stages = Seq(streaming.Realtime.ExactDedup,
        streaming.Realtime.Blocklist(Queries.blocklistTerms),
        streaming.Realtime.BoilerplateGate("span_df",
          spanTokens = Queries.spanDedupTokens,
          minDocs = Queries.boilerplateMinDocs),
        streaming.Realtime.PercentileGate("quality_cdf",
          Queries.ingestGatePct, expectSnapshot = Some("corpus-v1")),
        streaming.Realtime.DecontamGate("bench_sigs"),
        streaming.Realtime.SemanticGate("bench_vecs",
          "embedding", dim = 64, threshold = Queries.decontamSemThreshold,
          bits = Queries.decontamSemBits, bands = Queries.decontamSemBands),
        streaming.Realtime.NearDedup),
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
      threshold = Queries.minHashThreshold,
      langIdGate = Some(streaming.Realtime.LangIdGate("langid_model")),
      auditTable = Some("audit"))
}
