package graft.operators

import graft.functions.GraftFunctions._
import graft.providers.EmbeddingProvider
import graft.types._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}

import scala.jdk.CollectionConverters._

/** The embedding-maintenance pipeline: delta detection → input
  * rendering → token batching → provider calls → upsert rows.
  *
  * Re-expresses the reference's trigger/queue/worker machinery
  * (SURVEY §2.9, §3.1) as declarative DataFrame transforms + one
  * `mapPartitions` at the genuine imperative boundary (the provider
  * HTTP call). Every step is shuffle-bounded on the job's primary key
  * and collects nothing to the driver, so the same plan runs at
  * 100 TB: delta scan is a pkey equi-join (AQE-skew-safe), rendering
  * and embedding are narrow per-partition maps, and the final upsert
  * is a single key-shuffle MERGE. A batch that is on the driver
  * already (a local relation) stays there: [[embed]] runs its body on
  * the driver.
  */
object Pipeline {

  val embeddingSchema: StructType = StructType(Seq(
    StructField("pkey", StringType, nullable = false),
    StructField("embeddings", ArrayType(FloatType, containsNull = false)),
    StructField("updated_at", TimestampType)
  ))

  val tokenSchema: StructType = StructType(Seq(
    StructField("pkey", StringType, nullable = false),
    StructField("search_tokens", ArrayType(StringType, containsNull = false)),
    // per-lexeme tsvector position counts, aligned with search_tokens
    // (the compact form exact OR ts_rank_cd needs — see TextAnalyzer)
    StructField("search_token_counts", ArrayType(IntegerType, containsNull = false)),
    StructField("updated_at", TimestampType)
  ))

  /** S1 — delta scan (core/src/query.rs:556-596): rows lacking
    * embeddings or updated since their embedding. `emb` is the job's
    * served (pkey, updated_at) frame under either table method. One
    * left_outer join on pkey + null/watermark filter (Catalyst plans
    * a single shuffle; at scale this is the idiomatic incremental
    * scan — compare Delta CDF).
    */
  def deltaScanJoin(src: DataFrame, emb: DataFrame, pk: String,
      updateCol: Option[String]): DataFrame = {
    val e = emb.select(
      col("pkey").as("__emb_pkey"),
      col("updated_at").as("__emb_updated_at"))
    val joined = src.join(e, src(pk).cast("string") === col("__emb_pkey"), "left_outer")
    val stale: Column = updateCol match {
      case Some(u) =>
        col("__emb_pkey").isNull ||
          src(u) > coalesce(col("__emb_updated_at"), to_timestamp(lit("0001-01-01")))
      case None => col("__emb_pkey").isNull
    }
    joined.filter(stale).select(src.columns.map(src(_)).toIndexedSeq: _*)
  }

  /** S4 — render rows into embed inputs: pkey as text + concatenated
    * text columns + token estimate (core/src/query.rs:598-626).
    * `variant` selects among the reference's three intentionally
    * different concat styles (P1 space / P2 csv / P3 labeled).
    */
  def renderInputs(src: DataFrame, pk: String, textCols: Seq[String],
      variant: String = "labeled"): DataFrame = {
    val cols = textCols.map(col)
    val text = variant match {
      case "space" => concatCols(cols)
      case "csv" => concatColsCsv(cols)
      case _ => concatColsLabeled(textCols, cols)
    }
    src.select(
      col(pk).cast("string").as("record_id"),
      trimInputs(text).as("text"))
      .withColumn("token_estimate", tokenEstimate(col("text")))
  }

  /** R4 — greedy token-budget batching (core/src/query.rs:630-651):
    * pack consecutive inputs until the batch exceeds `batchSize`
    * tokens; one oversized input still forms its own batch. Runs
    * per-partition (each Spark partition is the unit of provider
    * batching, replacing the reference's queue messages); the fold is
    * order-dependent so we keep the partition's row order.
    * Returns (batch_index_within_partition, record_ids).
    */
  def createBatches(inputs: Seq[EmbedInput], batchSize: Int): Seq[Seq[EmbedInput]] =
    createBatchesIter(inputs.iterator, batchSize).toSeq

  /** Incremental form of [[createBatches]]: consumes the partition
    * iterator lazily so executor memory holds ONE batch at a time,
    * not the whole partition (a skewed multi-GB partition of rendered
    * text would otherwise be buffered strictly before batching).
    */
  def createBatchesIter(inputs: Iterator[EmbedInput], batchSize: Int): Iterator[Seq[EmbedInput]] =
    new Iterator[Seq[EmbedInput]] {
      private val buf = inputs.buffered
      override def hasNext: Boolean = buf.hasNext
      override def next(): Seq[EmbedInput] = {
        val cur = scala.collection.mutable.ArrayBuffer.empty[EmbedInput]
        var curTokens = 0
        while (buf.hasNext &&
            (cur.isEmpty || curTokens + buf.head.tokenEstimate <= batchSize)) {
          val in = buf.next()
          cur += in
          curTokens += in.tokenEstimate
        }
        cur.toSeq
      }
    }

  /** R3 — `vectorize.batch_texts(record_ids, batch_size)`
    * (core/src/query.rs:504-537, pg_extern dup
    * extension/src/executor.rs:16-39): fixed-COUNT batching of record
    * ids with the reference's edge cases — batch_size <= 0 or total
    * <= batch_size yields one batch of everything.
    */
  def batchTexts(recordIds: Seq[String], batchSize: Int): Seq[Seq[String]] =
    if (batchSize <= 0 || recordIds.isEmpty || recordIds.size <= batchSize)
      Seq(recordIds)
    else recordIds.grouped(batchSize).toSeq

  /** Embed a rendered-inputs frame (record_id, text, token_estimate) →
    * (pkey, embeddings, updated_at). The provider call happens inside
    * `mapPartitions` — the one imperative boundary — with the
    * reference's token-budget batching (10k default) applied within
    * each partition and the provider applying its own 2048-input
    * request chunking. Positional zip of inputs↔outputs mirrors
    * merge_input_output (core/src/transformers/http_handler.rs:22-31).
    * Inputs whose plan is a local relation (a small batch collected to
    * the driver) and that make one provider request are embedded on
    * the driver by the same body, now, into a frame over a local
    * relation: no Spark job. Split into tasks, one request's inputs
    * would cost one request's latency in each task, so the driver
    * loses no parallelism; local inputs that make several requests
    * are embedded in tasks, which send them side by side.
    */
  def embed(inputs: DataFrame, provider: EmbeddingProvider, model: String,
      tokenBudget: Int = 10000): DataFrame = {
    val spark = inputs.sparkSession
    val rendered = inputs.select("record_id", "text", "token_estimate")
    GraftColumnBridge.localRelation(rendered).map(_ => rendered.collect()) match {
      case Some(rows) if rows.length <= 1 || rows.map(_.getInt(2).toLong).sum <= tokenBudget =>
        spark.createDataFrame(
          embedRows(rows.iterator, provider, model, tokenBudget).toSeq.asJava, embeddingSchema)
      case _ => spark.createDataFrame(
        rendered.rdd.mapPartitions(embedRows(_, provider, model, tokenBudget)), embeddingSchema)
    }
  }

  /** One partition's embedding rows: its inputs in token-budget batches,
    * one provider call per batch. */
  private def embedRows(it: Iterator[Row], provider: EmbeddingProvider, model: String,
      tokenBudget: Int): Iterator[Row] = {
    val rows = it.map(r => EmbedInput(r.getString(0), r.getString(1), r.getInt(2)))
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    createBatchesIter(rows, tokenBudget).flatMap { batch =>
      val vecs = provider.generateEmbeddings(model, batch.map(_.text))
      require(vecs.size == batch.size, "provider output size mismatch")
      batch.zip(vecs).map { case (in, v) => Row(in.recordId, v.toSeq, now) }
    }
  }

  /** S7 — search-tokens maintenance (core/src/init.rs:244-266 +
    * trigger R2): (pkey, search_tokens, search_token_counts,
    * updated_at) with P1 concat. The aligned count array is the
    * tsvector position payload the exact ts_rank_cd leg ranks with.
    */
  def renderSearchTokens(src: DataFrame, pk: String, textCols: Seq[String]): DataFrame =
    src.select(
      col(pk).cast("string").as("pkey"),
      tsvectorWithCounts(concatCols(textCols.map(col))).as("__tc"),
      current_timestamp().as("updated_at"))
    .select(col("pkey"),
      col("__tc._1").as("search_tokens"),
      col("__tc._2").as("search_token_counts"),
      col("updated_at"))
}
