package graft

import graft.functions.GraftFunctions._
import graft.operators.{Ann, AsOf, Ccnet, Dedup, Dsir, Hnsw, IngestChain, Multimodal, Pipeline, Pq, Quantize, QualityFilter, RangeJoin, Search, TextIndex}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The SURVEY §2 operator inventory as driver-checkable queries.
  *
  * Every entry is deterministic (explicit total ORDER BY, rounded
  * doubles, no timestamps in output — epochs instead) so the driver's
  * DuckDB hash-compare is stable. Oracle SQL lives in
  * [[Oracles.sql]]; Spark and SQL sides are written to compute
  * IDENTICAL values — same tokenization regex, same double-precision
  * arithmetic, same rounding — not merely similar semantics.
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The shared fixed query vector: embedding of vec_id = 0. */
  private def queryVec(spark: SparkSession, dir: String): Array[Float] =
    t(spark, dir, "embeddings").filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray

  // =================================================================
  // §2.1 Scans / sources / sinks
  // =================================================================

  /** S1: delta scan (join method) — rows lacking embeddings or stale.
    * "Embedded" = vec_id <= 400 simulates partial coverage.
    */
  def s1DeltaScanJoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val emb = t(spark, dir, "embeddings").filter(col("vec_id") <= 400)
      .select(col("vec_id").as("pkey"))
    docs.join(emb, docs("doc_id") === emb("pkey"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Event time as epoch milliseconds, dispatching on whatever
    * physical type the parquet reader produced for `ts`. The testdata
    * generator has shipped `ts` as TIMESTAMP(NANOS) (read as long
    * nanos under spark.sql.legacy.parquet.nanosAsLong), and now as
    * timestamp[us] isAdjustedToUTC=false (read as TIMESTAMP_NTZ) —
    * every event-time query must work against all encodings. NTZ is
    * cast through TimestampType, which is exact under the UTC session
    * timezone Verify/Bench/TestSpark all pin; DuckDB's `epoch_ms(ts)`
    * oracle treats the naive value the same way. All paths floor to
    * ms (positive epochs), matching the oracle's truncation.
    * Reference semantics: the watermark scan core/src/query.rs:556-596.
    */
  private def eventTsDispatch(df: DataFrame, nanosExpr: String,
      tsFn: Column => Column): Column =
    df.schema("ts").dataType match {
      case LongType        => expr(nanosExpr)
      case TimestampType   => tsFn(col("ts"))
      case TimestampNTZType => tsFn(col("ts").cast(TimestampType))
      case dt => throw new IllegalArgumentException(
        s"events.ts has unsupported type $dt (expected long nanos, timestamp, or timestamp_ntz)")
    }

  private[graft] def eventTsMs(df: DataFrame): Column =
    eventTsDispatch(df, "ts div 1000000", unix_millis)

  /** Same dispatch at µs resolution — for arithmetic that must match
    * the oracle at the timestamp encodings' native granularity.
    */
  private[graft] def eventTsUs(df: DataFrame): Column =
    eventTsDispatch(df, "ts div 1000", unix_micros)

  /** Strict after-cutoff predicate at each encoding's NATIVE
    * resolution: long-nanos data compares at nanoseconds (flooring to
    * µs first would wrongly exclude an event at cutoff + 1ns that the
    * DuckDB TIMESTAMP_NS oracle includes), timestamp data at µs (its
    * native grain). `cutoffUs` is a whole-µs instant so the ns form
    * is exactly cutoffUs·1000.
    */
  private[graft] def eventTsAfterUs(df: DataFrame, cutoffUs: Long): Column =
    eventTsDispatch(df, s"ts > ${cutoffUs * 1000L}L",
      ts => unix_micros(ts) > lit(cutoffUs))

  /** S2: delta scan (append method) — watermark filter on the source.
    * The cutoff is 2024-01-03T00:00:00Z; the filter compares at each
    * encoding's NATIVE resolution (eventTsAfterUs) so it is exactly
    * the oracle's `ts > TIMESTAMP '2024-01-03 00:00:00'` under every
    * encoding, including sub-µs TIMESTAMP(NANOS) data.
    */
  def s2DeltaScanAppend(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    ev.filter(eventTsAfterUs(ev, 1704240000000000L)) // 2024-01-03T00:00:00Z µs
      .select(col("event_id"), eventTsMs(ev).as("ts_ms"),
        col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
  }

  /** S3: fetch-by-ids — message's rows via semi join. */
  def s3FetchByIds(spark: SparkSession, dir: String): DataFrame = {
    val ids = spark.range(0, 40).select((col("id") * 13).as("doc_id"))
    t(spark, dir, "documents").join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** S5/S6/J7: upsert MERGE — updates replace same-key current rows,
    * new keys append. Current = vec_id <= 400; updates = vec_ids
    * 350-450 with label shifted +100.
    */
  def s5UpsertMerge(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val current = emb.filter(col("vec_id") <= 400)
      .select(col("vec_id"), col("label"))
    val updates = emb.filter(col("vec_id").between(350, 450))
      .select(col("vec_id"), (col("label") + 100).as("label"))
    val kept = current.join(updates.select("vec_id"), Seq("vec_id"), "left_anti")
    kept.unionByName(updates).orderBy(col("vec_id"))
  }

  /** S8/J4: import external embeddings — only keys not yet present. */
  def s8ImportAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val existing = emb.filter(col("vec_id") % 2 === 0).select("vec_id")
    emb.join(existing, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  }

  // =================================================================
  // §2.2 Projections / filters
  // =================================================================

  /** P1/P2/P3: the three intentionally-different concat variants. */
  def p1ConcatVariants(spark: SparkSession, dir: String): DataFrame = {
    val part = t(spark, dir, "part")
    part.select(
      col("p_partkey"),
      concatCols(Seq(col("p_brand"), col("p_type"))).as("concat_space"),
      concatColsCsv(Seq(col("p_brand"), col("p_type"))).as("concat_csv"),
      concatColsLabeled(Seq("p_brand", "p_type"),
        Seq(col("p_brand"), col("p_type"))).as("concat_labeled"))
      .orderBy(col("p_partkey"))
  }

  /** P4: typed metadata filters (eq on string, gte/lt on numerics). */
  def p4TypedFilters(spark: SparkSession, dir: String): DataFrame = {
    import graft.types._
    val filters = Map(
      "o_orderstatus" -> FilterValue(FilterOperator.Eq, FilterScalar.S("O")),
      "o_totalprice" -> FilterValue(FilterOperator.Gte, FilterScalar.F(50000.0)),
      "o_custkey" -> FilterValue(FilterOperator.Lt, FilterScalar.I(100)))
    Search.applyFilters(t(spark, dir, "orders"), filters)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** P5: raw where_sql predicate via expr(). */
  def p5WhereSql(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(expr("l_quantity >= 45 AND l_returnflag = 'R'"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  // =================================================================
  // §2.3 Joins
  // =================================================================

  /** J1: inner equi-join of top-k hits back to the source (broadcast). */
  def j1TopkJoin(spark: SparkSession, dir: String): DataFrame = {
    val qv = queryVec(spark, dir)
    val emb = t(spark, dir, "embeddings")
    val hits = emb.select(col("vec_id"),
        cosineSimilarity(col("embedding"), lit(qv)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(50)
    val docs = t(spark, dir, "documents")
    docs.join(broadcast(hits), docs("doc_id") === hits("vec_id"))
      .select(col("doc_id"), col("lang"), round(col("cos"), 4).as("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc)
  }

  /** J2 + W1 + W2 + A3 + T1-T3: the full hybrid-RRF fusion shape on
    * raw tokens (oracle-checkable end to end): semantic leg = cosine
    * rank, lexical leg = token-overlap rank, FULL OUTER join on key,
    * rrf = 1/(60+rank) each side coalesced to 0, top 10.
    */
  def j2HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val qv = queryVec(spark, dir)
    val emb = t(spark, dir, "embeddings")
    val docs = t(spark, dir, "documents")
    val qTokens = array(lit("merge"), lit("join"), lit("stream"))

    val semTop = emb.select(col("vec_id").as("pkey"),
        cosineSimilarity(col("embedding"), lit(qv)).as("cos"))
      .orderBy(col("cos").desc, col("pkey").asc).limit(50)
    val sem = semTop.withColumn("semantic_rank",
      row_number().over(Window.orderBy(col("cos").desc, col("pkey").asc)))

    val toks = docs.select(col("doc_id").as("pkey"),
      sqlTokens(col("text")).as("toks"))
    val ftsTop = toks
      .withColumn("overlap", size(array_intersect(array_distinct(col("toks")), qTokens)))
      .filter(col("overlap") > 0)
      .withColumn("tf", size(filter(col("toks"),
        x => x === "merge" || x === "join" || x === "stream"))
        .cast("double") / size(col("toks")))
      .select(col("pkey"), col("overlap"), col("tf"))
      .orderBy(col("tf").desc, col("pkey").asc).limit(50)
    val fts = ftsTop.withColumn("fts_rank",
      row_number().over(Window.orderBy(col("tf").desc, col("pkey").asc)))

    sem.join(fts, Seq("pkey"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(60.0) + col("semantic_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60.0) + col("fts_rank")), lit(0.0)))
      .select(col("pkey"), col("semantic_rank"), col("fts_rank"),
        round(col("rrf_score"), 6).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("pkey").asc)
      .limit(10)
  }

  /** J3: left join with anti semantics via null filter (the S1 dual,
    * written as LEFT OUTER + IS NULL like the reference SQL).
    */
  def j3LeftAnti(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val emb = t(spark, dir, "embeddings").filter(col("label") < 5)
      .select(col("vec_id"), col("label"))
    docs.join(emb, docs("doc_id") === emb("vec_id"), "left_outer")
      .filter(col("vec_id").isNull)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** J6: the project view — source INNER JOIN embeddings on pkey. */
  def j6InnerJoinView(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val emb = t(spark, dir, "embeddings")
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(col("doc_id"), col("lang"), col("label"),
        size(col("embedding")).as("dim"))
      .orderBy(col("doc_id"))
  }

  // =================================================================
  // §2.4 Aggregations
  // =================================================================

  /** A1: array_agg of changed pkeys (as ordered CSV for stable hash). */
  def a1CollectIds(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .groupBy(col("label"))
      .agg(concat_ws(",", sort_array(collect_list(col("vec_id")))).as("ids"),
        count(lit(1)).as("n"))
      .orderBy(col("label"))

  /** A2 + general agg shape: counts + sums with map-side combine
    * (classic pricing-summary aggregation).
    */
  def a2AggSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // decimal-cast sums: summation-order-proof exact values that
        // match the oracle bit-for-bit (SURVEY §5 oracle strategy)
        round(sum(col("l_quantity").cast("decimal(18,4)")).cast("double"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double"), 2).as("sum_base_price"),
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double"), 2).as("sum_disc_price"),
        round(sum(col("l_quantity").cast("decimal(18,4)")).cast("double") / count(lit(1)), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // =================================================================
  // §2.5 Windows + §2.6 sorts/top-k
  // =================================================================

  /** W1: ROW_NUMBER() over cosine distance — semantic rank list. */
  def w1SemanticRank(spark: SparkSession, dir: String): DataFrame = {
    val qv = queryVec(spark, dir)
    val top = t(spark, dir, "embeddings")
      .select(col("vec_id"),
        (lit(1.0) - cosineSimilarity(col("embedding"), lit(qv))).as("distance"))
      .orderBy(col("distance").asc, col("vec_id").asc).limit(50)
    top.withColumn("semantic_rank",
        row_number().over(Window.orderBy(col("distance").asc, col("vec_id").asc)))
      .select(col("vec_id"), round(col("distance"), 4).as("distance"),
        col("semantic_rank"))
      .orderBy(col("semantic_rank"))
  }

  /** W2-adjacent: partitioned ranking window (per-group top-3) — the
    * general windowed-rank operator at scale (partition pruning +
    * in-partition sort only).
    */
  def w2PartitionedRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
    t(spark, dir, "lineitem")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("l_suppkey"), col("rk"), col("l_orderkey"),
        col("l_linenumber"), round(col("l_extendedprice"), 2).as("price"))
      .orderBy(col("l_suppkey"), col("rk"))
  }

  /** T2/T3: exact distributed top-k (TakeOrderedAndProject). */
  def t2TopK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 2).as("price"))
      .orderBy(col("price").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(100)

  // =================================================================
  // §2.8 Scalar functions
  // =================================================================

  /** F1: cosine similarity top-20 (double-precision sequential fold —
    * bitwise-identical to the oracle's list_cosine_similarity).
    */
  def f1CosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val qv = queryVec(spark, dir)
    t(spark, dir, "embeddings")
      .select(col("vec_id"),
        round(cosineSimilarity(col("embedding"), lit(qv)), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(20)
  }

  /** F5: token-overlap match predicate (raw-token tsvector @@ OR-query). */
  def f5TsMatch(spark: SparkSession, dir: String): DataFrame = {
    val qTokens = array(lit("vector"), lit("window"))
    t(spark, dir, "documents")
      .withColumn("toks", array_distinct(sqlTokens(col("text"))))
      .withColumn("n_match", size(array_intersect(col("toks"), qTokens)))
      .filter(col("n_match") > 0)
      .select(col("doc_id"), col("n_match"))
      .orderBy(col("doc_id"))
  }

  /** F9: token estimates aggregated per language. */
  def f9TokenEstimate(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("lang"), tokenEstimate(col("text")).as("n_tokens"))
      .groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("total_tokens"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  /** F9 (BPE-ish variant): GPT-style pre-tokenizer counts per doc —
    * contractions, letter runs, digit runs, punctuation runs — next to
    * the whitespace estimate the trim path budgets with. Both are
    * codegen'd built-ins (regexp_extract_all / split), and the oracle
    * replays the identical regexes in DuckDB.
    */
  def f9TokenBpe(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        tokenEstimate(col("text")).as("ws_tokens"),
        tokenCountBpe(col("text")).as("bpe_tokens"))
      .orderBy(col("doc_id"))

  /** Per-language tokenizer FERTILITY — BPE-ish tokens per whitespace
    * token: the multilingual budgeting diagnostic (a language
    * tokenizing at 2× fertility burns 2× token budget per word, so
    * mixing rates chosen on word counts silently under-sample it —
    * the reason XLM-R/NLLB-class pipelines report fertility before
    * fixing sampling rates). Shares [[f9TokenBpe]]'s two codegen'd
    * counters; one scan, map-side-combinable agg to |langs| rows, one
    * exact-integer division per row of the tiny result. ws floored at
    * 1 so an all-empty stratum reads fertility 0 instead of NaN.
    */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("lang"),
        tokenEstimate(col("text")).cast("long").as("__ws"),
        tokenCountBpe(col("text")).cast("long").as("__bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__ws")).as("ws_tokens"),
        sum(col("__bpe")).as("bpe_tokens"))
      .withColumn("fertility", round(col("bpe_tokens").cast("double") /
        greatest(col("ws_tokens"), lit(1L)).cast("double"), 6))
      .orderBy(col("lang"))

  private[graft] val bpeNumMerges = 200
  private[graft] val bpeVocabCap = 8192

  private val bpeMergesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  /** Train-once BPE merges for a corpus (the tokenizer-training
    * operator; functions/Bpe.scala has the algorithm and the 100 TB
    * shape note). The distributed part is one pre-tokenize + word
    * count; the collect is the TOP-`bpeVocabCap` rows of that
    * frequency table — vocabulary-sized by construction, never corpus
    * -sized (the cap drops only tail words, which contribute ~nothing
    * to merge counts; logged nowhere because it is a training
    * hyperparameter, not silent truncation of results).
    */
  private def bpeMerges(spark: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergesCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      val wc = t(spark, dir, "documents")
        .select(explode(bpePreTokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc)
        .limit(bpeVocabCap)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      graft.functions.Bpe.train(wc, bpeNumMerges)
    })

  /** F9, TRUE byte-pair merges: per-doc token counts under merges
    * TRAINED on this corpus (Sennrich et al. 2016 / GPT-2 word-level
    * form) — the honest stand-in for the reference's cl100k counts
    * (core/src/query.rs:606-615; cl100k's merge table is not
    * redistributable). Oracled by dump-and-replay: the per-WORD merge
    * math (BpeSpec-covered) is dumped as a word→token-count table and
    * the oracle recomposes per-doc counts relationally from the
    * dumped per-doc word occurrences.
    */
  def f9TokenBpeTrained(spark: SparkSession, dir: String): DataFrame = {
    val ranks = graft.functions.Bpe.ranksOf(bpeMerges(spark, dir))
    val cnt = udf((text: String) => graft.functions.Bpe.tokenCount(text, ranks))
    t(spark, dir, "documents")
      .select(col("doc_id"), cnt(col("text")).as("bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** F10: input trimming to a 20-token budget. */
  def f10TrimInputs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        trimInputs(col("text"), 20).as("trimmed"),
        tokenEstimate(trimInputs(col("text"), 20)).as("n_tokens"))
      .orderBy(col("doc_id"))

  // =================================================================
  // Streaming batch-equivalents (§2.9) — event-time windowing and
  // sessionization expressed identically in Spark and the oracle.
  // =================================================================

  /** Tumbling hourly window: integer epoch-hour arithmetic (timezone-
    * proof). Streaming variant: Realtime.windowedEventCounts.
    */
  def rWindowedCounts(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    ev.select(eventTsMs(ev).as("ts_ms"), col("event_type"), col("value"))
      .withColumn("hour", expr("ts_ms div 3600000"))
      .groupBy(col("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // decimal-cast sum: summation-order-proof (same strategy as a2)
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 2).as("total_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Session tagging shared by r_sessionize and r_interval_join
    * (gaps-and-islands, 30-min gap): lag + running sum — the
    * batch-exact formulation of session_window.
    */
  private def sessionTagged(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
    val ev = t(spark, dir, "events")
    ev.select(col("user_id"), eventTsMs(ev).as("ts_ms"), col("value"))
      .withColumn("prev", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull || col("ts_ms") - col("prev") > 1800000L, 1)
          .otherwise(0))
      .withColumn("sess_id", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Sessionization: per-session aggregates over [[sessionTagged]]. */
  def rSessionize(spark: SparkSession, dir: String): DataFrame =
    sessionTagged(spark, dir)
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ts_ms")).as("start_ms"),
        max(col("ts_ms")).as("end_ms"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 2).as("total_value"))
      .orderBy(col("user_id"), col("sess_id"))

  /** Range join (RangeJoin.pointInInterval): attribute each error
    * event to the session interval containing it — intervals
    * replicated to overlapped hour bins, points hashed to their bin,
    * equi-join on (user, bin) + exact BETWEEN filter. Never a
    * per-key cross product, unlike raw `ON ts BETWEEN start AND end`
    * (BroadcastNestedLoopJoin).
    */
  def rIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val sessions = sessionTagged(spark, dir)
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("ts_ms")).as("start_ms"), max(col("ts_ms")).as("end_ms"))
    val ev = t(spark, dir, "events")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), eventTsMs(ev).as("ts_ms"))
    RangeJoin.pointInInterval(errors, sessions, "ts_ms", "start_ms", "end_ms",
        keyCols = Seq("user_id"), binWidth = 3600000L)
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("sess_id"))
      .orderBy(col("event_id"))
  }

  /** As-of join (AsOf.join): each purchase event enriched with the
    * user's most recent click at-or-before it — one key shuffle +
    * running-window carry, never a per-key range explosion. The right
    * side is pre-deduped to one click per (user, ms) by max event_id,
    * the same tie contract DuckDB's native ASOF JOIN (the oracle)
    * leaves undefined.
    */
  def rAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), eventTsMs(events).as("ts_ms"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), eventTsMs(events).as("ts_ms"), col("event_id"))
      .groupBy(col("user_id"), col("ts_ms"))
      .agg(max(col("event_id")).as("click_id"))
    AsOf.join(purchases, clicks, "user_id", "ts_ms", Seq("click_id"))
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("click_id"))
      .orderBy(col("event_id"))
  }

  /** Semi-structured props extraction: parse the events' JSON `props`
    * payload with a typed `from_json` schema, filter on the parsed
    * field, and aggregate per event type — the log-enrichment scan
    * every event pipeline runs before joining behavioral features
    * into training data. `from_json` is a codegen'd Catalyst
    * expression evaluated inline in the scan stage, so the filter on
    * the parsed field and the column pruning both happen before the
    * (map-side-combinable) aggregation shuffle; malformed or null
    * JSON parses to null and is dropped by the `k >= 50` predicate on
    * both sides. avg_k is derived from the exact integer sum
    * (total_k/n) rather than a float accumulator, so it is
    * summation-order-proof like a2/r_windowed_counts.
    */
  def rJsonProps(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_type"), col("value"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k"))
      .filter(col("k") >= 50)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("total_k"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 2)
          .as("total_value"))
      .withColumn("avg_k",
        round(col("total_k").cast("double") / col("n"), 4))
      .orderBy(col("event_type"))

  // =================================================================
  // Training-data pipeline operators (north-star additions)
  // =================================================================

  /** Exact dedup: canonical id + group size per doc. The decision
    * form (r17): the query projects nothing but the decision columns,
    * so exactKeepDecision's single narrow pass answers it without
    * exactCanonical's wide probe-side join — the corpus text scans
    * ONCE (the r16 join-back shape scanned it twice).
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactKeepDecision(t(spark, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Cross-SOURCE duplicate-flow matrix — for each (source_a ≤
    * source_b) pair, how many exact-duplicate document pairs and how
    * many distinct duplicate groups span them: the provenance view a
    * curation team reads to learn WHICH feeds copy from each other
    * (mirror sites, syndication, re-crawls) vs which merely self-dup,
    * before deciding what to drop at the source level. Same
    * [[graft.operators.Dedup.normHash]] identity as dedup_exact, so
    * the matrix's "duplicate" is exactly the dedup stage's.
    *
    * Scale shape — NO quadratic pair explosion: the corpus reduces to
    * per-(hash, source) COUNTS first (one map-side-combinable
    * shuffle), and pairs are counted arithmetically from those counts
    * (n·(n−1)/2 within a source, n_a·n_b across — exact integers,
    * n·(n−1) is always even). The self-join runs on the count frame,
    * whose per-hash group is bounded by the number of SOURCES, never
    * by group size — a 10M-copy boilerplate hash is one row per
    * source here, where a doc-level pair join would emit 10¹⁴ rows.
    */
  def dedupSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val counts = t(spark, dir, "documents")
      .select(Dedup.normHash(col("text")).as("nh"), col("source"))
      .groupBy(col("nh"), col("source"))
      .agg(count(lit(1)).as("n"))
    val a = counts.select(col("nh"), col("source").as("source_a"),
      col("n").as("n_a"))
    val b = counts.select(col("nh"), col("source").as("source_b"),
      col("n").as("n_b"))
    a.join(b, Seq("nh"))
      .filter(col("source_a") <= col("source_b"))
      // `div`, not `/`: Spark's / on longs is a DOUBLE divide, which
      // both changes the column type and loses exactness past 2^53;
      // n·(n−1) is even so the integral divide is the exact count
      .withColumn("pairs", when(col("source_a") === col("source_b"),
          expr("(n_a * (n_a - 1)) div 2"))
        .otherwise(col("n_a") * col("n_b")))
      .filter(col("pairs") > 0L)
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("pairs")).as("n_dup_pairs"),
        count(lit(1)).as("n_groups"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Incremental snapshot-delta dedup: docs with doc_id >=
    * `incrementalSplit` play the newly crawled batch, the rest the
    * already-ingested corpus; kept = first-in-batch AND absent from
    * the corpus (Dedup.incrementalExact — batch-sized window +
    * bloom-gated corpus scan, the corpus never shuffles whole).
    */
  private[graft] val incrementalSplit = 250L
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.incrementalExact(
        docs.filter(col("doc_id") < incrementalSplit),
        docs.filter(col("doc_id") >= incrementalSplit),
        "doc_id", "text")
      .select(col("id").as("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Store-backed incremental snapshot-delta dedup: identical answer
    * to [[dedupIncremental]] (shared oracle SQL); the corpus side
    * reads only the persisted signature store's 32-hex-char norm_hash
    * column — zero corpus text scans, the exact-dedup twin of
    * [[dedupIncrementalNeardupStored]].
    */
  def dedupIncrementalStored(spark: SparkSession, dir: String): DataFrame =
    Dedup.incrementalExactStored(fullSigStore(spark, dir), "sigs",
        t(spark, dir, "documents").filter(col("doc_id") >= incrementalSplit),
        "doc_id", "text",
        corpusPred = Some(col("id") < incrementalSplit))
      .select(col("id").as("doc_id"))
      .orderBy(col("doc_id"))

  /** Within-document duplicate-span removal (the intra-page half of
    * C4's cleanup): each doc keeps the first occurrence of every
    * distinct 3-token span it contains. Zero shuffles — pure per-row
    * array algebra (Dedup.withinDocSpanDedup); only the presentation
    * sort exchanges.
    */
  def dedupWithinDoc(spark: SparkSession, dir: String): DataFrame =
    Dedup.withinDocSpanDedup(t(spark, dir, "documents"), "doc_id", "text",
        spanDedupTokens)
      .orderBy(col("doc_id"))

  /** C4-style duplicate-span removal: every 3-token span occurring
    * more than once in the corpus keeps only its first occurrence
    * (ordered by doc, position); docs are reassembled from surviving
    * spans. The keep-set computes on span HASHES only (narrow
    * map-side-combinable groupBy-min + narrow per-doc kept-index
    * agg); text crosses one exchange, the rebuild join.
    */
  private[graft] val spanDedupTokens = 3
  def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.spanDedup(t(spark, dir, "documents"), "doc_id", "text",
        spanTokens = spanDedupTokens)
      .orderBy(col("doc_id"))

  /** RefinedWeb-style BOILERPLATE removal (Penedo et al. 2023 §3.3
    * line-wise dedup at span grain): spans occurring in ≥
    * [[boilerplateMinDocs]] distinct documents are removed from EVERY
    * document — no keep-first survivor, the frequency rule says a
    * span repeated across that many independent pages was never
    * content (nav bars, cookie banners), where [[dedupSpans]]'s C4
    * rule preserves one copy of duplicated CONTENT. Same span grain
    * and rebuild discipline as dedup_spans; the df table computes on
    * span hashes via the two-stage df shape (never a COUNT-DISTINCT
    * Expand), text crosses one exchange (the rebuild join).
    */
  private[graft] val boilerplateMinDocs = 3
  def dedupBoilerplate(spark: SparkSession, dir: String): DataFrame =
    Dedup.boilerplateRemove(t(spark, dir, "documents"), "doc_id", "text",
        spanTokens = spanDedupTokens, minDocs = boilerplateMinDocs)
      .orderBy(col("doc_id"))

  private val spanDfStoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once persisted span document-frequency store over the full
    * corpus — the calibration table behind the PRODUCTION boilerplate
    * probe (full-replace on calibration cadence, the quality-CDF
    * refresh model; spanTokens frozen in _META).
    */
  private def spanDfStore(spark: SparkSession, dir: String)
      : graft.sources.ParquetStore = {
    val root = spanDfStoreCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      val p = sessionTempDir("graft_spandf_")
      Dedup.buildSpanDfStore(
        new graft.sources.ParquetStore(spark, p, nBuckets = 8),
        "span_df", t(spark, dir, "documents"), "doc_id", "text",
        spanTokens = spanDedupTokens)
      p
    })
    new graft.sources.ParquetStore(spark, root, nBuckets = 8)
  }

  /** STORE-BACKED boilerplate removal — [[dedupBoilerplate]] served
    * from the persisted span-df table: the probe pays the batch's own
    * explode + anti-join + rebuild, never a corpus-wide df shuffle
    * (the production form for cleaning every snapshot against a
    * calibration-cadence df refresh). Probed over the same corpus the
    * store was built from, the answer is the storeless one verbatim —
    * the stored≡storeless contract; the oracle shares
    * dedup_boilerplate's SQL for exactly that reason.
    */
  def dedupBoilerplateStored(spark: SparkSession, dir: String): DataFrame =
    Dedup.boilerplateRemoveStored(spanDfStore(spark, dir), "span_df",
        t(spark, dir, "documents"), "doc_id", "text",
        spanTokens = spanDedupTokens, minDocs = boilerplateMinDocs)
      .orderBy(col("doc_id"))

  /** Span document-frequency heavy hitters — the ops dial an operator
    * reads to SET boilerplateMinDocs (vocab_top_terms at span grain):
    * the [[boilerplateTopN]] most widespread spans with their
    * distinct-doc and total occurrence counts. Two map-side-
    * combinable aggs + TakeOrderedAndProject; the full total order
    * (n_docs, n_occurrences, span) makes the cut deterministic.
    */
  private[graft] val boilerplateTopN = 20
  def boilerplateTopSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.spanDocFrequency(t(spark, dir, "documents"), "doc_id", "text",
        spanTokens = spanDedupTokens)
      .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("span"))
      .limit(boilerplateTopN)

  /** N-gram (bigram) Jaccard near-dup pairs via rare-gram inverted-
    * index blocking (df ≤ 20) — the scale-safe standalone similarity
    * self-join: candidate buckets are bounded by the df cap, never by
    * corpus size.
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.rareGramJaccardPairs(t(spark, dir, "documents"), "doc_id", "text",
        n = 2, threshold = ngramThreshold, maxDf = ngramMaxDf)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** Containment pairs (small-doc-inside-big detection): same rare-
    * gram blocking as dedup_ngram_jaccard, scored by Broder's
    * |A∩B|/min(|A|,|B|) — the asymmetric overlap Jaccard dedup is
    * blind to.
    */
  private[graft] val containmentThreshold = 0.6
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(t(spark, dir, "documents"), "doc_id", "text",
        n = 2, threshold = containmentThreshold, maxDf = ngramMaxDf)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 4).as("containment"))
      .orderBy(col("id_a"), col("id_b"))

  /** Embedding-cosine near-dup pairs via sign-LSH banded blocking
    * (4 bands × 8 bits) — candidates collide on a band key, never an
    * all-pairs or low-cardinality-attribute join.
    */
  def dedupEmbeddingCos(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingLshBandedPairs(t(spark, dir, "embeddings"), "vec_id",
        "embedding", dim = 64, threshold = 0.30, bits = 8, bands = 4)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .orderBy(col("id_a"), col("id_b"))

  private[graft] val semDedupClusters = 16
  private[graft] val semDedupThreshold = 0.40
  private val semCentroidsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Array[Float])]]()

  /** Train-once SemDeDup k-means centroids for this (session, dir) —
    * cached for the same reason as [[qualityModel]]: the query entry
    * and dumpOracleAux must see the EXACT same centroids within a
    * Verify run (float groupBy-mean bit-determinism across two
    * separate Lloyd's runs is not guaranteed), so the dump IS the
    * assignment the oracle replays.
    */
  private[graft] def semCentroids(spark: SparkSession, dir: String): Array[(Int, Array[Float])] =
    semCentroidsCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      Ann.ivfCentroids(t(spark, dir, "embeddings"), "vec_id", "embedding",
        semDedupClusters)
    })

  /** SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings,
    * then within each cluster drop every vector with a ≥ 0.40-cosine
    * neighbor of higher keep priority (farther from the centroid —
    * the paper keeps the lowest-centroid-similarity representative).
    * Pairwise work is bounded by cluster size (nClusters ~ √N at
    * scale); the prune is one cell-keyed anti-join. Oracled by
    * replaying the rank + NOT EXISTS prune over the dumped
    * assignment (semdedup_aux_assigned).
    */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    Dedup.semanticKeep(
        Dedup.semanticAssign(t(spark, dir, "embeddings"), "vec_id", "embedding",
          semCentroids(spark, dir)),
        semDedupThreshold)
      .select(col("id").as("vec_id"), col("cell"))
      .orderBy(col("vec_id"))

  /** MinHash+LSH near-dup candidates. DuckDB-oracled via
    * dump-and-replay (dumpOracleAux): the per-doc MinHash signatures
    * and shingle sets are dumped (the signature math is unit-covered
    * by MinHashSpec), and the oracle replays the whole RELATIONAL
    * pipeline — banding on signature slices, candidate self-join,
    * exact-Jaccard verification, threshold, dedup — in SQL. The one
    * divergence risk is a 32-bit murmur collision making Spark's
    * hash(band, slice) key admit a candidate the oracle's raw-slice
    * equality doesn't; such a pair still has to pass the exact-Jaccard
    * verify on both sides, so a mismatch requires a colliding pair
    * that is ALSO a true near-dup — negligible, and deterministic if
    * it ever fires.
    */
  private[graft] val minHashShingleN = 2
  private[graft] val minHashNumHashes = 64
  private[graft] val minHashBands = 16
  private[graft] val minHashThreshold = 0.3

  def dedupMinHashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minHashLshPairs(t(spark, dir, "documents"), "doc_id", "text",
        shingleN = minHashShingleN, numHashes = minHashNumHashes,
        bands = minHashBands, threshold = minHashThreshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  private val fullSigStoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once persisted signature store over the FULL corpus — THE
    * one signature index (r12 ask #7): the full-corpus pair sweep and
    * near-dup decontamination read it whole, and the incremental
    * probes scope it to the pre-split existing side via their
    * `corpusPred` split view (`id < incrementalSplit`, pushed down to
    * the index scan) — one index to MERGE-maintain instead of two
    * overlapping ones. */
  private def fullSigStore(spark: SparkSession, dir: String)
      : graft.sources.ParquetStore = {
    // bucket count sized to the SF-scale index (thousands of rows):
    // the bucketed write leaves one file per bucket at this size, so
    // 8 buckets keep MERGE granularity while the probes (read by a
    // dozen plan branches across the chain queries) pay single-digit
    // file opens. At 100 TB the count goes to thousands (ParquetStore
    // class scaladoc).
    val root = fullSigStoreCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      val p = sessionTempDir("graft_fullsig_")
      Dedup.buildNearDupStore(
        new graft.sources.ParquetStore(spark, p, nBuckets = 8),
        "sigs", t(spark, dir, "documents"), "doc_id", "text",
        shingleN = minHashShingleN, numHashes = minHashNumHashes,
        bands = minHashBands)
      p
    })
    new graft.sources.ParquetStore(spark, root, nBuckets = 8)
  }

  /** Full-corpus MinHash pair sweep off the persisted signature
    * store: identical pair list to [[dedupMinHashLsh]] (shared oracle
    * SQL), generated from the index's band_keys/shingles columns with
    * zero corpus text reads and zero signature recompute — the
    * periodic cluster-sweep form a pipeline that maintains the index
    * runs between snapshots.
    */
  def dedupMinHashLshStored(spark: SparkSession, dir: String): DataFrame =
    Dedup.minHashLshPairsStored(fullSigStore(spark, dir), "sigs",
        threshold = minHashThreshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** NEAR-dup companion of [[dedupSourceMatrix]]: per (source_a ≤
    * source_b) pair, how many near-duplicate doc pairs cross them and
    * the closest one's similarity — the provenance view for FUZZY
    * copying (templated rewrites, light edits) that exact hashing
    * misses. Pairs come from the SAME persisted-store sweep as
    * dedup_minhash_lsh_stored (zero text reads, band-bounded), so
    * this is the matrix a pipeline maintaining the index gets for
    * free between snapshots; max, not avg, because a float mean is
    * aggregation-order-dependent while max of 4dp-rounded jaccards
    * replays exactly.
    *
    * Scale shape: the pair list is band-gated (rung-proven
    * sub-quadratic); sources attach via two pkey equi-joins against a
    * NARROW (id, source) projection — the dedup_cluster_best
    * discipline, text never in any join input.
    */
  def dedupSourceMatrixNeardup(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minHashLshPairsStored(fullSigStore(spark, dir), "sigs",
        threshold = minHashThreshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    val src = t(spark, dir, "documents").select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("__sa")),
        Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("__sb")),
        Seq("id_b"))
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"), col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_dup_pairs"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Distribution-drift report — the monitoring pass an ingestion
    * pipeline runs on every new snapshot: token distributions of the
    * incoming batch vs the existing corpus, compared per md5-hash
    * bucket (256 buckets — bounded like DSIR's model table, so the
    * comparison table always broadcasts and the report never grows
    * with vocabulary). Emits one row per bucket with both counts,
    * the Laplace-smoothed shares, and the bucket's KL(batch‖corpus)
    * contribution q·ln(q/p) — Σ contrib is the corpus-drift scalar,
    * and the largest |contrib| buckets localize WHAT drifted. All
    * 256 buckets emit (zero-count included via the generated bucket
    * list) so the output schema is constant. Scale shape: ONE
    * tokenize+hash scan with conditional per-side sums (map-side
    * combinable) + a 256-row broadcast frame — the single linear
    * pass any monitoring needs.
    */
  private[graft] val driftBuckets = 256
  def driftReport(spark: SparkSession, dir: String): DataFrame = {
    // ONE scan: both sides' bucket counts come from conditional sums
    // over a single tokenize+hash pass (two filtered aggregations
    // would tokenize and shuffle the table twice)
    // explode_OUTER + post-Generate null drop: the non-outer form's
    // inferred size>0 filter inlines the whole tokenizer into the
    // scan (the dedup_spans r16 trap); sqlTokens elements are never
    // null, so only the empty-doc placeholder row filters out
    val counts = t(spark, dir, "documents")
      .select(col("doc_id"), explode_outer(sqlTokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull)
      .select(substring(md5(col("tok")), 1, 2).as("bucket"),
        when(col("doc_id") < incrementalSplit, 1L).otherwise(0L).as("__c"),
        when(col("doc_id") >= incrementalSplit, 1L).otherwise(0L).as("__b"))
      .groupBy(col("bucket"))
      .agg(sum(col("__c")).as("n_corpus"), sum(col("__b")).as("n_batch"))
    val allBuckets = spark.range(driftBuckets)
      .select(format_string("%02x", col("id")).as("bucket"))
    val joined = allBuckets
      .join(counts, Seq("bucket"), "left_outer")
      .select(col("bucket"),
        coalesce(col("n_corpus"), lit(0L)).as("n_corpus"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"))
    val totals = joined.agg(sum(col("n_corpus")).as("tc"), sum(col("n_batch")).as("tb"))
    joined.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_corpus"), col("n_batch"),
        ((col("n_batch") + lit(1.0)) / (col("tb") + lit(driftBuckets.toDouble))).as("__q"),
        ((col("n_corpus") + lit(1.0)) / (col("tc") + lit(driftBuckets.toDouble))).as("__p"))
      .select(col("bucket"), col("n_corpus"), col("n_batch"),
        round(col("__q"), 6).as("q"), round(col("__p"), 6).as("p"),
        // + 0.0 folds IEEE -0.0 to +0.0: a near-equal bucket's tiny
        // negative contribution rounds to -0.0 in DuckDB but +0.0 in
        // Spark (the text_token_entropy repr hazard; both sides fold)
        (round(col("__q") * log(col("__q") / col("__p")), 6) + lit(0.0))
          .as("kl_contrib"))
      .orderBy(col("bucket"))
  }

  /** The composed ingestion chains ([[IngestChain]]): exact
    * incremental dedup → blocklist → [boilerplate clean] → [percentile
    * gate] → [shingle and semantic decontamination] → incremental
    * near-dup, then the per-language stats of what ingests
    * (`pipeline_ingest*`) or the per-stage funnel (`ingest_audit*`).
    * Stage order is by cost: the hash probe and the per-row gates run
    * before the banded candidate stage, so near-dup only sees
    * survivors. Every index-shaped stage probes a persisted store (the
    * signature index, the calibration snapshots, the span-df store), so
    * no corpus text is rescanned per batch; the per-doc sets stay
    * delta-sized.
    *
    * Each configuration is ONE [[IngestSpec]] and both of its registry
    * entries derive from it, so its survivors and its funnel read the
    * same tagged frame. Why the entries do NOT share their flag sets
    * the way [[fullSigStore]] / [[pctCdfStore]] are shared: the
    * session-fixture stores are CREATE INDEX / calibration-snapshot
    * analogues a production system maintains on its own cadence, while
    * the per-stage flag sets are the per-ingest-run DECISIONS these
    * queries exist to measure; within one entry they compute once.
    */
  private[graft] final case class IngestSpec(
      chain: (SparkSession, String) => (IngestChain.Chain, DataFrame),
      pipeline: Boolean = true) {
    def tagged(spark: SparkSession, dir: String): (IngestChain.Chain, DataFrame) =
      chain(spark, dir) match { case (c, batch) => (c, c.tagged(batch)) }
    def survivors(spark: SparkSession, dir: String): DataFrame =
      tagged(spark, dir) match { case (c, t) => c.survivors(t) }
  }

  private val ingestGeometry = IngestChain.Geometry(minHashShingleN,
    minHashNumHashes, minHashBands, minHashThreshold)

  /** The batch slice of the decontamination-split chains. */
  private def chainSlice(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").filter(col("doc_id") >= incrementalSplit &&
      col("doc_id") < decontamNearDupSplit)

  /** The slice's blocklist survivors — the only rows the percentile
    * gates score (a row failing the blocklist never passes them). */
  private def blockSurvivors(spark: SparkSession, dir: String): DataFrame =
    chainSlice(spark, dir).filter(blocklistClean(col("text"), blocklistTerms))

  /** The decontamination-split chain over one signature store whose
    * corpus, batch and benchmark ranges are id predicates —
    * parameterized so ScaleSpec's 100×-corpus rung drives the same
    * chain with its own ranges. `pct` is the percentile gate's
    * (doc_id, pct) frame and whether a NULL pct abstains;
    * `boilCleaned` (lineage-truncated) swaps in the cleaned text, and
    * then the decontamination gate signs it instead of probing the
    * store's raw-text batch signatures; `detected` routes on (doc_id,
    * `__dl`).
    */
  private[graft] def ingestChain(store: graft.sources.ParquetStore,
      corpusPred: Column, batchPred: Column, benchPred: Column,
      semFlagged: Option[DataFrame] = None,
      pct: Option[(DataFrame, Boolean)] = None,
      boilCleaned: Option[DataFrame] = None,
      detected: Option[DataFrame] = None): IngestChain.Chain = {
    import IngestChain._
    val g = ingestGeometry
    Chain("doc_id", "text", g, Seq(
      Some(exact(store, "sigs", Some(corpusPred))),
      Some(blocklist(blocklistTerms)),
      boilCleaned.map(c => boilerplate(_ => c)),
      pct.map { case (scored, abstain) =>
        percentile(_ => scored, ingestGatePct, abstain) },
      Some(decontam(store, "sigs", g, minHashThreshold, Some(benchPred),
        storedBatch = if (boilCleaned.isEmpty) Some(batchPred) else None)),
      semFlagged.map(f => semantic(_ => f)),
      Some(nearDup(4, store, "sigs", g, Some(corpusPred),
        shareSig = boilCleaned.isDefined))).flatten,
      detected.map(d => Route("lang", _ => d)))
  }

  /** [[ingestChain]] over the session's full signature store and the
    * sf split constants, with the batch slice it ingests (`slice`, when
    * the caller already read it). */
  private def splitChain(spark: SparkSession, dir: String,
      semantic: Boolean = false, pct: Option[(DataFrame, Boolean)] = None,
      boilCleaned: Option[DataFrame] = None,
      detected: Option[DataFrame] = None, slice: Option[DataFrame] = None)
      : (IngestChain.Chain, DataFrame) =
    (ingestChain(fullSigStore(spark, dir),
      corpusPred = col("id") < incrementalSplit,
      batchPred = col("id") >= incrementalSplit &&
        col("id") < decontamNearDupSplit,
      benchPred = col("id") >= decontamNearDupSplit,
      semFlagged = if (semantic) Some(ladderSemanticFlags(spark, dir)) else None,
      pct = pct, boilCleaned = boilCleaned, detected = detected),
      slice.getOrElse(chainSlice(spark, dir)))

  /** The eight chain configurations, keyed by their entries' suffix
    * (`pipeline_ingest<suffix>`, `ingest_audit<suffix>`):
    *
    *  - "" — exact → blocklist → near-dup over the whole post-split
    *    batch (no benchmark slice, so near-dup is stage 3)
    *  - `_decontam` — + shingle decontamination against the benchmark
    *    slice
    *  - `_ladder` — + the embedding-cosine rung (the full
    *    decontamination ladder, [[ladderSemanticFlags]])
    *  - `_gated` — the ladder + the per-language percentile gate
    *    against the persisted calibration snapshot (funnel only)
    *  - `_routed` — decontam + the percentile gate keyed on the
    *    DETECTED language ([[routedDetAndPct]]); stats group by it
    *  - `_routed_boil` — routed over the store-cleaned text
    *    ([[routedBoilDetAndPct]]); a NULL percentile (a cleaned doc's
    *    language unseen in calibration) abstains, like the stream's
    *    gate; stats count cleaned tokens
    *  - `_routed_boil_sem` — routed + boil + the semantic rung: every
    *    gate the streaming pipeline offers at once
    *  - `_boil` — the RefinedWeb boilerplate stage (clean before
    *    quality / decontam / dedup) + the stored-label percentile gate
    *    scoring the cleaned text
    */
  private[graft] lazy val ingestSpecs: Map[String, IngestSpec] = Map(
    "" -> IngestSpec({ (spark, dir) =>
      import IngestChain._
      val store = fullSigStore(spark, dir)
      val corpus = Some(col("id") < incrementalSplit)
      (Chain("doc_id", "text", ingestGeometry, Seq(
          exact(store, "sigs", corpus), blocklist(blocklistTerms),
          nearDup(3, store, "sigs", ingestGeometry, corpus))),
        t(spark, dir, "documents").filter(col("doc_id") >= incrementalSplit))
    }),
    "_decontam" -> IngestSpec(splitChain(_, _)),
    "_ladder" -> IngestSpec(splitChain(_, _, semantic = true)),
    "_gated" -> IngestSpec(pipeline = false, chain = (spark, dir) =>
      splitChain(spark, dir, semantic = true,
        pct = Some(ingestPct(spark, dir, None) -> false))),
    "_routed" -> IngestSpec({ (spark, dir) =>
      val (det, pct) = routedDetAndPct(spark, dir)
      splitChain(spark, dir, pct = Some(pct -> false), detected = Some(det))
    }),
    "_routed_boil" -> IngestSpec(routedBoilChain(_, _)),
    "_routed_boil_sem" -> IngestSpec(routedBoilChain(_, _, semantic = true)),
    "_boil" -> IngestSpec({ (spark, dir) =>
      val slice = chainSlice(spark, dir)
      val boil = boilCleanedOf(spark, dir, slice)
      splitChain(spark, dir,
        pct = Some(ingestPct(spark, dir, Some(boil)) -> false),
        boilCleaned = Some(boil), slice = Some(slice))
    }))

  private def routedBoilChain(spark: SparkSession, dir: String,
      semantic: Boolean = false): (IngestChain.Chain, DataFrame) = {
    val (boil, det, pct) = routedBoilDetAndPct(spark, dir)
    splitChain(spark, dir, semantic = semantic, pct = Some(pct -> true),
      boilCleaned = Some(boil), detected = Some(det))
  }

  /** The registry entries of every [[ingestSpecs]] configuration. */
  private def ingestEntries: Map[String, (SparkSession, String) => DataFrame] =
    ingestSpecs.toSeq.flatMap { case (suffix, spec) =>
      def entry(out: (IngestChain.Chain, DataFrame) => DataFrame) =
        (spark: SparkSession, dir: String) => out.tupled(spec.tagged(spark, dir))
      Seq(s"ingest_audit$suffix" -> entry(_.funnel(_))) ++
        (if (spec.pipeline) Seq(s"pipeline_ingest$suffix" -> entry(_.stats(_)))
        else Nil)
    }.toMap

  /** Incremental snapshot-delta NEAR-dup: the incrementalSplit batch
    * against the rest as the existing corpus, same MinHash
    * parameters as dedup_minhash_lsh so the oracle replays over the
    * shared minhash_aux signature dump.
    */
  def dedupIncrementalNeardup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.incrementalNearDup(
        docs.filter(col("doc_id") < incrementalSplit),
        docs.filter(col("doc_id") >= incrementalSplit),
        "doc_id", "text", shingleN = minHashShingleN,
        numHashes = minHashNumHashes, bands = minHashBands,
        threshold = minHashThreshold)
      .select(col("id").as("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Store-backed incremental snapshot-delta near-dup: identical
    * answer to [[dedupIncrementalNeardup]] (same oracle SQL), but the
    * corpus side reads ONLY the persisted signature store — zero
    * corpus text scans, zero corpus signature recompute; the ONE
    * shared full-corpus index ([[fullSigStore]]) scoped to the
    * existing side by the `corpusPred` split view. The production
    * form at daily-snapshot cadence.
    */
  def dedupIncrementalNeardupStored(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.incrementalNearDupStored(fullSigStore(spark, dir), "sigs",
        docs.filter(col("doc_id") >= incrementalSplit), "doc_id", "text",
        shingleN = minHashShingleN, numHashes = minHashNumHashes,
        bands = minHashBands, threshold = minHashThreshold,
        corpusPred = Some(col("id") < incrementalSplit))
      .select(col("id").as("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup clusters: connected components over the MinHash+LSH
    * pair list (min-label propagation, Dedup.clusterCanonical), each
    * doc mapped to its cluster's canonical (minimum) id + cluster
    * size — the keep-one-representative step a dedup pipeline
    * actually acts on. DuckDB-oracled end to end: the oracle rebuilds
    * the SAME pair list from the dumped signatures (the
    * dedup_minhash_lsh replay) and closes it transitively with a
    * recursive CTE, so the distributed label-propagation loop is
    * checked against a declarative fixpoint.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // pair list from the PERSISTED signature store (pinned identical
    // to the storeless minHashLshPairs) — the cluster sweep never
    // recomputes shingles/signatures
    val pairs = Dedup.minHashLshPairsStored(fullSigStore(spark, dir), "sigs",
      threshold = minHashThreshold)
    val labels = Dedup.clusterCanonical(pairs)
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("id").as("doc_id"), col("cluster_id").as("canonical_id"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** dedup_clusters via the alternating large-star/small-star
    * algorithm (Dedup.clusterCanonicalStar) — O(log² n) rounds on ANY
    * pair-graph shape, where min-label propagation needs diameter
    * rounds. Identical output contract, same recursive-CTE oracle:
    * the declarative fixpoint checks both distributed algorithms.
    */
  def dedupClustersStar(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minHashLshPairsStored(fullSigStore(spark, dir), "sigs",
      threshold = minHashThreshold)
    val labels = Dedup.clusterCanonicalStar(pairs)
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("id").as("doc_id"), col("cluster_id").as("canonical_id"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Cluster-representative selection by QUALITY — the keep-policy
    * knob production dedup ships with (FineWeb/Dolma keep one doc per
    * near-dup cluster; keeping the BEST-quality member instead of the
    * arbitrary min-id beats the min-label canonical when cluster
    * members differ in extraction quality). Clusters come from the
    * SAME persisted-store pair sweep + connected components as
    * dedup_clusters; the representative is the member maximizing the
    * shared 5-signal [[graft.functions.GraftFunctions.qualityScore]]
    * (ties → min doc_id). One row per CLUSTERED doc: (doc_id,
    * canonical_id, rep_id, is_rep, rep_quality, cluster_size).
    *
    * Scale shape: label frame ⋈ docs on id (the only text-sized
    * stage — quality computes per-row post-join, so only clustered
    * docs pay it), then a groupBy(cluster) argmin over narrow
    * (quality, id) structs + a membership join back on cluster_id.
    * The argmin struct negates quality so ONE min picks
    * (max quality, min id) — negation is IEEE-exact, so the oracle's
    * ORDER BY quality DESC, doc_id replays it bit-for-bit.
    */
  def dedupClusterBest(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minHashLshPairsStored(fullSigStore(spark, dir), "sigs",
      threshold = minHashThreshold)
    val labels = Dedup.clusterCanonical(pairs)
    // checkpointed (the clusterCanonical convention): member feeds
    // BOTH the per-cluster argmin and the final membership join, and
    // without truncation each branch would re-execute the whole pair
    // sweep + CC + quality scan subtree
    val member = labels.join(
        t(spark, dir, "documents").select(col("doc_id"),
          qualityScore(col("text")).as("quality")),
        labels("id") === col("doc_id"))
      .select(col("cluster_id"), col("doc_id"), col("quality"))
      .localCheckpoint(false)
    val rep = member.groupBy(col("cluster_id"))
      .agg(min(struct((-col("quality")).as("nq"), col("doc_id").as("d")))
          .as("best"),
        count(lit(1)).as("cluster_size"))
      .select(col("cluster_id"), col("best.d").as("rep_id"),
        (-col("best.nq")).as("rep_quality"), col("cluster_size"))
    member.join(rep, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id").as("canonical_id"),
        col("rep_id"), (col("doc_id") === col("rep_id")).as("is_rep"),
        col("rep_quality"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup pairs. maxHamming=3 is the scale-right
    * setting: 4 bands × 16 bits keeps per-band bucket cardinality at
    * 65k, where larger radii force narrower bands (maxHamming+1 of
    * them) and geometrically fewer, fatter buckets.
    *
    * DuckDB-oracled via dump-and-replay: the banded pipeline's output
    * must equal the brute-force pair set over the dumped per-doc
    * signatures (bands = maxHamming+1 gives FULL recall by
    * pigeonhole — see Dedup.simHashPairs), and brute force IS
    * SQL-expressible: every pair with bit_count(xor) <= maxHamming.
    */
  private[graft] val simHashMaxHamming = 3

  def dedupSimHash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(t(spark, dir, "documents"), "doc_id", "text",
        maxHamming = simHashMaxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))

  /** ANN: LSH approximate top-k over a PERSISTED bucket-partitioned
    * index (recall vs f1CosineTopK is asserted in AnnSpec). The build
    * runs once per dataset (prepare() — CREATE INDEX analogue) with
    * bits auto-derived from the corpus size (Ann.deriveBits); the
    * query enumerates a query-directed multiprobe list driver-side
    * (cheapest sign flips first) and scans only those bucket
    * partitions (PartitionFilters prune the rest).
    *
    * Probe budget honesty: the synthetic embeddings are near-uniform
    * (pair cos ~ N(0, 0.125), measured), the worst case for angular
    * LSH — recall ≈ scanned fraction, so maxProbes=20 covers ~60% of
    * the 32 auto-bits buckets at sf0.1 for recall 0.9 (vs 26 buckets
    * for the blind Hamming ring at equal recall, and 219 of 256 for
    * the r3 demo settings). On clustered real embeddings the same
    * mechanism reaches recall 0.9 probing <7% of buckets — asserted
    * in AnnSpec's planted-cluster test.
    */
  private[graft] val annLshMaxProbes = 20

  /** Shared top-k for the ANN single-query entries; interpolated into
    * the oracle's annProbeSql so the two sides can never desync.
    */
  private[graft] val annTopK = 20

  def annLshTopK(spark: SparkSession, dir: String): DataFrame = {
    val qv = queryVec(spark, dir)
    Ann.probeLshIndexDirected(spark, lshIndex(spark, dir), "vec_id", "embedding",
        qv, k = annTopK, maxProbes = annLshMaxProbes)
      .select(col("id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
  }

  /** Retrieval-quality monitoring: recall@k of the probe-pruned LSH
    * top-k against the exact brute-force top-k for the standard query
    * vector — the ops dial that says when an index's probe budget has
    * drifted below its recall target (the query twin of the spec
    * suite's recall bounds, runnable at monitoring cadence). One row:
    * (k, n_approx, n_hit, recall_at_k). Cost = the two top-ks it
    * compares plus a k-row join.
    */
  def evalAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val qv = queryVec(spark, dir)
    val emb = t(spark, dir, "embeddings")
    val exact = Ann.bruteForceTopK(emb, "vec_id", "embedding", qv, annTopK)
      .select(col("id"), lit(1L).as("__x"))
    val approx = Ann.probeLshIndexDirected(spark, lshIndex(spark, dir),
        "vec_id", "embedding", qv, k = annTopK, maxProbes = annLshMaxProbes)
      .select(col("id"))
    approx.join(broadcast(exact), Seq("id"), "left")
      .agg(count(lit(1)).as("n_approx"),
        coalesce(sum(col("__x")), lit(0L)).as("n_hit"))
      .select(lit(annTopK).as("k"), col("n_approx"), col("n_hit"),
        round(col("n_hit").cast("double") / lit(annTopK), 4).as("recall_at_k"))
  }

  /** Probe ef for the HNSW entry (HnswSpec measures recall 1.0 at 64
    * on the near-uniform test vectors, same discipline as the LSH/IVF
    * probe settings).
    */
  private[graft] val annHnswEf = 64

  /** ANN: per-partition HNSW graph probe (reference's pgvector HNSW
    * parity — operators/Hnsw.scala). Each partition graph returns k
    * exact-cosine candidates; the unrounded top-k merge then the
    * rounded presentation ordering mirror annProbeSql, and the oracle
    * replays exact top-k over the DUMPED candidate union
    * (ann_hnsw_candidates) — the same candidates-restricted check the
    * LSH/IVF probes use, with graph traversal recall covered by
    * HnswSpec.
    */
  def annHnswTopK(spark: SparkSession, dir: String): DataFrame = {
    val qv = queryVec(spark, dir)
    Hnsw.probeHnswIndex(spark, hnswIndex(spark, dir), qv,
        k = annTopK, ef = annHnswEf)
      .orderBy(col("cos").desc, col("id").asc)
      .limit(annTopK)
      .select(col("id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
  }

  // Caches are keyed by (session, dir): a DataFrame/engine is bound
  // to the SparkSession that built it, and a second session in the
  // same JVM (e.g. Verify after Bench in one test run) must not
  // receive objects holding a stopped SparkContext.
  /** Session-fixture temp roots, deleted recursively at JVM shutdown
    * (ADVICE r19): the per-(session, dir) caches deliberately never
    * evict (they are CREATE INDEX / calibration-snapshot analogues
    * with the process's lifetime), so a long-lived driver that
    * cycles sessions would otherwise accumulate store directories on
    * disk for ever. One hook reclaims every root this process
    * created; the heap-side model/centroid entries stay cached —
    * bounded by |sessions| × |dirs| and dwarfed by the disk the hook
    * frees.
    */
  private val tempRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val tempRootHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tempRoots.forEach { root =>
        try {
          val s = java.nio.file.Files.walk(root)
          try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p =>
              try { java.nio.file.Files.deleteIfExists(p); () }
              catch { case _: Throwable => () })
          finally s.close()
        } catch { case _: Throwable => () }
      }
    }, "graft-temp-root-cleanup"))

  /** createTempDirectory + shutdown-hook registration — every
    * session-fixture store root goes through here. */
  private def sessionTempDir(prefix: String): String = {
    tempRootHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempRoots.add(p)
    p.toString
  }

  private def cacheKey(spark: SparkSession, dir: String): String =
    spark.sparkContext.applicationId + "|" + dir

  private val ivfIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once IVF index for a dataset (CREATE INDEX analogue);
    * shared by annIvfTopK and prepare(). */
  private def ivfIndex(spark: SparkSession, dir: String): String =
    ivfIndexCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      val p = sessionTempDir("graft_ivf_")
      Ann.buildIvfIndex(t(spark, dir, "embeddings"), "vec_id", "embedding",
        p, nCells = 16, iterations = 3)
      p
    })

  private val hnswIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once persisted per-partition HNSW index (CREATE INDEX
    * analogue, like the LSH/IVF caches). targetRows = 256 keeps the
    * test corpora multi-graph (sf0.01 → 2 partitions, sf0.1 → 8) so
    * the probe's merge path is always exercised; production uses the
    * O(100k) default.
    */
  private def hnswIndex(spark: SparkSession, dir: String): String =
    hnswIndexCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      val p = sessionTempDir("graft_hnsw_")
      Hnsw.buildHnswIndex(t(spark, dir, "embeddings"), "vec_id", "embedding",
        p, targetRows = 256L)
      p
    })

  private val pqIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once persisted PQ index (same CREATE INDEX treatment as
    * IVF/LSH/HNSW): m=8 one-byte codes per 64-dim vector (32×
    * compression of the ranking scan), k=32 centroids per subspace —
    * production would use k=256; 32 keeps the oracle's dumped
    * codebook table small while reaching recall@20 ≥ 0.95 on the
    * near-uniform synthetic vectors (k=16 measured 0.85 — no cluster
    * structure to exploit, PQ's worst case).
    */
  private[graft] val pqM = 8
  private[graft] val pqK = 32
  private def pqIndex(spark: SparkSession, dir: String): String =
    pqIndexCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      val p = sessionTempDir("graft_pq_")
      Pq.buildPqIndex(t(spark, dir, "embeddings"), "vec_id", "embedding",
        p, m = pqM, k = pqK, iterations = 3)
      p
    })

  private val ivfPqIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once persisted IVF-PQ (IVFADC) index: coarse cells +
    * residual PQ codes, same m/k as the flat PQ index.
    */
  private def ivfPqIndex(spark: SparkSession, dir: String): String =
    ivfPqIndexCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      val p = sessionTempDir("graft_ivfpq_")
      Pq.buildIvfPqIndex(t(spark, dir, "embeddings"), "vec_id", "embedding",
        p, nCells = 16, m = pqM, k = pqK, iterations = 3)
      p
    })

  private val lshIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once persisted LSH index (same CREATE INDEX treatment as
    * IVF); shared by annLshTopK and prepare(). bits <= 0 auto-derives
    * the key width from the corpus size (sf0.01 → 3, sf0.1 → 5) so
    * buckets stay parquet-file-sized instead of hundreds of near-empty
    * directories whose open overhead dominated the r3 probe. */
  private def lshIndex(spark: SparkSession, dir: String): String =
    lshIndexCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      val p = sessionTempDir("graft_lsh_")
      Ann.buildLshIndex(t(spark, dir, "embeddings"), "vec_id", "embedding",
        p, bits = 0, prefixDims = matryoshkaDims)
      p
    })

  /** ANN: IVF probe top-k over a PERSISTED k-means index. The index
    * build (Lloyd iterations + cell-partitioned write) runs once per
    * dataset — the analogue of CREATE INDEX — and the query itself is
    * probe-only: centroid argmin on the driver, then a scan of just
    * the nProbe matching cell partitions (PartitionFilters prune the
    * rest).
    */
  private[graft] val annIvfNProbe = 8

  def annIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val qv = queryVec(spark, dir)
    val path = ivfIndex(spark, dir)
    Ann.probeIvfIndex(spark, path, "vec_id", "embedding", qv, k = annTopK,
        nProbe = annIvfNProbe)
      .select(col("id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
  }

  /** ANN: batch kNN join (every query vector → top-5 neighbors),
    * LSH-bucketed with single-bit multiprobe on the query side.
    */
  private[graft] val knnJoinBits = 6
  private[graft] val knnJoinK = 5
  private[graft] val knnQueryMaxId = 50

  def annKnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Ann.knnJoin(emb.filter(col("vec_id") < knnQueryMaxId), emb, "vec_id",
        "embedding", k = knnJoinK, bits = knnJoinBits)
      .select(col("q_id"), col("x_id"), round(col("cos"), 4).as("cos"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** ANN: quantized batch kNN join — the knnJoin candidate generation
    * with int8 codes flowing through the bucket join (4× fewer
    * shuffle bytes both sides), integer-cosine pool cut, exact
    * rescore of the pool pairs only (late materialization).
    */
  private[graft] val quantKnnPool = 20
  def annKnnJoinQuantized(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Ann.knnJoinQuantized(emb.filter(col("vec_id") < knnQueryMaxId), emb,
        "vec_id", "embedding", k = knnJoinK, bits = knnJoinBits,
        pool = quantKnnPool)
      .select(col("q_id"), col("x_id"), round(col("cos"), 4).as("cos"),
        col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** ANN: batch kNN join against the PERSISTED auto-bits LSH index —
    * same probe pattern as ann_knn_join, but the index side reads the
    * pre-bucketed table with the batch's probe-key union pushed into
    * PartitionFilters instead of recomputing keys over a full scan.
    *
    * Scale honesty: at sf0.1 (2,000 rows, one parquet file) this runs
    * SLOWER than the ad-hoc join — the index pays ~32 bucket-file
    * opens, a query-side cache materialization, and a key-union
    * collect, while the "full scan" it avoids is one file. The index
    * path wins when the corpus outgrows the probe set (the avoided
    * work grows with |index| while the overhead stays fixed), which
    * is the regime the operator exists for.
    */
  def annKnnJoinIndexed(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Ann.knnJoinIndexed(spark, lshIndex(spark, dir),
        emb.filter(col("vec_id") < knnQueryMaxId), "vec_id", "embedding",
        k = knnJoinK)
      .select(col("q_id"), col("x_id"), round(col("cos"), 4).as("cos"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** ANN: quantized batch kNN join against the PERSISTED LSH index —
    * the production form of ann_knn_join_quantized: the candidate
    * stage reads the index's persisted int8 codes (ReadSchema pruned
    * to id/q8/bucket — no float vectors and no query-time corpus
    * encode in the shuffle-heavy stage), integer-cosine pool cut,
    * exact rescore of pool pairs only. Oracled with the same
    * integer-rank replay as the ad-hoc variant (persisted codes are
    * bit-identical to quant_aux_codes: same Quantize.quantize, same
    * vectors), over the indexed probe fan-out.
    */
  def annKnnJoinQuantizedIndexed(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Ann.knnJoinQuantizedIndexed(spark, lshIndex(spark, dir),
        emb.filter(col("vec_id") < knnQueryMaxId), "vec_id", "embedding",
        k = knnJoinK, pool = quantKnnPool)
      .select(col("q_id"), col("x_id"), round(col("cos"), 4).as("cos"),
        col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** kNN label propagation (semi-supervised auto-labeling): each
    * held-out vector (vec_id < knnQueryMaxId) takes the majority
    * label of its k nearest LABELED neighbors (vec_id >=
    * knnQueryMaxId), ties broken by the smaller label id — the
    * annotation-propagation pass that turns a small labeled seed set
    * into weak labels for the whole corpus (the relational core of
    * FineWeb-Edu-style classifier bootstrapping, with the kNN vote
    * standing in for the model).
    *
    * Scale shape: the neighbor stage IS [[Ann.knnJoin]] (LSH-bucketed
    * candidates, never a cross join); the label attach is an
    * equi-join on the corpus pkey; the vote is a groupBy over k rows
    * per query and the winner a window over the per-query label
    * groups (≤ k rows each). Oracle: the knnJoinSql replay with the
    * x side restricted to the labeled split, then the same
    * vote/argmax in SQL.
    */
  def knnLabelProp(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val holdout = emb.filter(col("vec_id") < knnQueryMaxId)
    val labeled = emb.filter(col("vec_id") >= knnQueryMaxId)
    val nn = Ann.knnJoin(holdout, labeled, "vec_id", "embedding",
      k = knnJoinK, bits = knnJoinBits)
    val votes = nn
      .join(emb.select(col("vec_id").as("x_id"), col("label")), "x_id")
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val winner = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("__rn", row_number().over(winner))
      .filter(col("__rn") === 1)
      .select(col("q_id").as("vec_id"), col("label").as("pred_label"),
        col("votes"))
      .orderBy(col("vec_id"))
  }

  /** Embedding-space retrieval EVALUATION — the metric pass every
    * embedding/retrieval pipeline runs before shipping an index: for
    * each held-out query, score its k nearest labeled neighbors by
    * label agreement. Emits per-query precision@k (fraction of
    * retrieved neighbors sharing the query's label; n_found-relative
    * so LSH under-fill does not inflate it), the reciprocal rank of
    * the first same-label hit (0.0 when none), and n_found. The
    * neighbor stage IS [[Ann.knnJoin]]; metrics are one
    * map-side-combinable groupBy over ≤k rows per query, so the eval
    * costs no more than the join it measures.
    */
  def evalKnnMetrics(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val holdout = emb.filter(col("vec_id") < knnQueryMaxId)
    val labeled = emb.filter(col("vec_id") >= knnQueryMaxId)
    val nn = Ann.knnJoin(holdout, labeled, "vec_id", "embedding",
      k = knnJoinK, bits = knnJoinBits)
    val lab = emb.select(col("vec_id"), col("label"))
    nn.join(lab.select(col("vec_id").as("q_id"), col("label").as("q_label")),
        Seq("q_id"))
      .join(lab.select(col("vec_id").as("x_id"), col("label").as("x_label")),
        Seq("x_id"))
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_found"),
        round(sum(when(col("q_label") === col("x_label"), 1).otherwise(0))
          .cast("double") / count(lit(1)), 4).as("p_at_k"),
        round(coalesce(lit(1.0) /
          min(when(col("q_label") === col("x_label"), col("rank"))),
          lit(0.0)), 4).as("rr"))
      .select(col("q_id").as("vec_id"), col("n_found"), col("p_at_k"), col("rr"))
      .orderBy(col("vec_id"))
  }

  /** Matryoshka-style truncated-prefix retrieval: rank the corpus by
    * cosine over only the first `matryoshkaDims` dimensions of the
    * embedding (the MRL premise — prefix dims carry the coarse
    * signal), then exact-rescore the top `quantRescoreWindow` pool at
    * full dimensionality — the float twin of the int8 two-stage rank.
    * The coarse rank reads the PERSISTED `vec_prefix` column of the
    * LSH index (denormalized at CREATE INDEX, exactly as the q8 codes
    * are), so the ranking scan's ReadSchema carries prefixDims floats
    * per row instead of the full vector — the dim/`matryoshkaDims`
    * byte cut that is the operator's point at 100 TB (AnnSpec locks
    * the plan: ranking ReadSchema has vec_prefix and no embedding).
    * Only the top-pool rescore joins back to full vectors.
    * A zero prefix has no defined cosine: Spark's expression yields
    * NULL where DuckDB's list_cosine_similarity yields -1.0, so both
    * sides COALESCE to -1.0 — zero-prefix rows rank last instead of
    * diverging (or, with a zero-prefix QUERY, emptying the pool).
    */
  private[graft] val matryoshkaDims = 8
  def annMatryoshkaTopK(spark: SparkSession, dir: String): DataFrame = {
    val qv = queryVec(spark, dir)
    val emb = t(spark, dir, "embeddings")
    val pool = spark.read.parquet(s"${lshIndex(spark, dir)}/buckets")
      .select(col("vec_id"),
        coalesce(cosineSimilarity(col("vec_prefix"),
          lit(qv.take(matryoshkaDims))), lit(-1.0)).as("pcos"))
      .orderBy(col("pcos").desc, col("vec_id").asc)
      .limit(quantRescoreWindow)
      .select(col("vec_id"))
    broadcast(pool).join(emb, "vec_id")
      .select(col("vec_id"),
        round(cosineSimilarity(col("embedding"), lit(qv)), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(annTopK)
  }

  /** ANN: batch kNN join over the persisted HNSW graphs — the graph
    * twin of the LSH joins above (broadcast query batch, per-graph
    * in-memory walks, one candidate-window shuffle). Oracled with the
    * candidates-restricted pattern: exact per-query top-k in DuckDB
    * over the dumped (q_id, x_id) candidate pairs.
    */
  def annHnswKnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Hnsw.knnJoin(spark, hnswIndex(spark, dir),
        emb.filter(col("vec_id") < knnQueryMaxId), "vec_id", "embedding",
        k = knnJoinK, ef = annHnswEf)
      .select(col("q_id"), col("x_id"), round(col("cos"), 4).as("cos"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** ANN: two-stage int8-quantized top-k (operators/Quantize) — rank
    * on integer cosine over 4×-smaller codes, exact-rescore a
    * 100-candidate window. Oracled end to end: the integer ranking
    * stage replays bit-exactly in DuckDB over the dumped codes
    * (integer sums have no summation-order hazards), the rescore is
    * the usual exact-cosine replay.
    */
  private[graft] val quantRescoreWindow = 100
  def annQuantizedTopK(spark: SparkSession, dir: String): DataFrame = {
    val qv = queryVec(spark, dir)
    Quantize.quantizedTopK(t(spark, dir, "embeddings"), "vec_id", "embedding",
        qv, k = annTopK, window = quantRescoreWindow)
      .select(col("id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
  }

  /** ANN: product-quantization ADC top-k over a persisted PQ index —
    * the ranking scan reads 8 one-byte codes per vector (32× fewer
    * bytes than float32), scores via an m×16 driver-built lookup
    * table with decimal-summed terms (addition-order-independent, so
    * the DuckDB replay over dumped codes+table is bit-exact), then
    * exact-rescores the 100-candidate window.
    */
  def annPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val qv = queryVec(spark, dir)
    val path = pqIndex(spark, dir)
    Pq.adcTopK(spark, path, t(spark, dir, "embeddings"), "vec_id", "embedding",
        qv, k = annTopK, window = quantRescoreWindow)
      .select(col("id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
  }

  /** ANN: IVF-PQ (IVFADC) probe — coarse cells prune the scan
    * (PartitionFilters), residual PQ codes rank it (m bytes/vector),
    * score = per-cell constant + decimal-folded lookup-table sum,
    * then the exact rescore. nProbe=8 of 16 cells: the near-uniform
    * synthetic vectors need wide probes (recall@20 = 0.9 measured;
    * clustered real embeddings concentrate faster).
    */
  def annIvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val qv = queryVec(spark, dir)
    val path = ivfPqIndex(spark, dir)
    Pq.ivfPqTopK(spark, path, t(spark, dir, "embeddings"), "vec_id",
        "embedding", qv, k = annTopK, nProbe = annIvfNProbe,
        window = quantRescoreWindow)
      .select(col("id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
  }

  /** ANN: quantized IVF probe — cell pruning AND int8 ranking
    * composed: the candidate pass reads only (vec_id, q8) from the
    * probed cell partitions (4× fewer vector bytes than the float
    * probe), then a broadcast join back to the same cells rescores
    * the window with exact cosine. Oracle replays cell restriction +
    * integer ranking + exact rescore relationally.
    */
  def annIvfQuantizedTopK(spark: SparkSession, dir: String): DataFrame = {
    val qv = queryVec(spark, dir)
    val path = ivfIndex(spark, dir)
    Ann.probeIvfIndexQuantized(spark, path, "vec_id", "embedding", qv,
        k = annTopK, nProbe = annIvfNProbe, window = quantRescoreWindow)
      .select(col("id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
  }

  /** Minimum ROUNDED quality score for pipeline_corpus admission —
    * gate on the rounded value so the Spark and DuckDB sides compare
    * bit-identical numbers at the boundary (raw doubles could differ
    * in the last ulp and flip a doc at exactly the floor).
    */
  private[graft] val corpusQualityFloor = 0.70

  /** End-to-end corpus preparation — the composed LLM-training-data
    * pipeline every operator above exists FOR, as one lazy plan:
    *   1. exclude the benchmark slice (doc_id % decontamMod == 0),
    *   2. quality gate (rounded qualityScore >= corpusQualityFloor),
    *   3. exact dedup, keeping each group's canonical (min-id) doc,
    *   4. decontaminate vs the benchmark slice's bigrams (anti-join),
    *   5. deterministic stratified sample (hash-threshold by lang).
    * DuckDB-oracled as the same CTE chain. Scale shape: stages 1-2
    * and 5 are per-row maps; 3 is one hash shuffle; 4 is the
    * gram-keyed semi-join — no stage materializes between steps, so
    * Catalyst fuses the maps and AQE sizes the two shuffles.
    */
  def pipelineCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val bench = docs.filter(col("doc_id") % decontamMod === 0)
    val corpus = docs.filter(col("doc_id") % decontamMod =!= 0)
    val qual = corpus
      // evalOnce: the gate filter references `quality` by alias, and
      // without the fence PushDownPredicates inlines the whole 2-UDF
      // qualityScore chain into the Filter TOO — every surviving row
      // would tokenize its text twice (PlanSpec locks this)
      .withColumn("quality", evalOnce(round(qualityScore(col("text")), 4)))
      .filter(col("quality") >= corpusQualityFloor)
    // exactKeepFirst (r17, closes the r16 regression): the survivors'
    // (doc_id, lang, quality) payload rides THROUGH the keep-first
    // aggregate as min(struct(...)), so there is no join-back and the
    // gated subtree appears exactly ONCE in the plan — the quality
    // UDFs evaluate once per row (the r16 exactCanonical join-back
    // referenced `qual` on both sides and ran the 2-UDF gate twice;
    // PlanSpec locks the once-only shape). Text is consumed by the
    // group key and never crosses the exchange; the aggregate stays
    // map-side combinable, so a mega-duplicate group still collapses
    // per mapper.
    val canon = Dedup.exactKeepFirst(
        qual.select(col("doc_id"), col("lang"), col("quality"), col("text")),
        "doc_id", "text")
      .drop("group_size")
    // contamination hits depend only on each doc's own grams vs the
    // benchmark, so compute them over the cheap `corpus` scan rather
    // than `canon` — referencing canon twice would duplicate the
    // whole quality+dedup keep-first chain inside the gram subtree
    // (pre-r16 this was two Window+Exchange pairs on the plan; the
    // r16 join-back shape doubles the same way); the superset of
    // contaminated ids anti-joins to the identical result
    val contaminated = Dedup.contaminatedDocs(corpus, bench, "doc_id", "text",
      n = 2, minOverlap = decontamMinOverlap).select(col("id"))
    val clean = canon.join(contaminated,
      canon("doc_id") === contaminated("id"), "left_anti")
    val bucket = substring(md5(concat(col("doc_id").cast("string"), lit(sampleSalt))), 1, 4)
    val threshold = when(col("lang") === "en", lit(sampleThreshEn))
      .otherwise(lit(sampleThreshOther))
    clean.filter(bucket < threshold)
      .select(col("doc_id"), col("lang"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark-contamination report: per eval document, how many
    * corpus documents share ≥ minOverlap distinct bigrams and the
    * worst overlap — the eval-integrity view (which eval items are
    * compromised), complementing decontaminate (which corpus rows to
    * drop).
    */
  def contaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.contaminationReport(
        docs.filter(col("doc_id") % decontamMod =!= 0),
        docs.filter(col("doc_id") % decontamMod === 0),
        "doc_id", "text", n = 2, minOverlap = decontamMinOverlap)
      .select(col("bid").as("bench_id"), col("n_contaminated"),
        col("max_overlap"))
      .orderBy(col("bench_id"))
  }

  /** Deterministic train/validation/test assignment — hash-threshold
    * split (the held-out recipe every training corpus needs):
    * md5(doc_id + salt) routes each document to train (~90%) /
    * val (~5%) / test (~5%). Assignment is a pure per-row function,
    * so it is stable under corpus growth and re-runs — a document
    * never migrates between splits because other rows changed.
    * Returns the per-split × lang sanity report (doc and token
    * totals) a split job emits.
    */
  private[graft] val splitSalt = ":split1"
  private[graft] val splitTrainMax = "e666" // ~90% of 0000..ffff
  private[graft] val splitValMax = "f333" // next ~5%
  /** The ONE split-assignment expression — shared by [[splitAssign]]
    * and [[evalSplitLeakage]], whose oracles replay exactly this
    * md5-prefix arithmetic; editing one side breaks parity.
    */
  private def splitOf(id: Column): Column = {
    val h = substring(md5(concat(id.cast("string"), lit(splitSalt))), 1, 4)
    when(h < lit(splitTrainMax), lit("train"))
      .when(h < lit(splitValMax), lit("val"))
      .otherwise(lit("test"))
  }
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("split", splitOf(col("doc_id")))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(sqlTokens(col("text")))).as("total_tokens"))
      .orderBy(col("split"), col("lang"))

  /** CROSS-SPLIT leakage matrix — the eval-integrity check on the
    * engine's OWN splits: near-duplicate document pairs that CROSS a
    * train/val/test boundary (a test doc near-duplicating a train doc
    * evaluates memorization, not generalization — the within-corpus
    * sibling of the benchmark decontamination ladder, which guards
    * EXTERNAL eval sets). Per (split_a < split_b) pair: leaking pair
    * count + the closest pair's similarity (max of 4dp jaccards, the
    * order-proof choice). Pairs come from the SAME persisted-store
    * sweep as dedup_minhash_lsh_stored; the split label is the
    * [[splitOf]] per-row arithmetic on the pair's own ids — zero
    * joins beyond the sweep itself, so the matrix is free for any
    * pipeline that maintains the signature index. A correctly split
    * corpus still leaks EXPECTED near-dups (hash splitting can't see
    * content); this matrix is the dial that says whether to dedup
    * BEFORE splitting.
    */
  def evalSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minHashLshPairsStored(fullSigStore(spark, dir), "sigs",
        threshold = minHashThreshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    val sa = splitOf(col("id_a"))
    val sb = splitOf(col("id_b"))
    pairs
      .withColumn("split_a", least(sa, sb))
      .withColumn("split_b", greatest(sa, sb))
      .filter(col("split_a") =!= col("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_leak_pairs"), max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Sequence packing for training (the document-level "pack until
    * budget" recipe, T5 §3.1.2 / GPT-style concat-and-cut at doc
    * grain): documents pack into fixed token-budget bins in a
    * deterministic order, bin = floor(running-token-total-BEFORE-this-
    * doc / budget) — the doc straddling a boundary goes to the bin
    * where it started, and an oversized doc still lands in a bin (the
    * R4 batching edge case at corpus level). Returns the per-bin
    * manifest (n_docs, n_tokens) a packing job emits.
    *
    * Scale shape: the running cumsum is a window over (lang, shard),
    * ordered by doc_id — sharding bounds every window partition by
    * construction (a single dominant language would otherwise put its
    * entire ordered cumsum on ONE task at 100 TB; shards make it
    * nShards independent pack streams, the standard per-shard packing
    * of a real training pipeline). The shard key is doc_id % nShards
    * — arithmetic, not murmur — so the DuckDB oracle replays the
    * identical assignment.
    */
  /** Training-export shard manifest: deterministic md5 sharding of
    * the corpus into [[exportNShards]] loader units with per-shard
    * doc/token counts ([[operators.Export]] — the terminal fan-out
    * after packing; manifest = one narrow scan + an N-row map-side
    * aggregate; empty shards surface as zero rows). The md5 bucket
    * replays bit-identically in DuckDB, which is exactly why the
    * operator avoids Spark's Murmur hash.
    */
  private[graft] val exportNShards = 8
  def exportShardManifest(spark: SparkSession, dir: String): DataFrame =
    operators.Export.shardManifest(t(spark, dir, "documents"), "doc_id",
        size(sqlTokens(col("text"))), exportNShards)
      .orderBy(col("shard"))

  /** Deterministic per-shard training order (the reproducible global
    * shuffle) — [[operators.Export.shardOrder]] over the corpus with
    * a fixed epoch seed. */
  private[graft] val exportOrderSeed = "graft-epoch-0"
  def exportOrder(spark: SparkSession, dir: String): DataFrame =
    operators.Export.shardOrder(t(spark, dir, "documents"), "doc_id",
        exportNShards, exportOrderSeed)
      .select(col("shard"), col("seq"), col("doc_id"), col("sort_key"))
      .orderBy(col("shard"), col("seq"))

  /** CURRICULUM training order — [[operators.Export.shardOrderBy]]
    * with the per-language quality PERCENTILE as the ascending
    * curriculum signal: every shard's stream ends on its
    * highest-quality documents (the end-of-run quality anneal
    * schedule), the md5 key deterministically tie-breaking within a
    * percentile so re-exports replay the identical order. Percentile,
    * not raw quality, so "best last" means the same thing in every
    * language. Composes two proven shapes: the histogram-CDF
    * percentile (broadcast back, corpus never windowed by lang) and
    * the md5-bucket-bounded per-shard row_number window.
    */
  def exportCurriculum(spark: SparkSession, dir: String): DataFrame =
    operators.Export.shardOrderBy(
        qualityPercentiled(spark, dir).select(col("doc_id"), col("pct")),
        "doc_id", exportNShards, exportOrderSeed, col("pct"))
      .select(col("shard"), col("seq"), col("doc_id"),
        col("level").as("pct"))
      .orderBy(col("shard"), col("seq"))

  /** CURRICULUM export of the CLEANED corpus — the composed terminal a
    * production run actually ships ([[exportCurriculum]] runs on the
    * raw table; [[pipelinePack]] packs the ladder's survivors; this
    * orders them): the full decontamination ladder's survivors,
    * curriculum-ordered by per-language quality percentile (ascending
    * — best data LAST, the end-of-run anneal) with the md5 epoch key
    * as the deterministic tiebreak. The CDF is computed over the
    * SURVIVORS themselves — calibrate on what ships, not on what was
    * dropped: after cleaning, "top 20%" must mean top 20% of the
    * training distribution.
    *
    * One composed lazy plan with one internal truncation: the
    * survivors' (doc_id, lang, quality) frame — NARROW, no text — is
    * localCheckpointed INSIDE [[qualityPercentiledOf]] (r18; the
    * checkpoint used to live here) because the percentile join
    * references its docs twice (histogram pass + join-back pass) and
    * each reference would otherwise re-run the ladder's three banded
    * index probes; with it the chain runs once and both passes read
    * the materialized 3-column frame (the clusterCanonical
    * convention). The window is the md5-bucket-bounded per-shard
    * row_number — no partition outgrows ~|survivors|/nShards.
    */
  def pipelineCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val scored = ingestSpecs("_ladder").survivors(spark, dir)
      .select(col("doc_id"), col("lang"),
        qualityScore(col("text")).as("quality"))
    operators.Export.shardOrderBy(
        qualityPercentiledOf(scored).select(col("doc_id"), col("pct")),
        "doc_id", exportNShards, exportOrderSeed, col("pct"))
      .select(col("shard"), col("seq"), col("doc_id"),
        col("level").as("pct"))
      .orderBy(col("shard"), col("seq"))
  }

  private[graft] val packBudget = 512L
  private[graft] val packShards = 8

  /** The binned per-doc frame (lang, shard, doc_id, n_toks,
    * cum_before, bin) — the ONE definition of the shard arithmetic,
    * exclusive cumsum, and bin rule behind every packing view
    * ([[packSequences]], [[pipelinePack]], [[packOffsets]]); the
    * DuckDB oracles replay exactly this arithmetic.
    *
    * nShards is a real knob (r17 — it was a hard-coded 8): the
    * per-(lang, shard) cumsum window is inherently sequential per
    * partition (T5-style packing is per-stream sequential by
    * definition), so a dominant language's stream at 100x corpus is
    * a single-task prefix-sum tail unless the operator's shard count
    * scales with the corpus. The QUERY entries keep [[packShards]]=8
    * so the committed oracles and hashes stand; a production caller
    * sizes nShards so corpus_rows/(langs·nShards) stays a task-sized
    * partition (ScaleSpec pins the hot-language rung). */
  private[graft] def packBinned(docs: DataFrame,
      nShards: Int = packShards): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("lang"),
        (col("doc_id") % nShards).cast("int").as("shard"),
        col("doc_id"), size(sqlTokens(col("text"))).cast("long").as("n_toks"))
      .withColumn("cum_before",
        coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .withColumn("bin", floor(col("cum_before") / packBudget))
  }

  /** The shard-bounded pack-bin manifest of a docs frame — the
    * per-bin rollup of [[packBinned]], shared by [[packSequences]]
    * (raw corpus) and [[pipelinePack]] (the ladder's survivors). */
  private[graft] def packBins(docs: DataFrame,
      nShards: Int = packShards): DataFrame =
    packBinned(docs, nShards)
      .groupBy(col("lang"), col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .orderBy(col("lang"), col("shard"), col("bin"))

  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packBins(t(spark, dir, "documents"))

  /** Packing-efficiency report — the rollup a loader team reads
    * before training: per (lang, shard) stream, how many fixed-budget
    * bins the packing produced and how full they are
    * (fill_rate = n_tokens / (n_bins · budget)). Fill rate can exceed
    * 1: the bin rule places a document by the tokens BEFORE it, so a
    * doc straddling the boundary overflows its bin rather than
    * splitting (the padding-vs-truncation trade this report exists to
    * quantify). Same [[packBins]] frame as pack_sequences, so the
    * report can never disagree with the manifest it summarizes; the
    * second rollup is an N-bins-row aggregate, free at any scale.
    */
  def packEfficiency(spark: SparkSession, dir: String): DataFrame =
    packBins(t(spark, dir, "documents"))
      .groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("n_bins"), sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("fill_rate", round(col("n_tokens").cast("double") /
        (col("n_bins") * packBudget).cast("double"), 6))
      .orderBy(col("lang"), col("shard"))

  /** Per-document packing-offset manifest — the loader-facing twin of
    * [[packSequences]]: where pack_sequences reports per-bin totals,
    * this emits each document's PLACEMENT — (bin, position-in-bin,
    * token offset) inside its (lang, shard) stream — exactly what a
    * sequence-packing loader needs to lay docs into fixed-length
    * rows and build the cross-document attention-mask boundaries
    * (the "doc-mask" offsets of packed pretraining batches). Same
    * shard arithmetic and bin rule as packSequences, so the two
    * manifests agree by construction.
    *
    * Scale shape: ONE narrow exchange — the (lang, shard) hash
    * shuffle feeds the cumsum AND the (lang, shard, bin) placement
    * windows, because hash partitioning on a PREFIX of the window
    * keys already clusters them (Spark re-sorts in place, no second
    * Exchange) — over an (id, n_toks, 3 ints) manifest; n_toks
    * computes at the scan, so document text never shuffles.
    * tok_offset is
    * cum-before-doc minus the bin's minimum cum (the bin's start),
    * i.e. tokens already laid into the bin when this doc starts.
    */
  private[graft] def packPlacement(docs: DataFrame,
      nShards: Int = packShards): DataFrame = {
    val wBinAll = Window.partitionBy(col("lang"), col("shard"), col("bin"))
    val wBinOrd = wBinAll.orderBy(col("doc_id"))
    packBinned(docs, nShards)
      .withColumn("pos", row_number().over(wBinOrd) - 1)
      .withColumn("tok_offset",
        col("cum_before") - min(col("cum_before")).over(wBinAll))
      .select(col("lang"), col("shard"), col("bin"), col("pos"),
        col("doc_id"), col("n_toks"), col("tok_offset"))
      .orderBy(col("lang"), col("shard"), col("bin"), col("pos"))
  }

  def packOffsets(spark: SparkSession, dir: String): DataFrame =
    packPlacement(t(spark, dir, "documents"))

  /** [[packOffsets]] over the full-ladder chain's survivors — the
    * loader-facing placement manifest of the CLEANED corpus, the
    * per-doc sibling of [[pipelinePack]]'s per-bin rollup: a training
    * loader consumes exactly this (cleaned docs laid into fixed
    * token-budget rows with attention-boundary offsets). One composed
    * lazy plan; the chain's tagged pass feeds the same shard-bounded
    * windows. */
  def pipelinePackOffsets(spark: SparkSession, dir: String): DataFrame =
    packPlacement(ingestSpecs("_ladder").survivors(spark, dir))

  /** Terminal packing of the CLEANED corpus — [[packSequences]] over
    * the full-ladder chain's survivors instead of the raw table (the
    * production order: a pipeline packs what survived cleaning). One
    * composed plan: the chain's tagged pass feeds the shard-bounded
    * cumsum windows directly; nothing materializes in between.
    */
  def pipelinePack(spark: SparkSession, dir: String): DataFrame =
    packBins(ingestSpecs("_ladder").survivors(spark, dir))

  /** Hard-negative mining for contrastive training (the DPR/ANCE
    * recipe): for each query document, the top-3 embedding-nearest
    * neighbors that are NOT near-duplicate text — close enough to be
    * hard, lexically distinct enough (bigram Jaccard < 0.5) to be
    * true negatives. Candidates come from the LSH-bucketed knnJoin
    * pool (never all pairs); the Jaccard gate computes only on the
    * |queries|·pool candidate pairs via two id-joins against the
    * per-doc bigram sets, so the gate's cost is bounded by the pool,
    * not the corpus.
    */
  private[graft] val hardNegPool = 10
  private[graft] val hardNegK = 3
  private[graft] val hardNegMaxJaccard = 0.5
  def mineHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val docs = t(spark, dir, "documents")
    val cands = Ann.knnJoin(emb.filter(col("vec_id") < knnQueryMaxId), emb,
      "vec_id", "embedding", k = hardNegPool, bits = knnJoinBits)
    val grams = docs.select(col("doc_id"), Dedup.ngramSet(col("text"), 2).as("g"))
    val jac = cands
      .join(grams.select(col("doc_id").as("q_id"), col("g").as("gq")), Seq("q_id"))
      .join(grams.select(col("doc_id").as("x_id"), col("g").as("gx")), Seq("x_id"))
      .withColumn("__i", size(array_intersect(col("gq"), col("gx"))))
      .withColumn("__u", size(col("gq")) + size(col("gx")) - col("__i"))
      .withColumn("__j", when(col("__u") > 0,
        col("__i").cast("double") / col("__u")).otherwise(lit(0.0)))
    jac.filter(col("__j") < hardNegMaxJaccard)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("x_id").asc)))
      .filter(col("rank") <= hardNegK)
      .select(col("q_id"), col("x_id"), round(col("cos"), 4).as("cos"),
        col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** C4-recipe composition (quality gate → corpus-wide span dedup →
    * per-language corpus stats): the end-to-end shape of a C4-style
    * cleaning run, one lazy plan — the quality gate is per-row, span
    * dedup contributes its two shuffles, the summary is one partial
    * agg. Documents that lose every span leave the corpus, exactly as
    * in C4.
    */
  def pipelineC4(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val qual = docs
      .filter(round(qualityScore(col("text")), 4) >= corpusQualityFloor)
      .select(col("doc_id"), col("lang"), col("text"))
    val deduped = Dedup.spanDedup(qual, "doc_id", "text",
      spanTokens = spanDedupTokens)
    // lang comes from the RAW table, not `qual` (r17): deduped already
    // contains only gated ids, so joining the ungated scan is the
    // same rows — referencing `qual` here planned the qualityScore
    // gate a THIRD time (spanDedup's two tokenization passes each
    // embed it; this join re-ran it over the full corpus again)
    deduped.filter(col("n_kept") > 0)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(filter(split(col("clean_text"), " "), x => x =!= "")))
          .as("total_tokens"),
        sum(col("n_removed")).as("spans_removed"))
      .orderBy(col("lang"))
  }

  /** Near-dup dedup composed end-to-end — the document-grain twin of
    * pipeline_c4, the "clean a corpus" job a real pipeline runs
    * nightly, as one lazy plan:
    *   1. MinHash+LSH near-dup pairs (banded, band-key-only shuffle),
    *   2. connected components (alternating large-star/small-star),
    *   3. keep each cluster's canonical (min-id) member — docs in no
    *      pair are singletons and survive untouched (anti-join on the
    *      non-canonical ids, never a join against the full label set),
    *   4. per-language corpus stats over the survivors.
    * DuckDB-oracled end-to-end: the pair replay + recursive-CTE
    * closure already proven in the cluster oracles, extended with the
    * anti-join and the per-lang aggregate.
    */
  def pipelineNeardup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // stored pair sweep (pinned identical to the storeless form)
    val pairs = Dedup.minHashLshPairsStored(fullSigStore(spark, dir), "sigs",
      threshold = minHashThreshold)
    val labels = Dedup.clusterCanonicalStar(pairs)
    // only NON-canonical pair members leave the corpus; the anti-join
    // key set is bounded by the pair-graph size, not the corpus
    val losers = labels.filter(col("id") =!= col("cluster_id"))
      .select(col("id"))
    docs.join(losers, docs("doc_id") === losers("id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(sqlTokens(col("text")))).as("total_tokens"))
      .orderBy(col("lang"))
  }

  /** Multimodal: binary-asset metadata (decode-free pushdown path). */
  def mmDescribe(spark: SparkSession, dir: String): DataFrame =
    Multimodal.describeAssets(
        Multimodal.syntheticAssets(t(spark, dir, "documents"), "doc_id", "text"))
      .select(col("asset_id"), col("media_type"), col("n_bytes"),
        col("width"), col("height"), col("duration_ms"))
      .orderBy(col("asset_id"))

  /** Multimodal: stubbed decode → feature vectors. The decoder
    * bytes→features map is the declared deterministic fake
    * (Multimodal.decodeFeaturesStub); its per-asset output over the
    * FULL corpus is dumped as mm_aux_features, so the RELATIONAL
    * layer here — the asset filter, list element extraction, rounding,
    * and ordering — is DuckDB-oracled over identical feature inputs
    * (the MinHash/PQ/BPE dump-and-replay convention).
    */
  def mmFeatures(spark: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.syntheticAssets(
      t(spark, dir, "documents").filter(col("doc_id") < 100), "doc_id", "text")
    Multimodal.decodeFeaturesStub(assets, dim = 16)
      .select(col("asset_id"),
        round(element_at(col("features"), 1).cast("double"), 4).as("f1"),
        round(element_at(col("features"), 16).cast("double"), 4).as("f16"))
      .orderBy(col("asset_id"))
  }

  /** Multimodal NEAR-dup: perceptual-hash pairs over the 64-dim
    * perceptual feature vectors
    * ([[graft.operators.Multimodal.perceptualHashPairs]] — per-row
    * mean-thresholded feature bits, banded Hamming join, full recall
    * by pigeonhole). The feature extractor is the declared fake (a
    * chunk-mean stand-in with real perceptual-feature LOCALITY);
    * the fingerprint/banding/verify path is the real production
    * pipeline a JNI or mapInPandas decoder would feed, and the
    * all-integer fingerprint math needs no float-parity care in the
    * oracle (which brute-forces over the same dumped features).
    */
  private[graft] val mmNeardupMaxHamming = 3
  private[graft] val mmNeardupDim = 64
  private[graft] def mmPerceptualFeatures(spark: SparkSession, dir: String)
      : DataFrame =
    Multimodal.perceptualFeaturesStub(
        Multimodal.syntheticAssets(t(spark, dir, "documents"), "doc_id", "text"),
        dim = mmNeardupDim)
      .select(col("asset_id"), col("features"))
  def mmNeardup(spark: SparkSession, dir: String): DataFrame =
    Multimodal.perceptualHashPairs(mmPerceptualFeatures(spark, dir),
        "asset_id", "features", dim = mmNeardupDim,
        maxHamming = mmNeardupMaxHamming)
      .orderBy(col("id_a"), col("id_b"))

  /** DECODED-pixel multimodal entries (r20, the r19 verdict's #2 —
    * the real image decoder under the driver gate): the asset table
    * is [[graft.operators.Multimodal.syntheticImageAssets]] — real
    * PNG bytes, JPEG re-encodes of the SAME pixels one id up, and
    * raw text bytes no reader accepts — and the feature column comes
    * from [[graft.operators.Multimodal.imageBlockLuma]]'s actual
    * javax.imageio decode (raw rows exercising the byteChunkMeans
    * fallback inside the same entry). The per-asset vectors are
    * dumped as mm_aux_dfeatures (deterministic: JDK PNG/JPEG encodes
    * are byte-stable for fixed pixels, the decode is a pure function
    * of the bytes), so DuckDB oracles the RELATIONAL layer — element
    * extraction/rounding/order here, the brute-force fingerprint
    * pair replay for the near-dup twin — over feature vectors that
    * provably came from decoded pixels (the chunk_table convention of
    * oracling a driver-opaque producer, extension/src/api.rs:17-78).
    */
  private[graft] val mmDecodedCount = 120
  private[graft] def mmDecodedFeatures(spark: SparkSession, dir: String)
      : DataFrame =
    Multimodal.perceptualFeaturesWith(
        Multimodal.syntheticImageAssets(
          t(spark, dir, "documents").filter(col("doc_id") < mmDecodedCount),
          "doc_id", "text"),
        Multimodal.imageBlockLuma(mmNeardupDim))
      .select(col("asset_id"), col("codec"), col("features"))

  def mmFeaturesDecoded(spark: SparkSession, dir: String): DataFrame =
    mmDecodedFeatures(spark, dir)
      .select(col("asset_id"), col("codec"),
        round(element_at(col("features"), 1).cast("double"), 4).as("f1"),
        round(element_at(col("features"), 33).cast("double"), 4).as("f33"),
        round(element_at(col("features"), 64).cast("double"), 4).as("f64"))
      .orderBy(col("asset_id"))

  /** Cross-codec near-dup over the DECODED features: every PNG must
    * pair with its JPEG re-encode sibling (visually identical, byte
    * streams entirely different — the pairing only a pixel decoder
    * can make; the byte fake provably cannot), through the SAME
    * banded fingerprint pipeline as mm_neardup. The oracle
    * brute-forces pairs over the dumped vectors (full recall by
    * pigeonhole makes the banded engine path ≡ brute force).
    */
  def mmNeardupDecoded(spark: SparkSession, dir: String): DataFrame =
    Multimodal.perceptualHashPairs(
        mmDecodedFeatures(spark, dir).select(col("asset_id"), col("features")),
        "asset_id", "features", dim = mmNeardupDim,
        maxHamming = mmNeardupMaxHamming)
      .orderBy(col("id_a"), col("id_b"))

  /** Multimodal: video frame sampling (Multimodal.sampleFramesStub) —
    * evenly spaced frame rows exploded per video asset. The relational
    * layer (video filter, inclusive sequence explode, per-frame byte
    * slice) is DuckDB-oracled via md5 of the frame bytes; only the
    * bytes themselves are the declared stub (a text slice standing in
    * for an ffmpeg frame grab).
    */
  private[graft] val mmFrameEveryMs = 5000L

  def mmFrames(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFramesStub(
        Multimodal.syntheticAssets(t(spark, dir, "documents"), "doc_id", "text"),
        everyMs = mmFrameEveryMs)
      .select(col("asset_id"), col("frame_ts_ms"), md5(col("frame")).as("frame_md5"))
      .orderBy(col("asset_id"), col("frame_ts_ms"))

  /** Multimodal: image-resize contract (Multimodal.resizeStub) — the
    * aspect-ratio-preserving dimension clamp and byte re-encode slice
    * are pure built-ins, replayed exactly in DuckDB; only the actual
    * pixel work is the declared stub.
    */
  private[graft] val mmResizeMaxSide = 256

  def mmResize(spark: SparkSession, dir: String): DataFrame =
    Multimodal.resizeStub(
        Multimodal.syntheticAssets(
          t(spark, dir, "documents").filter(col("doc_id") % 3 === 0), "doc_id", "text"),
        maxSide = mmResizeMaxSide)
      .select(col("asset_id"), col("width"), col("height"),
        md5(col("content")).as("content_md5"))
      .orderBy(col("asset_id"))

  /** Text quality metrics (oracle-checkable signal subset). */
  def textQualityMetrics(spark: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    t(spark, dir, "documents")
      .select(col("doc_id"),
        length(txt).as("n_chars_m"),
        size(sqlTokens(txt)).as("n_tokens"),
        round(length(regexp_replace(txt, "[^a-z]", ""))
          .cast("double") / length(txt), 4).as("alpha_ratio"),
        round(size(array_distinct(sqlTokens(txt)))
          .cast("double") / size(sqlTokens(txt)), 4).as("distinct_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Full quality score (library UDF path; DuckDB-oracled signal by
    * signal — see Oracles "text_quality_score" — plus TestSpec units). */
  def textQualityScore(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))

  /** Per-language RANK-normalized quality — each doc's cume_dist
    * (share of same-language docs scoring ≤ it): the calibration
    * layer that makes one quality threshold comparable across
    * languages, where raw scores aren't (stopword and punctuation
    * signals are English-tuned, so "top 20% of German" and "top 20%
    * of English" are different raw cutoffs — FineWeb-2 style
    * per-language percentile gating).
    *
    * Scale shape — the naive form is a corpus-wide window
    * PARTITIONED BY lang: with a handful of languages at 100 TB
    * that's a few executor-crushing mega-partitions. Instead the CDF
    * computes on the quality HISTOGRAM: the 4dp-rounded score has ≤
    * 10001 cells per language, so one map-side-combinable
    * groupBy(lang, quality) reduces the corpus to a tiny frame, the
    * running sum windows over THAT (langs × cells rows), and the
    * per-row percentile comes back via a BROADCAST join — the corpus
    * itself never shuffles (PlanSpec locks the shape) and is SCANNED
    * ONCE (r18: the scored narrow frame is localCheckpointed inside
    * [[qualityPercentiledOf]], so the histogram pass and the join
    * pass both read the materialized 3-column frame). Identical
    * semantics to cume_dist by construction: cum(cells ≤ mine) IS
    * "rows with quality ≤ mine", peers included.
    *
    * The percentile frame itself ([[qualityPercentiled]]) is shared
    * with the curriculum export so the CDF definition cannot drift.
    */
  def qualityPercentile(spark: SparkSession, dir: String): DataFrame =
    qualityPercentiled(spark, dir).orderBy(col("doc_id"))

  /** The ACTIONABLE form of [[qualityPercentile]] — the FineWeb-2
    * style per-language percentile GATE: keep every document in its
    * language's top (1 − gate) quantile. Rank-based, so one knob
    * means the same thing in every language (a raw-score cutoff
    * would keep 60% of English and 5% of German); deterministic and
    * rerunnable (no RNG). Same shared percentile frame, one more
    * per-row comparison — the corpus still never shuffles.
    */
  private[graft] val percentileGate = 0.8
  def samplePercentile(spark: SparkSession, dir: String): DataFrame =
    qualityPercentiled(spark, dir)
      .filter(col("pct") >= percentileGate)
      .orderBy(col("doc_id"))

  private val pctCdfStoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once persisted quality-CDF calibration snapshot over the
    * corpus — the batch twin of the streaming gate's store
    * ([[operators.QualityCal.buildPercentileStore]]); tiny (≤10001
    * cells per language), rebuilt per (session, dir) like
    * [[fullSigStore]]. */
  private def pctCdfStore(spark: SparkSession, dir: String)
      : graft.sources.ParquetStore = {
    val root = pctCdfStoreCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      val p = sessionTempDir("graft_pctcdf_")
      operators.QualityCal.buildPercentileStore(
        new graft.sources.ParquetStore(spark, p), "quality_cdf",
        t(spark, dir, "documents"), "lang", "text", snapshot = "corpus-v1")
      p
    })
    new graft.sources.ParquetStore(spark, root)
  }

  /** [[samplePercentile]] served through the PERSISTED calibration
    * snapshot — the production serving path: the gate probes the
    * store table by RANGE lookup ([[operators.QualityCal
    * .withPercentile]]: distinct (lang, quality) pairs vs the
    * broadcast CDF, max cell ≤ the row's quality, rows never shuffle)
    * after [[operators.QualityCal.requireCdf]] clears the snapshot's
    * provenance — exactly what the streaming percentile gate runs per
    * micro-batch. Against a snapshot of the SAME corpus the range
    * lookup reduces to each row's own cume_dist, so this shares
    * sample_percentile's oracle-level answer while exercising the
    * store/probe path end-to-end.
    */
  def samplePercentileSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val store = pctCdfStore(spark, dir)
    // validate + read as ONE consistent pair (r16): the cells gated
    // with are the ones the cleared snapshot label was committed with
    val cdf = operators.QualityCal.loadCdf(store, "quality_cdf",
      "sample_percentile_snapshot", expectSnapshot = Some("corpus-v1"))
    val scored = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), qualityScore(col("text")).as("quality"))
    operators.QualityCal.withPercentile(scored, cdf,
        "lang", col("quality"))
      .filter(col("pct") >= percentileGate)
      .select(col("doc_id"), col("lang"), col("quality"), col("pct"))
      .orderBy(col("doc_id"))
  }

  /** The percentile frame (doc_id, lang, quality, pct) without the
    * presentation sort — see [[qualityPercentile]] for the design.
    * The join back is NULL-SAFE on lang (<=>): a NULL-language doc
    * must still receive its percentile (the histogram's groupBy keeps
    * NULL as a group, exactly like the oracle's PARTITION BY lang),
    * where a plain equi-join would silently DROP it — data loss in
    * the curriculum export that composes this frame. quality is
    * never null (qualityScore coalesces its inputs). */
  private def qualityPercentiled(spark: SparkSession, dir: String): DataFrame =
    qualityPercentiledOf(t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), qualityScore(col("text")).as("quality")))

  /** [[qualityPercentiled]] over an arbitrary scored frame
    * (doc_id, lang, quality) — the histogram CDF itself is the shared
    * [[operators.QualityCal.cdfOf]] (ONE definition with the persisted
    * streaming calibration snapshot, so batch and stream percentiles
    * can never drift); the equi-join back is exact because every
    * scored row's quality value is by construction a histogram cell.
    *
    * `scored` is referenced TWICE (histogram pass + join pass), so it
    * is localCheckpointed HERE (r18, the r17 verdict's #1): the frame
    * is narrow by contract — (doc_id, lang, quality), no text — and
    * the checkpoint makes the upstream (the corpus text scan + 2-UDF
    * qualityScore, or the ladder chain's banded probes) run ONCE,
    * with both passes reading the materialized 3-column RDD. The
    * pre-r18 shape scanned and scored the corpus twice per query
    * across quality_percentile / sample_percentile / export_curriculum
    * — a straight 2x on the calibration family at scale (the same
    * double-reference shape r17 removed from keep-first dedup;
    * PlanSpec pins no-parquet-scan on quality_percentile).
    */
  private[graft] def qualityPercentiledOf(scored: DataFrame): DataFrame = {
    val s = scored.localCheckpoint(false)
    val cdf = operators.QualityCal.cdfOf(s)
      .withColumnRenamed("lang", "__cl")
      .withColumnRenamed("quality", "__cq")
    s.join(broadcast(cdf),
        s("lang") <=> cdf("__cl") && s("quality") === cdf("__cq"))
      .select(col("doc_id"), col("lang"), col("quality"), col("pct"))
  }

  /** Within-document repetition: duplicated token-n-gram fraction
    * (1 − distinct/total over 3-gram shingles) — the Gopher-family
    * repetition quality signal (Rae et al. 2021 §A1.1 use duplicate
    * n-gram fractions to drop loops/boilerplate; this is the token
    * form). PURE built-ins on both sides (no aux dump): Spark
    * transform+slice over the shared sqlTokens tokenizer; DuckDB
    * replays identical list algebra. Docs with < n tokens have no
    * n-grams → repetition 0.
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val n = 3
    // tokens MUST be a materialized column, not an inline expression:
    // a lambda child re-evaluates per array element, so slicing an
    // inline split-expression inside transform() re-tokenizes the doc
    // once per gram — O(tokens²) per row (measured 9.8 s vs 0.5 s at
    // sf0.1)
    val toks = col("__t")
    // sequence(1, stop) DESCENDS when stop < 1, so short docs need an
    // explicit empty-array branch rather than a clamped stop
    val grams = when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    t(spark, dir, "documents")
      .withColumn("__t", sqlTokens(col("text")))
      .withColumn("__g", grams)
      .select(col("doc_id"),
        when(size(col("__g")) === 0, lit(0.0))
          .otherwise(round(lit(1.0) -
            size(array_distinct(col("__g"))).cast("double") / size(col("__g")), 4))
          .as("rep3"))
      .orderBy(col("doc_id"))
  }

  /** Per-document token Shannon entropy — the low-entropy detector
    * (keyword-stuffed, boilerplate, generated-loop text scores near
    * zero; diverse prose near ln(n_distinct)). H = ln(n) − (Σ c·ln c)/n
    * over the doc's token counts, plus the ln(n_distinct)-normalized
    * form. EXACT and summation-order-proof: each c·ln c term is cast
    * to DECIMAL(28,12) before the sum (the PQ-ADC strategy), so
    * partition order cannot perturb low bits vs the oracle. Two
    * map-side-combinable aggregations ((doc, tok) partials → doc),
    * no shuffle beyond them and the presentation sort. Token-less
    * docs have no defined entropy and drop (the oracle's group-by
    * agrees).
    */
  def textTokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val perTok = t(spark, dir, "documents")
      // outer + null drop: keeps the inferred explode filter from
      // inlining the tokenizer into the scan (dedup_spans r16 trap)
      .select(col("doc_id"), explode_outer(sqlTokens(col("text"))).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val agg = perTok.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum((col("c") * log(col("c"))).cast("decimal(28,12)"))
          .cast("double").as("__clnc"))
    // clamped at 0: the decimal-rounded Σc·ln c can exceed ln(n)·n by
    // ~1e-13 for a constant-token doc, and a tiny negative h rounds
    // to +0.0 on Spark but -0.0 in DuckDB — repr-level hash mismatch
    val h = greatest(log(col("n_tokens")) - col("__clnc") / col("n_tokens"),
      lit(0.0))
    agg.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(h, 4).as("entropy"),
        round(when(col("n_distinct") > 1, h / log(col("n_distinct")))
          .otherwise(lit(0.0)), 4).as("norm_entropy"))
      .orderBy(col("doc_id"))
  }

  // Blocklist shared with the DuckDB oracle. C4 (Raffel et al. 2020
  // §2.2) drops any page containing a term from the LDNOOBW word
  // list; the real list is a drop-in swap for these demo terms (the
  // two appear in the synthetic corpus, so both branches exercise).
  private[graft] val blocklistTerms = Seq("slow", "error")

  /** C4-style blocklist filter: a document is dropped if ANY of its
    * distinct tokens appears on the blocklist. Emits the distinct-hit
    * count and the keep flag so a pipeline can audit what the filter
    * took. Per-row pure (array_intersect against the literal list, no
    * shuffle beyond the presentation sort). At a production list size
    * (~2k terms per language) the literal-array intersect still
    * evaluates per row in one pass; a list too large to inline swaps
    * to exploded tokens + a broadcast semi-join without changing the
    * answer.
    */
  def textBlocklist(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("__t", sqlTokens(col("text")))
      .select(col("doc_id"),
        size(array_intersect(array_distinct(col("__t")),
          array(blocklistTerms.map(lit): _*))).as("n_blocked"))
      .withColumn("keep", when(col("n_blocked") === 0, 1).otherwise(0))
      .orderBy(col("doc_id"))

  // Gopher rule constants (Rae et al. 2021 §A1.1), shared with the
  // DuckDB oracle so the two sides can never drift. The paper's
  // "required words" list — a doc must contain ≥ 2 of these.
  private[graft] val gopherStopWords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private[graft] val gopherMinWords = 50
  private[graft] val gopherMaxWords = 100000

  /** Gopher document-quality rule battery (Rae et al. 2021 §A1.1):
    * word-count bounds, mean-word-length window, symbol-to-word
    * ratio (# and … the paper's two symbols), bullet-started and
    * ellipsis-ended line fractions, alphabetic-word fraction, and the
    * ≥2-required-stopwords gate. Emits every signal plus the composed
    * keep flag so a pipeline can tune individual thresholds. PURE
    * built-ins per row on both sides (no aux dump, no shuffle except
    * the presentation sort); all comparisons run on the ROUNDED
    * signals so the keep boundary is pinned against float noise.
    * Words = whitespace split (the paper's notion), not the alnum
    * tokenizer — stopword containment alone reuses [[sqlTokens]].
    */
  def textGopherRules(spark: SparkSession, dir: String): DataFrame = {
    val words = filter(split(col("text"), "\\s+"), w => w =!= "")
    val lines = split(col("text"), "\n")
    val nWords = size(col("__w"))
    val meanLen = round(
      aggregate(col("__w"), lit(0L), (acc, w) => acc + length(w)).cast("double")
        / nWords, 4)
    // non-overlapping literal occurrence counts, left to right — the
    // same semantics DuckDB's replace() has
    val nHash = length(col("text")) - length(regexp_replace(col("text"), "#", ""))
    val nEllipsis = (length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3
    val symbolRatio = round((nHash + nEllipsis).cast("double") / nWords, 4)
    val bulletFrac = round(
      size(filter(col("__l"), l => ltrim(l).startsWith("-") ||
        ltrim(l).startsWith("*") || ltrim(l).startsWith("•"))).cast("double")
        / size(col("__l")), 4)
    val ellipsisFrac = round(
      size(filter(col("__l"), l => rtrim(l).endsWith("...") ||
        rtrim(l).endsWith("…"))).cast("double") / size(col("__l")), 4)
    val alphaFrac = round(
      size(filter(col("__w"), w => w.rlike("[a-zA-Z]"))).cast("double")
        / nWords, 4)
    val nStop = size(array_intersect(sqlTokens(col("text")),
      array(gopherStopWords.map(lit): _*)))
    t(spark, dir, "documents")
      .withColumn("__w", words).withColumn("__l", lines)
      .select(col("doc_id"), nWords.as("n_words"), meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"), bulletFrac.as("bullet_frac"),
        ellipsisFrac.as("ellipsis_frac"), alphaFrac.as("alpha_frac"),
        nStop.as("n_stop"))
      .withColumn("keep",
        (col("n_words") >= gopherMinWords && col("n_words") <= gopherMaxWords &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_ratio") < 0.1 &&
          col("bullet_frac") <= 0.1 && col("ellipsis_frac") <= 0.3 &&
          col("alpha_frac") >= 0.8 && col("n_stop") >= 2).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID heuristic distribution (DuckDB-oracled: the oracle
    * SQL is generated from the same langMarkers constants). */
  def textLanguageId(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(languageId(col("text")).as("detected"))
      .groupBy(col("detected")).agg(count(lit(1)).as("n"))
      .orderBy(col("detected"))

  private val langIdModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, operators.LangId.Model]()

  /** Session-cached trained language-ID model (the qualityModel
    * convention): one multinomial LR over hashed-bigram buckets,
    * supervised by the corpus's stored lang labels — so the verify
    * aux dumps the exact coefficients this session routed with.
    */
  private[graft] def langIdModel(spark: SparkSession, dir: String)
      : operators.LangId.Model =
    langIdModelCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      operators.LangId.train(t(spark, dir, "documents"),
        "doc_id", "text", "lang")
    })

  private val langIdCharModelCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, operators.LangId.Model]()

  /** The char kind's gram order: 5-char grams of the space-joined
    * token stream — measured (sf0.001 probe, r20): n=3 → 0.81
    * recovery, n=4 → 0.98, n=5 → 0.99 vs the word model's 0.96;
    * hexLen 4 bought nothing over 3 at either n. */
  private[graft] val langIdCharN = 5

  /** CHAR-GRAM language-ID model (r20, the r19 verdict's #7):
    * [[langIdModel]]'s recipe with `featKind = char` —
    * [[operators.LangId.FeatChar]]'s Cavnar–Trenkle joined-stream
    * char n-grams, which carry evidence on short docs whose
    * word-bigram space is empty. Same integer serving path; the kind
    * rides in the model and its `_META`, so a geometry mismatch
    * between featurizer and coefficients is impossible by
    * construction. */
  private[graft] def langIdCharModel(spark: SparkSession, dir: String)
      : operators.LangId.Model =
    langIdCharModelCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      operators.LangId.train(t(spark, dir, "documents"),
        "doc_id", "text", "lang", n = langIdCharN,
        featKind = operators.LangId.FeatChar)
    })

  /** TRAINED language-ID distribution (r18 — the r17 verdict's #5):
    * [[textLanguageId]]'s shape with the learned scorer —
    * [[operators.LangId]] trained on the corpus's labeled rows and
    * served RELATIONALLY (broadcast (lang, bk, w) probe, decimal
    * per-(doc, lang) sums, total-order argmax), the heuristic entry
    * unchanged beside it. The oracle replays routing from the dumped
    * coefficient/intercept tables (the quality_classifier
    * dump-and-replay recipe); TextSpec pins the SAME model flowing
    * through withDetectedLanguage's scorer slot end-to-end.
    */
  def textLanguageIdTrained(spark: SparkSession, dir: String): DataFrame =
    operators.LangId.detect(t(spark, dir, "documents"),
        langIdModel(spark, dir), "doc_id", "text")
      .groupBy(col("detected")).agg(count(lit(1)).as("n"))
      .orderBy(col("detected"))

  /** [[textLanguageIdTrained]] under the CHAR-GRAM featurization
    * ([[langIdCharModel]]) — the oracle replays detection from the
    * char model's dumped coefficient tables through a char-3-gram
    * extraction CTE (padded-token substrings), the same
    * scaled-integer sums and argmax. */
  def textLanguageIdChargram(spark: SparkSession, dir: String): DataFrame = {
    // served per-row (r20): char-5-grams explode to ~|chars| rows per
    // doc under the relational form — the scorer UDF does the same
    // bucket hashing and integer argmax (TextSpec-pinned ≡ detect)
    // with zero shuffles, and the word-gram trained/stored entries
    // keep the relational path under the driver gate
    val score = operators.LangId.scorer(langIdCharModel(spark, dir))
    t(spark, dir, "documents")
      .select(score(col("text")).as("detected"))
      .groupBy(col("detected")).agg(count(lit(1)).as("n"))
      .orderBy(col("detected"))
  }

  private val langIdStoreCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once persisted language-ID model artifact — the store
    * table the streaming router loads at `.start()`
    * ([[graft.streaming.Realtime.LangIdGate]]); rebuilt per
    * (session, dir) like [[pctCdfStore]]. */
  private def langIdStore(spark: SparkSession, dir: String)
      : graft.sources.ParquetStore = {
    val root = langIdStoreCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      val p = sessionTempDir("graft_langid_")
      operators.LangId.saveModel(new graft.sources.ParquetStore(spark, p),
        "langid_model", langIdModel(spark, dir))
      p
    })
    new graft.sources.ParquetStore(spark, root)
  }

  private val langIdLoadedCache =
    new java.util.concurrent.ConcurrentHashMap[String, operators.LangId.Model]()

  /** The loaded-from-artifact model, cached per (session, dir) like
    * the session fixtures (review r19): the first load exercises the
    * full loadModel validate-and-read path the driver gate covers; a
    * re-load per chain construction would put an uncached store read
    * + collect in every routed entry's timed path, where the
    * streaming router loads once per stream lifetime.
    */
  private[graft] def langIdLoadedModel(spark: SparkSession, dir: String)
      : operators.LangId.Model =
    langIdLoadedCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      operators.LangId.loadModel(langIdStore(spark, dir), "langid_model",
        "langIdLoadedModel")
    })

  /** [[textLanguageIdTrained]] served from the PERSISTED model
    * artifact (r19) — the production serving path end-to-end under
    * the driver gate: saveModel on train cadence → loadModel's full
    * `_META` geometry validation (version/langs/hexLen/n/serving
    * scale, read with the data as one consistent pair) → the same
    * relational integer-arithmetic detect. The store round-trips raw
    * IEEE doubles exactly, so routing is byte-identical to the
    * in-session model and the oracle is SHARED verbatim — answer
    * equality is the contract (the sample_percentile_snapshot
    * convention); a regression anywhere in the save/load/validate
    * path reds the driver gate instead of hiding in a spec.
    */
  def textLanguageIdStored(spark: SparkSession, dir: String): DataFrame =
    operators.LangId.detect(t(spark, dir, "documents"),
        operators.LangId.loadModel(langIdStore(spark, dir), "langid_model",
          "text_language_id_stored"),
        "doc_id", "text")
      .groupBy(col("detected")).agg(count(lit(1)).as("n"))
      .orderBy(col("detected"))

  /** Rolling-hash fingerprints. DuckDB-oracled in PURE SQL (no aux):
    * the JVM loop has a closed form Σ c_i·31^(n-i) mod 2^64 that the
    * oracle computes with a recursive powers-of-31 CTE and HUGEINT
    * accumulation — see Oracles "text_fingerprint".
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** PII scrub: mask emails/phone-shaped substrings, report match
    * counts and an md5 of the scrubbed text (hash-comparable without
    * shipping full documents through the oracle). Regexes restricted
    * to the Java∩RE2 common syntax so DuckDB computes byte-identical
    * masks. Pure built-ins — per-row map, no shuffle except the final
    * presentation sort.
    */
  // Shared with the DuckDB oracles (Oracles interpolates these same
  // constants into its SQL so the two sides can never drift).
  private[graft] val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private[graft] val phoneRe = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
  private[graft] val ngramMaxDf = 20
  private[graft] val ngramThreshold = 0.12
  private[graft] val decontamMod = 97
  private[graft] val decontamMinOverlap = 8
  private[graft] val sampleSalt = ":mix1"
  private[graft] val sampleThreshEn = "8000"
  private[graft] val sampleThreshOther = "4000"

  def textPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    val scrubbed = regexp_replace(regexp_replace(txt, emailRe, "[EMAIL]"),
      phoneRe, "[PHONE]")
    t(spark, dir, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(txt, lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(txt, lit(phoneRe), lit(0))).as("n_phones"),
        md5(scrubbed).as("scrubbed_md5"))
      .orderBy(col("doc_id"))
  }

  /** Per-SOURCE PII incidence report — the compliance rollup of
    * [[textPiiScrub]]'s detectors (same shared regex constants, so
    * the report counts exactly what the scrub masks): per source, how
    * many documents carry email/phone-shaped strings, total match
    * counts, and the incidence rate — what a curation team reads to
    * decide which feeds need scrubbing (or dropping) before training.
    * One scan with the codegen'd extractors, map-side-combinable agg
    * to |sources| rows — the drift_report shape.
    */
  def piiReport(spark: SparkSession, dir: String): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    t(spark, dir, "documents")
      .select(col("source"),
        size(regexp_extract_all(txt, lit(emailRe), lit(0))).cast("long").as("__ne"),
        size(regexp_extract_all(txt, lit(phoneRe), lit(0))).cast("long").as("__np"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__ne") > 0L, 1L).otherwise(0L)).as("docs_with_email"),
        sum(col("__ne")).as("n_emails"),
        sum(when(col("__np") > 0L, 1L).otherwise(0L)).as("docs_with_phone"),
        sum(col("__np")).as("n_phones"),
        sum(when(col("__ne") > 0L || col("__np") > 0L, 1L).otherwise(0L))
          .as("docs_with_pii"))
      .withColumn("pii_doc_rate", round(col("docs_with_pii").cast("double") /
        col("n_docs").cast("double"), 6))
      .orderBy(col("source"))
  }

  /** Deterministic stratified sampling for corpus mixing: keep a
    * per-language fraction of documents by comparing an md5 prefix of
    * the salted key against a per-stratum threshold. Hash-based
    * sampling is reproducible across engines and cluster sizes (no
    * RNG state), embarrassingly parallel, and join-free — the 100 TB
    * shape for downsampling a source during mixture construction.
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val bucket = substring(md5(concat(col("doc_id").cast("string"), lit(sampleSalt))), 1, 4)
    val threshold = when(col("lang") === "en", lit(sampleThreshEn)).otherwise(lit(sampleThreshOther))
    t(spark, dir, "documents")
      .filter(bucket < threshold)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Mixture weighting stats: per (source, lang) document and token
    * totals plus each stratum's share of the global token budget.
    * The window-sum over () runs over one row per stratum (bounded by
    * the source×lang cross-cardinality, not corpus size), after the
    * map-side-combinable groupBy — safe at any scale.
    */
  def mixTokenStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("source"), col("lang"), size(sqlTokens(col("text"))).as("toks"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .withColumn("token_share",
        round(col("n_tokens").cast("double") /
          sum(col("n_tokens")).over(Window.partitionBy()), 6))
      .orderBy(col("source"), col("lang"))

  /** A-family: exact interpolated quantiles per group (corpus length
    * distribution per language) — Spark's `percentile` and DuckDB's
    * `quantile_cont` share the lower + frac·(upper−lower) definition
    * at rank p·(n−1), so the doubles replay exactly. At scale swap
    * for `percentile_approx` (t-digest) and drop the oracle to
    * rank-tolerance — the exact form is the oracle-able baseline.
    */
  def a3Quantiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        round(expr("percentile(n_chars, 0.25)"), 4).as("p25"),
        round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
        round(expr("percentile(n_chars, 0.75)"), 4).as("p75"),
        round(expr("percentile(n_chars, 0.95)"), 4).as("p95"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  /** Corpus vocabulary table (df-idf): total term frequency, document
    * frequency, and smoothed idf (ln((N+1)/(df+1)) + 1, the sklearn
    * smoothing) for the corpus's `vocabTopN` most frequent terms —
    * the vocabulary-construction / stopword-discovery pass every
    * tokenizer-training or tf-idf-retrieval pipeline starts with.
    *
    * Scale shape: df is NOT a count-distinct (whose Expand doubles
    * the exploded row stream) — it's two map-side-combinable
    * aggregations: groupBy(term, doc) partial counts, then
    * groupBy(term) sums the partials and counts the groups. The
    * corpus size joins in as a broadcast one-row aggregate so the
    * whole thing stays one lazy plan, and the final top-N is a
    * TakeOrderedAndProject, never a global sort materialization.
    */
  private[graft] val vocabTopN = 50
  def vocabTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val perDoc = docs
      // outer + null drop: keeps the inferred explode filter from
      // inlining the tokenizer into the scan (dedup_spans r16 trap)
      .select(col("doc_id"), explode_outer(sqlTokens(col("text"))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf_doc"))
    val stats = perDoc.groupBy(col("term"))
      .agg(sum(col("tf_doc")).as("tf"), count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    stats.crossJoin(broadcast(nDocs))
      .select(col("term"), col("tf"), col("df"),
        round(log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0), 4)
          .as("idf"))
      .orderBy(col("tf").desc, col("term").asc)
      .limit(vocabTopN)
  }

  /** Deterministic mixture sampler: downsample each source to a token
    * budget. rate = min(1, budget / source tokens); a row is kept iff
    * its hash bucket (0..9999) falls under floor(rate·10000), so the
    * kept set is reproducible run-to-run and only the tiny per-source
    * rate table moves (broadcast) — no shuffle of the corpus, no rand().
    * The bucket hash is a pure-arithmetic multiplicative hash because
    * Spark's xxhash64 and DuckDB's hash() are different functions —
    * production would use xxhash64(doc_id); the arithmetic form is
    * what makes the sample SQL-replayable.
    */
  private[graft] val mixSampleBudget = 800L

  /** (doc_id, source, toks) scan + the deterministic id-hash keep
    * rule — the ONE definition of the mixers' shared scaffolding
    * ([[mixSample]], [[mixTemperature]]), so the hash constants and
    * the broadcast rate join can never drift between samplers (both
    * DuckDB oracles replay these constants). */
  private def mixDocs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), size(sqlTokens(col("text"))).as("toks"))
  /** The deterministic per-id sampling bucket in [0, 10000) shared by
    * every hash-keep sampler (mixers, soft quality sampling) — ONE
    * definition of the constants, replayed verbatim by the oracles. */
  private def idHashBucket(id: Column): Column =
    (id % 100003L) * 2654435761L % 10000L
  private[graft] def mixKeep(docs: DataFrame, rates: DataFrame): DataFrame =
    docs.join(broadcast(rates), Seq("source"))
      .filter(idHashBucket(col("doc_id")) < col("thresh"))
      .select(col("doc_id"), col("source"), col("toks"))
      .orderBy(col("doc_id"))

  /** SOFT quality sampling — keep probability proportional to the
    * document's 5-signal quality score (the FineWeb-Edu-style
    * alternative to a hard cutoff: borderline docs survive at reduced
    * rate instead of cliffing, so coverage degrades gracefully while
    * the kept distribution upweights quality). Deterministic and
    * resumable: the samplers' shared id-hash bucket against
    * floor(quality·10⁴). Per-row only — quality computes ONCE at the
    * scan (evalOnce fence: the keep filter references the alias, and
    * unfenced pushdown inlines the full qualityScore chain into the
    * Filter too — PlanSpec locks the single evaluation), zero
    * shuffles (the ORDER BY is presentation).
    */
  def sampleQualityWeighted(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), evalOnce(qualityScore(col("text"))).as("quality"))
      .filter(idHashBucket(col("doc_id")) < floor(col("quality") * 10000))
      .orderBy(col("doc_id"))

  def mixSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = mixDocs(spark, dir)
    val rates = docs.groupBy(col("source"))
      .agg(sum(col("toks")).as("src_tokens"))
      .withColumn("thresh", floor(least(lit(1.0),
        lit(mixSampleBudget.toDouble) /
          greatest(col("src_tokens"), lit(1L)).cast("double")) * 10000).cast("long"))
      .select(col("source"), col("thresh"))
    mixKeep(docs, rates)
  }

  /** TEMPERATURE-weighted source mixing — the multi-source sampling
    * recipe (GPT-3 §2.2's weighted mixtures; XLM-R/mT5 sample source
    * i ∝ share_i^τ): flattening the source distribution with τ < 1 so
    * head sources don't drown the tail. τ = 0.5 here, deliberately
    * computed as sqrt — IEEE 754 requires sqrt be correctly rounded
    * (pow is NOT), so the DuckDB oracle replays every rate
    * bit-for-bit; a general τ is one pow() swap with the same plan.
    * Weights are fixed-pointed (s_i = floor(sqrt(n_i)·1000)) so the
    * normalizing sum is an INTEGER sum — exact and independent of
    * aggregation order, where a floating Σ sqrt would depend on it.
    * Each source then gets token target budget·s_i/Σs, keep rate
    * min(1, target/n_i), and rows keep via the same deterministic
    * id-hash rule as [[mixSample]].
    *
    * Scale shape: one narrow map-side-combinable groupBy(source) for
    * token counts, the normalizer as a global window over that tiny
    * per-source frame (NOT a second aggregate, which would re-execute
    * the corpus scan), then the rate table BROADCAST back onto the
    * corpus — the corpus is scanned twice (count pass + keep pass)
    * and never shuffled.
    */
  private[graft] val mixTempBudget = 1200L
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val docs = mixDocs(spark, dir)
    val counts = docs.groupBy(col("source"))
      .agg(sum(col("toks")).cast("long").as("src_tokens"))
      .withColumn("s",
        floor(sqrt(col("src_tokens").cast("double")) * 1000).cast("long"))
    // the normalizer as a GLOBAL window over the tiny per-source
    // frame, not a second aggregate of `counts` — a separate agg
    // subtree would re-execute the corpus count scan (one corpus
    // scan for rates, not two)
    val rates = counts
      .withColumn("s_total", sum(col("s")).over(Window.partitionBy()))
      .withColumn("thresh",
        floor(least(lit(1.0),
          (lit(mixTempBudget.toDouble) * col("s").cast("double")) /
            (greatest(col("s_total"), lit(1L)).cast("double") *
              greatest(col("src_tokens"), lit(1L)).cast("double"))) * 10000)
          .cast("long"))
      .select(col("source"), col("thresh"))
    mixKeep(docs, rates)
  }

  /** Benchmark decontamination: corpus docs colliding with a held-out
    * benchmark slice (doc_id % 97 == 0) on ≥ 8 distinct bigrams — the
    * n-gram-collision test-set filter every pretraining pipeline runs
    * before training.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.contaminatedDocs(
        docs.filter(col("doc_id") % decontamMod =!= 0),
        docs.filter(col("doc_id") % decontamMod === 0),
        "doc_id", "text", n = 2, minOverlap = decontamMinOverlap)
      .select(col("id").as("doc_id"), col("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** NEAR-DUP decontamination: corpus docs whose exact shingle
    * Jaccard vs any held-out-slice doc reaches the MinHash threshold
    * — the paraphrase-leakage check the n-gram-overlap count misses;
    * runs entirely off the persisted signature index (both sides:
    * band_keys + shingles columns, zero text reads). The held-out
    * slice here is the id tail (doc_id >= 450) rather than the exact
    * demo's % 97 slice: the generator plants near-dup pairs across
    * THAT boundary (4 at sf0.01), so the flag path is exercised —
    * the % 97 slice contains no planted near-dups by construction.
    */
  private[graft] val decontamNearDupSplit = 450L
  def decontamNeardup(spark: SparkSession, dir: String): DataFrame =
    Dedup.contaminatedDocsNearDupStored(fullSigStore(spark, dir), "sigs",
        col("id") < decontamNearDupSplit, col("id") >= decontamNearDupSplit,
        threshold = minHashThreshold)
      .select(col("id").as("doc_id"), col("n_hits"),
        round(col("max_jaccard"), 4).as("max_jaccard"))
      .orderBy(col("doc_id"))

  /** The ladder's semantic flag set — ONE construction shared by the
    * chain and PlanSpec's scan-discipline lock (a hand-copied test
    * frame could silently drift from production). Uses the BANDED
    * bench form WITHOUT a persist: the caller localCheckpoints this
    * frame, so its subtree executes exactly once — and the bench
    * banding feeds exactly ONE broadcast build inside that execution
    * (r21: the redundant band-key semi gate is gone), which beats
    * registering a process-lifetime cache entry per plan.
    */
  private[graft] def ladderSemanticFlags(spark: SparkSession, dir: String)
      : DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Dedup.contaminatedDocsSemanticBanded(
        emb.filter(col("vec_id") >= incrementalSplit &&
          col("vec_id") < decontamNearDupSplit),
        Dedup.semanticBenchBanded(
          emb.filter(col("vec_id") >= decontamNearDupSplit),
          "vec_id", "embedding", dim = 64, bits = decontamSemBits,
          bands = decontamSemBands),
        "vec_id", "embedding", dim = 64, threshold = decontamSemThreshold,
        bits = decontamSemBits, bands = decontamSemBands)
      .select(col("id").as("doc_id"))
  }

  private[graft] val ingestGatePct = 0.5

  /** RefinedWeb-style boilerplate stage (r18): the STORE-BACKED clean
    * of the batch `slice` against the calibration-cadence span-df store —
    * (doc_id, clean_text, n_kept), computed ONCE for the whole batch
    * (a pure per-doc function of (text, store)) and lineage-truncated
    * because several branches read it: the chain's text swap, the tag
    * join, the shared signatures, and the percentile scoring.
    */
  private def boilCleanedOf(spark: SparkSession, dir: String,
      slice: DataFrame): DataFrame =
    operators.Dedup.boilerplateRemoveStored(spanDfStore(spark, dir),
        "span_df", slice, "doc_id", "text",
        spanTokens = spanDedupTokens, minDocs = boilerplateMinDocs)
      .select(col("doc_id"), col("clean_text"), col("n_kept"))
      .transform(IngestChain.truncate)

  // value = (store root, the EXACT model instance calibration
  // detected with) — the second element exists so ModelPathSpec can
  // pin, by reference equality against [[langIdLoadedModel]], that
  // calibration and serving resolve through one loaded artifact
  private val pctCdfRoutedCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (String, operators.LangId.Model)]()

  /** The model instance the routed calibration snapshot was built
    * with (spec hook — see [[pctCdfStoreRouted]]'s scaladoc). */
  private[graft] def routedCalibrationModel(spark: SparkSession,
      dir: String): operators.LangId.Model = {
    pctCdfStoreRouted(spark, dir)
    pctCdfRoutedCache.get(cacheKey(spark, dir))._2
  }

  /** Detected-language calibration snapshot (r19): the routed chain's
    * CDF is keyed on the SAME language definition its gate routes
    * with — calibrate on what detection says, because production
    * corpora carry no labels and a stored-label CDF would gate rows
    * against partitions they never route to. Built once per
    * (session, dir) over the full corpus, like [[pctCdfStore]].
    *
    * Calibration detects with [[langIdLoadedModel]] — the SAME
    * persisted artifact every serving surface routes with (r20, the
    * r19 verdict's #3): the CDF a gate probes must provably come from
    * the model that partitioned its rows, so both paths resolve
    * through `loadModel` (answer-identical to the in-session model —
    * the store round-trips raw IEEE doubles exactly — but now true by
    * construction, not by round-trip accident; PlanSpec pins it by
    * reference equality via [[routedCalibrationModel]]).
    */
  private def pctCdfStoreRouted(spark: SparkSession, dir: String)
      : graft.sources.ParquetStore = {
    val (root, _) = pctCdfRoutedCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      val p = sessionTempDir("graft_pctcdf_r_")
      val docsT = t(spark, dir, "documents")
      val m = langIdLoadedModel(spark, dir)
      val det = operators.LangId.detect(docsT, m, "doc_id", "text")
        .select(col("id").as("doc_id"), col("detected").as("lang"))
      operators.QualityCal.buildPercentileStore(
        new graft.sources.ParquetStore(spark, p), "quality_cdf_routed",
        docsT.select(col("doc_id"), col("text")).join(det, Seq("doc_id")),
        "lang", "text", snapshot = "corpus-v1-routed")
      (p, m)
    })
    new graft.sources.ParquetStore(spark, root)
  }

  /** The routed chain's merged detection+scoring frame (r20,
    * PRE-checkpoint — PlanSpec pins its scan discipline here): ONE
    * pass over the blocklist-surviving batch slice computes BOTH the
    * detected language and the quality score. Detection uses
    * [[operators.LangId.scorer]] — the per-row serving form of the
    * SAME persisted artifact, TextSpec-pinned to reproduce
    * `detect`'s integer arithmetic (incl. the 'und' no-evidence
    * convention) exactly — so the former shape's second text pass,
    * detection checkpoint and join-back disappear while every answer
    * stays bit-identical. Per-row serving also drops the relational
    * form's explode + aggregate shuffle: at any corpus scale the
    * routed gate's delta pass is now shuffle-free up to the bounded
    * percentile lookup.
    */
  private[graft] def routedDetScored(spark: SparkSession, dir: String)
      : DataFrame = {
    // detection serves from the PERSISTED artifact (r19 review) — the
    // same loadModel validate-and-read the streaming router runs at
    // .start(), so batch and stream route off one artifact; answer-
    // identical to the in-session model (exact raw-double round-trip)
    val score = operators.LangId.scorer(langIdLoadedModel(spark, dir))
    blockSurvivors(spark, dir)
      .select(col("doc_id"), score(col("text")).as("__dl"),
        qualityScore(col("text")).as("quality"))
  }

  /** The ROUTED chain's (detected-language, percentile) pair (r19 —
    * the batch twin of the streaming LangIdGate + PercentileGate
    * composition): detection and scoring run ONCE over the blocklist
    * survivors (localCheckpoint: the gate lookup and the terminal
    * stats both read it), and the percentile keys on the DETECTED
    * language against the detected-lang calibration snapshot
    * ([[pctCdfStoreRouted]]). The oracle replays detection from the
    * dumped scaled-integer coefficient tables (the shared
    * langDetCtes), then partitions the corpus CDF by the detected
    * column — routing and gating can never drift between engine and
    * replay. Returns (doc_id, `__dl`) and (doc_id, pct).
    */
  private[graft] def routedDetAndPct(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    routedPct(spark, dir, routedDetScored(spark, dir))

  /** The routed gates' (doc_id, `__dl`) and (doc_id, pct) from a merged
    * (doc_id, `__dl`, quality) detection+scoring frame: ONE
    * materialization of it feeds the percentile lookup and the terminal
    * stats' detection column. */
  private def routedPct(spark: SparkSession, dir: String,
      detScored: DataFrame): (DataFrame, DataFrame) = {
    val ds = IngestChain.truncate(detScored)
    val cdf = operators.QualityCal.loadCdf(pctCdfStoreRouted(spark, dir),
      "quality_cdf_routed", "routedPct",
      expectSnapshot = Some("corpus-v1-routed"))
    (ds.select(col("doc_id"), col("__dl")),
      operators.QualityCal.withPercentile(
          ds.select(col("doc_id"), col("__dl").as("lang"), col("quality")),
          cdf, "lang", col("quality"))
        .select(col("doc_id"), col("pct")))
  }

  /** The ROUTED + BOILERPLATE composition's shared pieces (r19 — the
    * full production ingest shape, closing the composition the routed
    * chain's scaladoc declared separate): the store-backed span clean
    * runs FIRST, then language detection reads the CLEANED text — the
    * text that actually ships — so the per-language percentile gate
    * routes on what a consumer of the corpus would see, not on
    * boilerplate the clean already dropped (a nav-bar in language A
    * wrapping a body in language B must gate as B). Returns
    * (boilCleaned, detected, pct): the clean is computed ONCE for
    * the batch (its consumers: the chain's text swap, the tag join,
    * detection), detection ONCE (the gate and the terminal stats).
    *
    * The gate probes the SAME detected-language calibration snapshot
    * as the routed chain ([[pctCdfStoreRouted]]): the calibration
    * corpus is raw (built on calibration cadence over what the corpus
    * holds), the serve side scores the cleaned text by RANGE lookup
    * against it — the boil convention, because a cleaned quality is
    * generally not a raw histogram cell. A cleaned doc whose detected
    * language has no calibration partition gets a NULL percentile, on
    * which this chain's gate ABSTAINS (passes) — the streaming PercentileGate's
    * unseen-language semantics, observable in the funnel, which the
    * raw routed chain never hits (batch raw detection ⊆ corpus raw
    * detection) but the cleaned form can ('und' on a clean that
    * dropped every bigram).
    */
  private[graft] def routedBoilDetAndPct(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val boilCleaned = boilCleanedOf(spark, dir, chainSlice(spark, dir))
    // detection + scoring restricted to blocklist survivors with a
    // nonempty clean (the ADVICE-r18 discipline): rows failing the
    // blocklist or dropping as all-boilerplate can never pass the
    // gate, so neither UDF family runs on them. ONE pass over the
    // cleaned text computes BOTH columns (r20): detection via the
    // per-row scorer of the SAME persisted artifact (TextSpec-pinned
    // ≡ detect, incl. 'und' on no evidence).
    val (det, pct) = routedPct(spark, dir,
      routedBoilDetScored(spark, dir, boilCleaned))
    (boilCleaned, det, pct)
  }

  /** The routed+boil merged detection+scoring frame over the CLEANED
    * text (r20, PRE-checkpoint — PlanSpec pins the scan discipline
    * here): blocklist-survivor ids broadcast against the nonempty
    * cleans, then one projection computes detected language and
    * quality together. */
  private[graft] def routedBoilDetScored(spark: SparkSession, dir: String,
      boilCleaned: DataFrame): DataFrame = {
    // the blocklist-survivor id set is the delta-sized side; the
    // broadcast keeps the (heavier) cleaned-text frame un-shuffled
    val score = operators.LangId.scorer(langIdLoadedModel(spark, dir))
    broadcast(blockSurvivors(spark, dir).select(col("doc_id")))
      .join(boilCleaned.filter(col("n_kept") > 0)
        .select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
      .select(col("doc_id"), score(col("text")).as("__dl"),
        qualityScore(col("text")).as("quality"))
  }

  /** The percentile gate's (doc_id, pct) for the stored-label gated
    * chains — each batch doc's (cleaned, when boilerplate is on)
    * quality percentile within its language, probed against the
    * PERSISTED calibration snapshot ([[pctCdfStore]] →
    * [[operators.QualityCal.loadCdf]] → the
    * [[operators.QualityCal.withPercentile]] range lookup) — r19, the
    * r18 verdict's #1: the previous shape re-histogrammed the whole
    * corpus through the 2-UDF qualityScore on EVERY chain run, a
    * corpus-sized text scan per ingest batch where the production
    * shape is a delta-sized pass against a calibration-cadence
    * snapshot (exactly what the streaming PercentileGate already
    * does). Against a snapshot of the SAME corpus the range lookup
    * reduces to each row's own cume_dist — for raw batch text every
    * quality value IS a histogram cell, so max(cell ≤ q) is the cell
    * itself — and every chained-CTE oracle replays unchanged (the
    * sample_percentile_snapshot answer-equality convention). A
    * cleaned quality (boil) is generally NOT a cell; the range lookup
    * covers arbitrary values, which is why the probe semantics are
    * the store's, not an exact-cell equi-join.
    *
    * Scoring is restricted to BLOCKLIST SURVIVORS of the batch slice
    * (ADVICE r18): the gate's flag only acts through `__s2`/`__s2b`
    * conjunctions, so rows failing the blocklist can never pass it —
    * scoring them would run the 2-UDF chain on work the chain then
    * throws away. The blocklist predicate is a cheap
    * codegen'd filter; re-evaluating it here costs nothing against
    * the two regex/ratio UDF evaluations it saves per dropped row.
    */
  private[graft] def ingestPct(spark: SparkSession, dir: String,
      boilCleaned: Option[DataFrame]): DataFrame = {
    val cdf = operators.QualityCal.loadCdf(pctCdfStore(spark, dir),
      "quality_cdf", "ingestPct", expectSnapshot = Some("corpus-v1"))
    val base = blockSurvivors(spark, dir)
    // with boil the gate scores the CLEANED text — the whole point of
    // cleaning before gating is that the cleaned text changes every
    // downstream signal; all-boilerplate docs (n_kept = 0) have
    // nothing to score
    val scored = boilCleaned.fold(base)(c =>
        broadcast(base.select(col("doc_id"), col("lang"))).join(
          c.filter(col("n_kept") > 0)
            .select(col("doc_id"), col("clean_text").as("text")),
          Seq("doc_id")))
      .select(col("doc_id"), col("lang"),
        qualityScore(col("text")).as("quality"))
    operators.QualityCal.withPercentile(scored, cdf, "lang", col("quality"))
      .select(col("doc_id"), col("pct"))
  }

  /** SEMANTIC decontamination — the embedding rung of the
    * decontamination ladder (exact n-gram count → bloom → near-dup
    * shingle Jaccard → THIS): corpus vectors whose cosine against any
    * held-out vector reaches the threshold, catching rewrites that
    * share meaning but few surface grams or shingles. Held-out slice
    * = the same % [[decontamMod]] rule as the exact form; 0.30 is the
    * [[dedupEmbeddingCos]] operating point (the synthetic embeddings
    * cluster weakly, so planted neighbors sit in 0.3–0.5 cosine).
    * Both sides band with the frozen sign-LSH planes and the corpus
    * stream is gated by a broadcast on the benchmark's band keys
    * before any corpus-sized shuffle (Dedup.contaminatedDocsSemantic).
    * Banding is RECALL-FIRST (4-bit × 8 bands vs the pair sweep's
    * 8 × 4): a leakage gate should over-admit candidates — the exact
    * cosine verify restores precision, and a missed contaminated doc
    * is the expensive error. At cos 0.45 a 4-bit band collides with
    * p ≈ 0.18 → ~0.79 over 8 bands, vs ~0.12 total under 8-bit bands.
    */
  private[graft] val decontamSemThreshold = 0.30
  private[graft] val decontamSemBits = 4
  private[graft] val decontamSemBands = 8
  def decontamSemantic(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Dedup.contaminatedDocsSemantic(
        emb.filter(col("vec_id") % decontamMod =!= 0),
        emb.filter(col("vec_id") % decontamMod === 0),
        "vec_id", "embedding", dim = 64, threshold = decontamSemThreshold,
        bits = decontamSemBits, bands = decontamSemBands)
      .select(col("id").as("vec_id"), col("n_hits"),
        round(col("max_cos"), 4).as("max_cos"))
      .orderBy(col("vec_id"))
  }

  /** Bloom-pruned decontamination — the 100 TB form of
    * [[decontaminate]]: a driver-built Bloom filter over the
    * benchmark grams gates the corpus gram stream map-side, so the
    * exact semi-join shuffles hits (+ fpp·misses) instead of every
    * corpus gram once the benchmark gram set outgrows a broadcast.
    * Same answer by construction (the bloom only prunes; the exact
    * join decides) — shares decontaminate's oracle SQL verbatim.
    */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.contaminatedDocsBloom(
        docs.filter(col("doc_id") % decontamMod =!= 0),
        docs.filter(col("doc_id") % decontamMod === 0),
        "doc_id", "text", n = 2, minOverlap = decontamMinOverlap)
      .select(col("id").as("doc_id"), col("n_hits"))
      .orderBy(col("doc_id"))
  }

  private[graft] val substrK = 10

  /** ExactSubstr dedup (Lee et al. 2021): remove every later
    * occurrence of any duplicated 10-token substring, token-exactly,
    * keeping first occurrences. */
  def dedupSubstrings(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstrDedup(t(spark, dir, "documents"), "doc_id", "text",
        k = substrK)
      .orderBy(col("doc_id"))

  private[graft] val dsirTargetSource = "src0"
  private[graft] val dsirSampleK = 100

  /** DSIR importance weights (Xie et al. 2023): score every
    * non-target document by how much its hashed-bigram distribution
    * resembles the target slice (source = src0 plays "the trusted
    * domain"). The full per-doc log-weight table — the artifact a
    * pipeline persists so multiple selection budgets can resample
    * without re-scoring.
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dsir.importanceWeights(
        docs.filter(col("source") =!= dsirTargetSource),
        docs.filter(col("source") === dsirTargetSource),
        "doc_id", "text", n = 2)
      .select(col("id").as("doc_id"), round(col("logw"), 4).as("logw"))
      .orderBy(col("doc_id"))
  }

  /** DSIR Gumbel top-k selection over [[dsirWeights]]'s scores:
    * sampling k docs without replacement ∝ exp(logw) = top-k by
    * logw + Gumbel(uniform-from-id-hash) noise. Keys are rounded
    * BEFORE the order/limit on both sides so the oracle's top-k
    * boundary is bit-identical.
    */
  def dsirSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dsir.importanceWeights(
        docs.filter(col("source") =!= dsirTargetSource),
        docs.filter(col("source") === dsirTargetSource),
        "doc_id", "text", n = 2)
      .select(col("id").as("doc_id"),
        round(Dsir.gumbelKey(col("logw"), col("id")), 4).as("gumbel_key"))
      .orderBy(col("gumbel_key").desc, col("doc_id"))
      .limit(dsirSampleK)
  }

  /** CCNet-style perplexity buckets (Wenzek et al. 2020): per-doc
    * perplexity under a bigram LM trained on the target slice
    * (source = src0), then head/middle/tail tertiles per language —
    * low perplexity = "reads like the trusted domain" = head.
    *
    * Bucketing is by two per-language percentile CUTOFFS (p33/p66),
    * broadcast and compared against — NOT a per-language `ntile(3)`
    * window. The window form globally sorts every scored doc of a
    * language inside ONE task; at 100 TB with a 90%-English corpus
    * the dominant language becomes a single-task multi-billion-row
    * sort. The cutoff form's only per-language state is the exact
    * `percentile` aggregation buffer, which holds counts per DISTINCT
    * ppl value — bounded here because ppl is rounded to 4 decimals
    * BEFORE aggregation (also what pins tie semantics: equal rounded
    * ppl ⇒ same bucket on both engines). At true 100 TB swap
    * `percentile` for `percentile_approx` (same shape, fixed-size
    * sketch buffer); exact percentile is kept while the DuckDB oracle
    * (`quantile_cont`, identical lower+frac·(upper−lower)
    * interpolation) must match bit-for-bit.
    */
  def ccnetPplBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val ppl = Ccnet.perplexity(
        docs.filter(col("source") =!= dsirTargetSource),
        docs.filter(col("source") === dsirTargetSource),
        "doc_id", "text", sqlTokens)
      .select(col("id").as("doc_id"), round(col("ppl"), 4).as("ppl"))
    val scored = ppl.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val cuts = scored.groupBy(col("lang")).agg(
      round(expr("percentile(ppl, 0.3333333333333333)"), 4).as("c33"),
      round(expr("percentile(ppl, 0.6666666666666666)"), 4).as("c66"))
    scored.join(broadcast(cuts), Seq("lang"))
      .withColumn("bucket",
        when(col("ppl") <= col("c33"), lit("head"))
          .when(col("ppl") <= col("c66"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("lang"), col("ppl"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  private val qualityModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, QualityFilter.Model]()

  private[graft] val qualityTargetLang = "en"

  /** Train-once GPT-3-style quality classifier for this (session,
    * dir). The paper's target is a curated corpus distributionally
    * distinct from the crawl; the synthetic corpus's only separable
    * axis is language, so the demo target is the curated-English
    * slice (lang = en) vs everything else — point `target` at a real
    * trusted corpus in production, the mechanics are identical.
    * Cached so the query entries and dumpOracleAux share the EXACT
    * same coefficients within a Verify run — the dump IS the oracle's
    * model, so training nondeterminism across sessions is immaterial.
    */
  private[graft] def qualityModel(spark: SparkSession, dir: String): QualityFilter.Model =
    qualityModelCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      val docs = t(spark, dir, "documents")
      // negatives deterministically subsampled (the paper's own
      // construction — the classifier needs a contrast, not the whole
      // crawl); halves the train-time the bench charges to the first
      // quality entry
      QualityFilter.train(
        docs.filter(col("lang") =!= qualityTargetLang),
        docs.filter(col("lang") === qualityTargetLang),
        "doc_id", "text", negativeFraction = 0.5)
    })

  /** GPT-3 Appendix-A learned quality scores for every raw doc:
    * P(reads-like-target) under the LR classifier, scored
    * RELATIONALLY from the coefficient table (broadcast probe + sum +
    * sigmoid) so the oracle replays the dumped coefficients exactly.
    */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // score EVERY doc (the paper scores the full crawl, training
    // negatives included)
    QualityFilter.score(docs, qualityModel(spark, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), round(col("qscore"), 4).as("qscore"))
      .orderBy(col("doc_id"))
  }

  /** The paper's Pareto-thresholded keep rule over the rounded
    * scores (rounded BEFORE the threshold compare on both sides so
    * the keep boundary is bit-identical).
    */
  def qualityFilterPareto(spark: SparkSession, dir: String): DataFrame =
    QualityFilter.paretoKeep(qualityClassifier(spark, dir), "doc_id", "qscore")
      .orderBy(col("doc_id"))

  /** Classifier EVALUATION: the precision/recall sweep every learned
    * filter gets before its threshold ships — TP/FP/FN and P/R at
    * each grid threshold, against the training ground truth (the
    * curated-target slice membership). The score pass is the same
    * broadcast coefficient probe the classifier serves with; the
    * sweep itself is one crossJoin against a 5-row literal grid +
    * one map-side-combinable groupBy, so evaluating costs no more
    * than scoring. Compares run on the ROUNDED scores (the
    * quality_classifier contract) so grid boundaries are
    * bit-identical on both sides.
    */
  private[graft] val evalPrThresholds = Seq(0.1, 0.3, 0.5, 0.7, 0.9)
  def evalQualityPr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ground truth drives the join (LEFT join to the scores): a
    // positive doc the classifier cannot score (too few tokens, or
    // all feature buckets missing from the weights) is predicted
    // negative at EVERY threshold and must count toward FN — an
    // inner join would silently drop it and overstate recall. Null
    // lang is pinned to pos=0 (the oracle's CASE semantics).
    val scored = t(spark, dir, "documents")
      .select(col("doc_id"),
        coalesce((col("lang") === qualityTargetLang).cast("int"), lit(0))
          .as("pos"))
      .join(qualityClassifier(spark, dir), Seq("doc_id"), "left_outer")
    val grid = evalPrThresholds.toDF("thresh")
    scored.crossJoin(broadcast(grid))
      .withColumn("__pred", coalesce(col("qscore") > col("thresh"), lit(false)))
      .groupBy(col("thresh"))
      .agg(
        sum(when(col("__pred") && col("pos") === 1, 1).otherwise(0)).as("tp"),
        sum(when(col("__pred") && col("pos") === 0, 1).otherwise(0)).as("fp"),
        sum(when(!col("__pred") && col("pos") === 1, 1).otherwise(0)).as("fn"))
      .select(col("thresh"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") === 0, lit(0.0))
          .otherwise(round(col("tp").cast("double") / (col("tp") + col("fp")), 4))
          .as("prec"),
        when(col("tp") + col("fn") === 0, lit(0.0))
          .otherwise(round(col("tp").cast("double") / (col("tp") + col("fn")), 4))
          .as("rec"))
      .orderBy(col("thresh"))
  }

  /** F2/F4: stemmed tsvector + ranked lexical search. DuckDB-oracled
    * via dump-and-replay: Verify dumps the per-doc Porter lexeme
    * arrays and the stemmed query lexemes (dumpOracleAux), and the
    * oracle replays the match filter + tf-proxy rank + order/limit in
    * SQL over those dumps (the stemmer itself is unit-covered by
    * AnalyzerSpec; the relational semantics are what the oracle
    * checks).
    */
  private[graft] val f2QueryText = "merging joins streams"

  def f2TsvectorRank(spark: SparkSession, dir: String): DataFrame = {
    val qLex = graft.functions.TextAnalyzer.queryLexemes(f2QueryText)
    val qCol = lit(qLex.toArray)
    t(spark, dir, "documents")
      .withColumn("lexemes", toTsvector(col("text")))
      .filter(tsMatches(col("lexemes"), qCol))
      .withColumn("rank", round(tsRank(col("lexemes"), qCol), 4))
      .select(col("doc_id"), col("rank"))
      .orderBy(col("rank").desc, col("doc_id").asc)
      .limit(50)
  }

  private val postingsIndexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once persisted inverted-postings index over documents
    * (CREATE INDEX USING gin analogue; see TextIndex). */
  private def postingsIndex(spark: SparkSession, dir: String): String =
    postingsIndexCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      val p = sessionTempDir("graft_postings_")
      TextIndex.buildPostingsIndex(t(spark, dir, "documents"), "doc_id", "text", p)
      p
    })

  /** F2 over the PERSISTED inverted-postings index: identical results
    * to f2_tsvector_rank (same oracle SQL), but the plan probes only
    * the query lexemes' bucket partitions instead of scanning every
    * document's token array — the GIN-index query shape.
    */
  def f2PostingsRank(spark: SparkSession, dir: String): DataFrame =
    TextIndex.searchPostings(spark, postingsIndex(spark, dir),
      graft.functions.TextAnalyzer.queryLexemes(f2QueryText), k = 50)

  /** F5 phrase: `@@ phraseto_tsquery` — exact-adjacency match over the
    * tsvector position lists ('tables hash' matches only docs where
    * the stems occur CONSECUTIVELY, unlike the OR/overlap match).
    * DuckDB-oracled over dumped per-doc position arrays for the
    * phrase's lexemes (dumpOracleAux): the oracle replays the
    * anchor-walk (some position b with every term at b + offset) in
    * SQL; the position bookkeeping itself is RankCdSpec/PropertySpec
    * territory.
    */
  private[graft] val phraseQueryText = "tables hash"
  private[graft] def phraseTerms: Seq[(String, Int)] =
    graft.functions.TextAnalyzer.phraseLexemes(phraseQueryText)

  def f5PhraseMatch(spark: SparkSession, dir: String): DataFrame = {
    val ph = phraseTerms
    t(spark, dir, "documents")
      .filter(tsPhraseMatch(col("text"),
        lit(ph.map(_._1).toArray), lit(ph.map(_._2).toArray)))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** F5 websearch: `@@ websearch_to_tsquery` — the user-facing query
    * grammar (AND terms, quoted phrase, -negation, `or` groups)
    * evaluated over the tsvector position lists. The phrase inside
    * wsQueryText is intentionally the SAME phrase as phraseQueryText
    * so the dumped f5_aux_positions cover it; the oracle replays the
    * fixed query's boolean algebra over the lexeme-array dump plus
    * the shared phrase anchor-walk.
    */
  private[graft] val wsQueryText =
    """merge "tables hash" -customer or streams part"""

  def f5Websearch(spark: SparkSession, dir: String): DataFrame = {
    val q = graft.functions.TextAnalyzer.webSearchQuery(wsQueryText)
    val matches = udf((text: String) =>
      graft.functions.TextAnalyzer.webSearchMatch(
        graft.functions.TextAnalyzer.lexemesWithPositions(text), q))
    t(spark, dir, "documents")
      .filter(matches(col("text")))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** F5 phrase over the PERSISTED postings index: identical results
    * to f5_phrase_match (same oracle SQL), but the plan probes only
    * the phrase lexemes' bucket partitions and anchor-joins their
    * position lists — phrase search without a corpus scan.
    */
  def f5PostingsPhrase(spark: SparkSession, dir: String): DataFrame = {
    val hits = TextIndex.searchPostingsPhrase(spark,
      postingsIndex(spark, dir), phraseTerms)
    t(spark, dir, "documents").join(hits, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** F4 exact (scan form): Postgres `ts_rank_cd` over the OR-rewritten
    * query — 0.1 · Σ matched-lexeme position counts per doc (every
    * matched position is its own minimal cover under OR; see
    * TextAnalyzer.rankCdOr). DuckDB-oracled over the dumped per-doc
    * (lexeme, npos) position counts (dumpOracleAux), replaying
    * match → 0.1·sum → order/limit in SQL; the position math itself
    * (stopwords occupy positions, ts_type.h clamps) is unit-covered
    * by RankCdSpec against hand-computed Postgres values.
    */
  def f4RankCd(spark: SparkSession, dir: String): DataFrame = {
    val qLex = graft.functions.TextAnalyzer.queryLexemes(f2QueryText)
    val qCol = lit(qLex.toArray)
    t(spark, dir, "documents")
      .withColumn("rank", round(tsRankCd(col("text"), qCol), 4))
      .filter(col("rank") > 0) // rank > 0 ⇔ ≥1 matched position (OR match)
      .select(col("doc_id"), col("rank"))
      .orderBy(col("rank").desc, col("doc_id").asc)
      .limit(50)
  }

  /** F4 exact ts_rank_cd, AND semantics — parity beyond the
    * reference's `& → |` rewrite: the full tsrank.c minimal-cover
    * walk (unit-tested against hand-computed tsrank.c values in
    * RankCdSpec). Oracled by dump-and-replay: the DuckDB side re-runs
    * the identical greedy cover walk as a recursive CTE over the
    * dumped per-doc position arrays (f4_aux_and_positions), so the
    * imperative Scala walk is checked against a declarative SQL one.
    * Filter on the RAW rank (a wide cover can round to 0.0000) then
    * round — the oracle does the same.
    */
  def f4RankCdAnd(spark: SparkSession, dir: String): DataFrame = {
    val qLex = graft.functions.TextAnalyzer.queryLexemes(f2QueryText)
    val qCol = lit(qLex.toArray)
    t(spark, dir, "documents")
      .withColumn("__raw", tsRankCdAnd(col("text"), qCol))
      .filter(col("__raw") > 0) // > 0 ⇔ every query term present
      .select(col("doc_id"), round(col("__raw"), 4).as("rank"))
      .orderBy(col("rank").desc, col("doc_id").asc)
      .limit(50)
  }

  /** F4 exact over the PERSISTED inverted-postings index: identical
    * results to f4_rank_cd (same oracle SQL), but the plan probes only
    * the query lexemes' bucket partitions and sums the denormalized
    * position counts — the GIN "tsvector with positions" query shape.
    */
  def f4PostingsRankCd(spark: SparkSession, dir: String): DataFrame =
    TextIndex.searchPostingsRankCd(spark, postingsIndex(spark, dir),
      graft.functions.TextAnalyzer.queryLexemes(f2QueryText), k = 50)

  /** F4 modern-ranking upgrade: BM25 over the postings index for the
    * f2 query. The oracle recomputes df/dl/N/avgdl from the dumped
    * per-doc (lexeme, npos) table and replays the identical idf and
    * length-norm arithmetic (decimal term-sum on both sides makes the
    * per-doc total addition-order-independent).
    */
  def f4Bm25(spark: SparkSession, dir: String): DataFrame =
    TextIndex.searchPostingsBm25(spark, postingsIndex(spark, dir),
      graft.functions.TextAnalyzer.queryLexemes(f2QueryText), k = 50)

  /** F6/F7: chunk_table — chunk one column, explode with index. */
  def f6ChunkTable(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        posexplode(chunkText(col("text"), lit(80))).as(Seq("chunk_index", "chunk")))
      .orderBy(col("doc_id"), col("chunk_index"))

  // Query texts shared with the vz_* oracles: Verify dumps the
  // engine-computed query vectors/lexemes for these exact strings
  // (dumpOracleAux), so both sides search with identical inputs.
  private[graft] val vzQueryText = "merge join stream spark"
  private[graft] val ragQueryText = "how are merges joined"

  /** RAG num_context (reference default 2, extension/src/api.rs:189),
    * shared between the vz_rag* queries and their oracle SQL so the
    * engine and the replay can never disagree on the retrieval LIMIT
    * (or the derived windowSize = 5 × numContext).
    */
  private[graft] val ragNumContext = VectorizeEngine.DefaultRagNumContext

  /** RAG chat model shared between [[vzRag]] and its oracle's
    * deterministic-response replay: the oracle interpolates the
    * response's `[<model>] ` prefix from here, so changing the model
    * can never silently red the replay against a stale hardcode.
    * Mirrors the reference's default (extension/src/api.rs:185).
    */
  private[graft] val ragChatModel = VectorizeEngine.DefaultChatModel

  /** Engine end-to-end: deterministic-provider semantic search over
    * the documents corpus (createJob backfill → search). DuckDB-
    * oracled: Verify dumps the backfilled embeddings store + query
    * vector (dumpOracleAux) and the oracle replays the ranking as SQL
    * over those dumps. Presentation order is on the ROUNDED score so
    * both sides sort identical values (the top-10 SET is still chosen
    * at full precision inside the engine, like the oracle's CTE).
    */
  def vzSemanticSearch(spark: SparkSession, dir: String): DataFrame = {
    val engine = ephemeralEngine(spark, dir)
    engine.search("docs_job", vzQueryText, limit = 10)
      .select(col("doc_id"), col("lang"),
        round(col("similarity_score"), 4).as("similarity_score"))
      .orderBy(col("similarity_score").desc, col("doc_id").asc)
  }

  /** Engine semantic search served through the int8 quantized
    * two-stage rank over the engine's OWN embedding store —
    * quantization as a drop-in serving accelerator for the flagship
    * search (the ranking pass reads 4× fewer vector bytes), exact
    * scores preserved by the rescore. Same output contract as
    * vz_semantic_search; oracled by replaying the integer ranking
    * over the dumped store codes + the exact rescore.
    */
  def vzSemanticQuantized(spark: SparkSession, dir: String): DataFrame = {
    val engine = ephemeralEngine(spark, dir)
    val emb = engine.store.read(engine.embTable("docs_job"))
      .select(col("pkey"), col("embeddings"))
    val qv = engine.encode("docs_job", vzQueryText)
    val top = Quantize.quantizedTopK(emb, "pkey", "embeddings", qv,
      k = 10, window = quantRescoreWindow)
    t(spark, dir, "documents")
      .join(top, col("doc_id").cast("string") === col("id"))
      .select(col("doc_id"), col("lang"),
        round(col("cos"), 4).as("similarity_score"))
      .orderBy(col("similarity_score").desc, col("doc_id").asc)
  }

  /** Best-passage retrieval (the long-document serving pattern; the
    * single-query-vector simplification of ColBERT-style MaxSim):
    * chunk every document with the F6 chunker, embed each chunk,
    * score chunks against the query vector, aggregate per document by
    * MAX chunk similarity (ties → earliest chunk), return the top-10
    * documents with their best passage. One explode + one doc-grain
    * partial agg; at scale the chunk vectors are a persisted column
    * (the chunk_table warehouse, F7), making the scan index-shaped.
    * Oracled dump-and-replay: the chunk vectors dump and DuckDB
    * replays the relational layer (cosine, per-doc argmax, top-k).
    */
  private[graft] val passageChunkChars = 80
  def passageSearch(spark: SparkSession, dir: String): DataFrame = {
    val provider = new graft.providers.DeterministicHashProvider(64)
    val qv: Array[Float] = provider.embedOne(vzQueryText)
    // ONE fused doc-grain UDF: chunk → embed → cosine → per-doc argmax
    // in a tight primitive loop (r15). The previous shape paid TWO UDF
    // boundaries per chunk (chunker + embedder), boxed a Seq[Float]
    // per chunk, and shuffled a chunk-grain frame into a doc-grain
    // argmax aggregate; the allocation pressure made the wall-clock
    // GC-window-sensitive — 0.47s vs 3.2s across official bench
    // windows on identical code. The fused loop allocates only the
    // provider's embedding array per chunk, and the in-loop argmax
    // removes both the explode and the aggregation shuffle (the
    // nearestCentroidUdf precedent). Semantics are bit-identical to
    // the old plan: same chunker and provider, the exact
    // CosineSimilarity combine (sqrt(na)·sqrt(nb) denominator, null on
    // zero — such chunks skip, as the old isNotNull filter dropped
    // them), and Double.compare ties replicate the struct-max
    // (cos, -chunk_idx) rule (-0.0 < 0.0, earliest chunk on exact
    // ties).
    val bestUdf = udf((text: String) => {
      val chunks = chunkTextScala(text, passageChunkChars)
      var bestIdx = -1
      var bestCos = 0.0
      var i = 0
      val it = chunks.iterator
      while (it.hasNext) {
        val e = provider.embedOne(it.next())
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var j = 0
        while (j < e.length) {
          val x = e(j).toDouble; val y = qv(j).toDouble
          dot += x * y; na += x * x; nb += y * y
          j += 1
        }
        val denom = math.sqrt(na) * math.sqrt(nb)
        if (denom != 0.0) {
          val cos = dot / denom
          if (bestIdx < 0 || java.lang.Double.compare(cos, bestCos) > 0) {
            bestIdx = i; bestCos = cos
          }
        }
        i += 1
      }
      if (bestIdx < 0) null else (bestIdx, bestCos)
    })
    // evalOnce: the isNotNull gate references the UDF's alias, and
    // PushDownPredicates would otherwise inline the whole embed loop
    // into the Filter (every doc chunked+embedded twice)
    t(spark, dir, "documents")
      .select(col("doc_id"), evalOnce(bestUdf(col("text"))).as("__b"))
      .filter(col("__b").isNotNull)
      .select(col("doc_id"), col("__b._1").as("chunk_idx"),
        col("__b._2").as("cosF"))
      .orderBy(col("cosF").desc, col("doc_id").asc)
      .limit(10)
      .select(col("doc_id"), col("chunk_idx"),
        round(col("cosF"), 4).as("best_cos"))
      .orderBy(col("best_cos").desc, col("doc_id").asc)
  }

  private val vzVectorIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once engine vector index for docs_job via the IndexDist
    * dispatch (default pgv_hnsw_cosine → per-partition HNSW graphs).
    */
  private def vzVectorIndex(spark: SparkSession, dir: String): String =
    vzVectorIndexCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      val p = sessionTempDir("graft_vz_hnsw_")
      ephemeralEngine(spark, dir).buildVectorIndex("docs_job", p)
      p
    })

  /** The reference's index-backed search shape end-to-end: the job's
    * IndexDist hint built a persisted HNSW index over the ENGINE's
    * embedding store, and search probes it instead of scanning —
    * `CREATE INDEX ... USING hnsw` + index scan, Spark-native. Same
    * output contract as vz_semantic_search; oracled with the
    * candidates-restricted pattern over the probe's candidate union.
    */
  def vzSemanticIndexed(spark: SparkSession, dir: String): DataFrame = {
    val engine = ephemeralEngine(spark, dir)
    val probe = engine.probeVectorIndex("docs_job",
      vzVectorIndex(spark, dir), engine.encode("docs_job", vzQueryText), k = 10)
    t(spark, dir, "documents").join(probe, col("doc_id") === col("id"))
      .select(col("doc_id"), col("lang"),
        round(col("cos"), 4).as("similarity_score"))
      .orderBy(col("similarity_score").desc, col("doc_id").asc)
  }

  /** Index-backed search WITH P4 typed filters — the reference's
    * HNSW-scan-then-filter shape (core/src/query.rs:686-699),
    * post-filter semantics preserved: the probe retrieves a 5×limit
    * candidate window, the lang filter applies AFTER the index scan.
    * Oracled with the candidates-restricted pattern over the WINDOW
    * probe's candidate union, filter replayed in SQL.
    */
  def vzSemanticIndexedFiltered(spark: SparkSession, dir: String): DataFrame = {
    import graft.types._
    val engine = ephemeralEngine(spark, dir)
    engine.searchIndexed("docs_job", vzVectorIndex(spark, dir), vzQueryText,
        limit = 10,
        filters = Map("lang" -> FilterValue(FilterOperator.Eq, FilterScalar.S("en"))))
      .select(col("doc_id"), col("lang"),
        round(col("similarity_score"), 4).as("similarity_score"))
      .orderBy(col("similarity_score").desc, col("doc_id").asc)
  }

  /** Engine end-to-end: hybrid RRF search (DuckDB-oracled via the
    * dumped embeddings + search-tokens stores — see dumpOracleAux).
    */
  def vzHybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val engine = ephemeralEngine(spark, dir)
    engine.hybridSearch("docs_job", vzQueryText, limit = 10)
      .select(col("doc_id"), col("semantic_rank"), col("fts_rank"),
        round(col("rrf_score"), 6).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
  }

  /** Hybrid search with the BM25 lexical leg — the first entry where
    * the engine is BETTER than the reference on its flagship query,
    * not just equal: same RRF fusion/weights/window, modern lexical
    * scoring. Oracled end-to-end like vz_hybrid_search (the DuckDB
    * side recomputes df/dl/N/avgdl from the token dump and replays
    * the identical idf + length-norm arithmetic).
    */
  def vzHybridBm25(spark: SparkSession, dir: String): DataFrame = {
    val engine = ephemeralEngine(spark, dir)
    engine.hybridSearch("docs_job", vzQueryText, limit = 10, bm25 = true)
      .select(col("doc_id"), col("semantic_rank"), col("fts_rank"),
        round(col("rrf_score"), 6).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
  }

  /** Engine end-to-end: RAG (retrieve → render → trim → respond),
    * oracled end-to-end: retrieval + render replay as vz_rag_prompt's
    * CTEs and the deterministic chat provider's response assembly is
    * declarative too ("[model] " + first 3 lines, 200-char cap). The
    * chat model is the shared [[ragChatModel]] constant so the
    * replay's prefix tracks it.
    */
  def vzRag(spark: SparkSession, dir: String): DataFrame = {
    val engine = ephemeralEngine(spark, dir)
    engine.rag("docs_job", ragQueryText, chatModel = ragChatModel,
      numContext = ragNumContext)
  }

  /** The render/trim layer of vz_rag, exposed for the DuckDB oracle:
    * md5 of the rendered system + user prompts. The retrieval is the
    * same `search(query, limit = numContext)` call rag() makes, and
    * the template substitution + "\n" context join are
    * SQL-expressible, so the oracle replays retrieval → string_agg →
    * concatenation and md5s the result. Only the chat response itself
    * (JVM provider) stays test-covered.
    */
  def vzRagPrompt(spark: SparkSession, dir: String): DataFrame = {
    val engine = ephemeralEngine(spark, dir)
    val p = engine.ragPrompt("docs_job", ragQueryText, numContext = ragNumContext)
    import spark.implicits._
    Seq((p.sysPrompt, p.userPrompt)).toDF("sys", "user")
      .select(md5(col("sys")).as("sys_md5"), md5(col("user")).as("user_md5"))
  }

  /** The retrieval step of vz_rag, exposed for the DuckDB oracle:
    * the same `search(query, limit = numContext)` call rag() makes,
    * with the context column hashed (md5) so the compare doesn't ship
    * full documents. */
  def vzRagRetrieve(spark: SparkSession, dir: String): DataFrame = {
    val engine = ephemeralEngine(spark, dir)
    engine.search("docs_job", ragQueryText, limit = ragNumContext)
      .select(col("doc_id"),
        round(col("similarity_score"), 4).as("similarity_score"),
        md5(col("text")).as("content_md5"))
      .orderBy(col("similarity_score").desc, col("doc_id").asc)
  }

  /** Dump the engine artifacts the vz_* oracles replay in SQL
    * (VERDICT r2 item 2): the backfilled embeddings + search-tokens
    * stores and the provider-computed query vectors/lexemes, each as
    * a single parquet FILE in the verify out dir (plain files are
    * skipped by the per-query result walk, which only reads dirs).
    * Oracles reference them via the __AUX__ placeholder that Verify
    * rewrites to the absolute out dir. */
  private[graft] def dumpOracleAux(spark: SparkSession, dir: String, outDir: String): Unit = {
    val engine = ephemeralEngine(spark, dir)
    writeSingleParquet(
      engine.store.read(engine.embTable("docs_job")).select("pkey", "embeddings"),
      s"$outDir/vz_aux_embeddings.parquet")
    writeSingleParquet(
      engine.store.read(engine.tokTable("docs_job"))
        .select("pkey", "search_tokens", "search_token_counts"),
      s"$outDir/vz_aux_tokens.parquet")
    import spark.implicits._
    writeSingleParquet(
      Seq((engine.encode("docs_job", vzQueryText),
        graft.functions.TextAnalyzer.queryLexemes(vzQueryText),
        engine.encode("docs_job", ragQueryText),
        graft.functions.TextAnalyzer.queryLexemes(f2QueryText)))
        .toDF("qvec", "qlex", "rag_qvec", "f2_qlex"),
      s"$outDir/vz_aux_query.parquet")
    // passage chunks embedded (same chunker+provider as the query
    // entry) + the query vector — the passage_search oracle replays
    // cosine/argmax/top-k relationally over these
    val passageProvider = new graft.providers.DeterministicHashProvider(64)
    val passageChunkUdf = udf((s: String) =>
      chunkTextScala(s, passageChunkChars))
    val passageEmbUdf = udf((s: String) => passageProvider.embedOne(s).toSeq)
    writeSingleParquet(
      t(spark, dir, "documents")
        .select(col("doc_id"),
          posexplode(passageChunkUdf(col("text"))).as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx"),
          passageEmbUdf(col("chunk")).as("cvec")),
      s"$outDir/passage_aux_chunks.parquet")
    writeSingleParquet(
      Seq(Tuple1(passageProvider.embedOne(vzQueryText).toSeq)).toDF("qvec"),
      s"$outDir/passage_aux_query.parquet")

    // int8 codes of the STORE's vectors + the vz query — the
    // vz_semantic_quantized oracle replays the integer ranking over
    // these, then rescores against vz_aux_embeddings
    writeSingleParquet(
      engine.store.read(engine.embTable("docs_job"))
        .select(col("pkey"), Quantize.quantize(col("embeddings")).as("q8")),
      s"$outDir/vz_aux_codes.parquet")
    writeSingleParquet(
      Seq(Tuple1(Quantize.quantizeVec(
        engine.encode("docs_job", vzQueryText).toSeq).toSeq)).toDF("qcodes"),
      s"$outDir/vz_aux_qcodes.parquet")
    // SemDeDup k-means assignment (cell + keep-priority distance,
    // from the SAME session-cached centroids the query entry uses) —
    // the dedup_semantic oracle replays the within-cell rank + cosine
    // NOT EXISTS prune over this frame; the iterative Lloyd's build
    // itself is unit-covered (SemDedupSpec)
    writeSingleParquet(
      Dedup.semanticAssign(t(spark, dir, "embeddings"), "vec_id", "embedding",
        semCentroids(spark, dir)),
      s"$outDir/semdedup_aux_assigned.parquet")

    // per-asset feature vectors from the declared-fake decoder, over
    // the FULL corpus (unfiltered) — the mm_features oracle replays
    // the relational layer (asset filter, element extraction,
    // rounding, ordering) over these in DuckDB; only the bytes→
    // features map itself is the stub. Cast to double here and in the
    // query so both engines round the identical double.
    writeSingleParquet(
      Multimodal.decodeFeaturesStub(
          Multimodal.syntheticAssets(t(spark, dir, "documents"), "doc_id", "text"),
          dim = 16)
        .select(col("asset_id"), col("features").cast("array<double>").as("features")),
      s"$outDir/mm_aux_features.parquet")

    // 64-dim PERCEPTUAL features (chunk-mean stub) for the mm_neardup
    // oracle's brute-force fingerprint replay — same double cast
    // discipline as mm_aux_features
    writeSingleParquet(
      mmPerceptualFeatures(spark, dir)
        .select(col("asset_id"), col("features").cast("array<double>").as("features")),
      s"$outDir/mm_aux_pfeatures.parquet")

    // DECODED-pixel features (r20): real PNG/JPEG fixture bytes
    // through imageBlockLuma's javax.imageio decode (raw rows via the
    // byte fallback) — the mm_features_decoded / mm_neardup_decoded
    // oracles replay the relational layer / brute-force pair set over
    // these; same double-cast discipline as mm_aux_features
    writeSingleParquet(
      mmDecodedFeatures(spark, dir)
        .select(col("asset_id"), col("codec"),
          col("features").cast("array<double>").as("features")),
      s"$outDir/mm_aux_dfeatures.parquet")

    // per-doc stemmed lexeme arrays for the f2_tsvector_rank oracle —
    // same toTsvector UDF the query itself uses, so the oracle checks
    // the relational layer (match/rank/order/limit) over identical
    // lexeme inputs
    writeSingleParquet(
      t(spark, dir, "documents")
        .select(col("doc_id"), toTsvector(col("text")).as("lexemes")),
      s"$outDir/f2_aux_lexemes.parquet")

    // per-doc (lexeme, npos) position counts for the f4 exact
    // ts_rank_cd oracles — same tsvectorPosCounts UDF the scan query
    // and the postings-index build use (position math unit-covered by
    // RankCdSpec); the oracle replays match → 0.1·sum → order/limit
    writeSingleParquet(
      t(spark, dir, "documents")
        .select(col("doc_id"),
          explode(tsvectorPosCounts(col("text"))).as(Seq("lexeme", "npos"))),
      s"$outDir/f4_aux_poscounts.parquet")

    // per-doc position ARRAYS for the phrase lexemes only (tiny) —
    // the f5_phrase_match oracle replays the anchor-walk over these
    writeSingleParquet(
      t(spark, dir, "documents")
        .select(col("doc_id"),
          explode(tsvectorPositions(col("text"))).as(Seq("lexeme", "positions")))
        .filter(col("lexeme").isin(phraseTerms.map(_._1): _*)),
      s"$outDir/f5_aux_positions.parquet")

    // per-doc position ARRAYS for the f2 query lexemes — the
    // f4_rank_cd_and oracle replays the tsrank.c cover walk over these
    writeSingleParquet(
      t(spark, dir, "documents")
        .select(col("doc_id"),
          explode(tsvectorPositions(col("text"))).as(Seq("lexeme", "positions")))
        .filter(col("lexeme").isin(
          graft.functions.TextAnalyzer.queryLexemes(f2QueryText): _*)),
      s"$outDir/f4_aux_and_positions.parquet")

    // --- corpus-trained BPE auxes: the per-WORD merge results (the
    // JVM math BpeSpec unit-covers) + per-doc word occurrences; the
    // oracle recomposes per-doc counts relationally ---
    {
      val ranks = graft.functions.Bpe.ranksOf(bpeMerges(spark, dir))
      val wtok = udf((w: String) => graft.functions.Bpe.applyWord(w, ranks).size)
      val words = t(spark, dir, "documents")
        .select(col("doc_id"), explode(bpePreTokens(col("text"))).as("word"))
      writeSingleParquet(
        words.select(col("word")).distinct()
          .withColumn("n_tokens", wtok(col("word"))),
        s"$outDir/bpe_aux_word_tokens.parquet")
      writeSingleParquet(
        words.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("occ")),
        s"$outDir/bpe_aux_doc_words.parquet")
    }

    // --- learned quality classifier: the coefficient table + intercept
    // (the ONE genuinely-learned artifact in the suite). Cached via
    // qualityModel so these are the exact coefficients the
    // quality_classifier / quality_filter_pareto entries scored with
    // in this session; the oracle replays feature-bucket sum + sigmoid
    // relationally over this dump ---
    {
      val m = qualityModel(spark, dir)
      writeSingleParquet(QualityFilter.weightsTable(spark, m),
        s"$outDir/quality_aux_weights.parquet")
      writeSingleParquet(
        Seq(Tuple1(m.intercept)).toDF("icept"),
        s"$outDir/quality_aux_intercept.parquet")
    }

    // --- trained language-ID (r18): the (lang, bk, w) coefficient
    // table + per-language intercepts, from the SAME session-cached
    // model the text_language_id_trained entry routed with; the
    // oracle replays bucket join → decimal sums → argmax relationally
    {
      val m = langIdModel(spark, dir)
      writeSingleParquet(operators.LangId.weightsTable(spark, m),
        s"$outDir/langid_aux_weights.parquet")
      writeSingleParquet(operators.LangId.interceptsTable(spark, m),
        s"$outDir/langid_aux_icepts.parquet")
    }

    // the CHAR-TRIGRAM language-ID model's coefficient tables (r20) —
    // the text_language_id_chargram oracle replays bucket join →
    // integer sums → argmax over these, with the char-3-gram
    // extraction done in SQL (padded-token substrings)
    {
      val m = langIdCharModel(spark, dir)
      writeSingleParquet(operators.LangId.weightsTable(spark, m),
        s"$outDir/langid_char_aux_weights.parquet")
      writeSingleParquet(operators.LangId.interceptsTable(spark, m),
        s"$outDir/langid_char_aux_icepts.parquet")
    }

    // per-doc chunk arrays for the f6_chunk_table oracle — same
    // chunkText UDF the query itself uses (unit-covered by TextSpec);
    // the oracle replays the posexplode + ordering in SQL
    writeSingleParquet(
      t(spark, dir, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), chunkText(col("text"), lit(80)).as("chunks")),
      s"$outDir/f6_aux_chunks.parquet")

    // --- dedup signature auxes: per-doc signatures only (the JVM
    // signature math is unit-covered by SimHashSpec/MinHashSpec);
    // the oracles replay the banding/candidate/verify RELATIONAL
    // pipeline in SQL over these dumps ---
    writeSingleParquet(
      t(spark, dir, "documents")
        .select(col("doc_id"), simHash(col("text")).as("sig")),
      s"$outDir/simhash_aux.parquet")
    writeSingleParquet(
      t(spark, dir, "documents")
        .select(col("doc_id"),
          array_distinct(shingles(col("text"), lit(minHashShingleN))).as("shingles"))
        .withColumn("sig", minHash(col("shingles"), lit(minHashNumHashes))),
      s"$outDir/minhash_aux.parquet")
    // CLEANED-text signatures of the batch slice (r18) — the
    // pipeline_ingest_boil chain signs the store-cleaned text for its
    // decontamination and near-dup stages, so its oracle replays the
    // banding/jaccard relational pipeline over THESE (the clean
    // itself is verified end-to-end by dedup_boilerplate_stored's
    // pure-SQL replay; the shingle/minhash math is MinHashSpec-
    // covered, the established aux convention)
    writeSingleParquet(
      Dedup.boilerplateRemoveStored(spanDfStore(spark, dir), "span_df",
          t(spark, dir, "documents").filter(col("doc_id") >= incrementalSplit &&
            col("doc_id") < decontamNearDupSplit),
          "doc_id", "text", spanTokens = spanDedupTokens,
          minDocs = boilerplateMinDocs)
        .filter(col("n_kept") > 0)
        .select(col("doc_id"),
          array_distinct(shingles(col("clean_text"), lit(minHashShingleN))).as("shingles"))
        .withColumn("sig", minHash(col("shingles"), lit(minHashNumHashes))),
      s"$outDir/minhash_boil_aux.parquet")

    // --- ANN auxes: the persisted index layouts (bucket/cell
    // assignments) plus the driver-enumerated probe lists. The probe
    // enumeration itself is PropertySpec/AnnSpec-covered; the oracles
    // verify "exact top-k restricted to the probed buckets" ---
    val qv = queryVec(spark, dir)
    val lshPath = lshIndex(spark, dir)
    writeSingleParquet(
      spark.read.parquet(s"$lshPath/buckets")
        .select(col("vec_id"), col("bucket").cast("long").as("bucket")),
      s"$outDir/ann_lsh_buckets.parquet")
    val lshMeta = spark.read.parquet(s"$lshPath/meta").head()
    val idxBits = lshMeta.getAs[Int]("bits")
    val idxPlanes = Ann.hyperplanes(idxBits, lshMeta.getAs[Int]("dim"),
      lshMeta.getAs[Long]("seed"))
    val margins = idxPlanes.map(p =>
      p.zip(qv).map { case (a, b) => a.toDouble * b }.sum)
    writeSingleParquet(
      Seq(Tuple1(Ann.directedProbeKeys(margins, idxBits, annLshMaxProbes)))
        .toDF("keys"),
      s"$outDir/ann_lsh_probes.parquet")

    // HNSW: the probe's candidate union (nParts·k exact-cosine rows).
    // The oracle replays exact top-k restricted to THESE ids — the
    // candidates-restricted pattern of the LSH/IVF oracles; graph
    // traversal recall is HnswSpec's job.
    writeSingleParquet(
      Hnsw.probeHnswIndex(spark, hnswIndex(spark, dir), qv,
          k = annTopK, ef = annHnswEf)
        .select(col("id").as("vec_id")),
      s"$outDir/ann_hnsw_candidates.parquet")
    // int8 quantization codes (corpus + query) — the JVM quantizer is
    // QuantizeSpec-covered; the oracle replays the integer ranking +
    // exact rescore relationally over these
    writeSingleParquet(
      t(spark, dir, "embeddings")
        .select(col("vec_id"), Quantize.quantize(col("embedding")).as("q8")),
      s"$outDir/quant_aux_codes.parquet")
    writeSingleParquet(
      Seq(Tuple1(Quantize.quantizeVec(qv.toSeq).toSeq)).toDF("qcodes"),
      s"$outDir/quant_aux_query.parquet")

    // PQ codes + the query's ADC lookup table — the oracle replays
    // the decimal-summed table-lookup ranking bit-exactly over these,
    // then the usual exact-cosine rescore
    val pqPath = pqIndex(spark, dir)
    writeSingleParquet(spark.read.parquet(s"$pqPath/codes"),
      s"$outDir/pq_aux_codes.parquet")
    val pqTable = Pq.adcTable(qv, Pq.loadCodebooks(spark, pqPath))
    writeSingleParquet(
      pqTable.zipWithIndex.flatMap { case (row, s) =>
        row.zipWithIndex.map { case (v, c) => (s, c, v) }
      }.toSeq.toDF("s", "c", "v"),
      s"$outDir/pq_aux_table.parquet")

    // IVF-PQ auxes: codes with their cell, the residual ADC table,
    // and the probed cells' query-dot constants — the oracle replays
    // constant + decimal-folded lookups over exactly these
    val ivfPqPath = ivfPqIndex(spark, dir)
    writeSingleParquet(spark.read.parquet(s"$ivfPqPath/codes")
        .select(col("vec_id"), col("cell").cast("int").as("cell"), col("pq")),
      s"$outDir/ivfpq_aux_codes.parquet")
    val ivfPqCoarse = spark.read.parquet(s"$ivfPqPath/coarse").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val ivfPqCells = Ann.nearestCells(ivfPqCoarse, qv, annIvfNProbe)
    writeSingleParquet(
      Pq.cellConstants(qv, ivfPqCoarse, ivfPqCells).toSeq
        .toDF("cell", "qdot"),
      s"$outDir/ivfpq_aux_cells.parquet")
    val ivfPqTable = Pq.adcTable(qv, Pq.loadCodebooks(spark, ivfPqPath))
    writeSingleParquet(
      ivfPqTable.zipWithIndex.flatMap { case (row, s) =>
        row.zipWithIndex.map { case (v, c) => (s, c, v) }
      }.toSeq.toDF("s", "c", "v"),
      s"$outDir/ivfpq_aux_table.parquet")

    // engine-store HNSW probe candidates (pre-merge union) for the
    // index-backed vz_semantic_indexed oracle
    writeSingleParquet(
      Hnsw.probeHnswIndex(spark, vzVectorIndex(spark, dir),
          engine.encode("docs_job", vzQueryText), k = 10)
        .select(col("id")),
      s"$outDir/vz_hnsw_candidates.parquet")
    // the WINDOW-probe candidate union (k = 5×limit) for the filtered
    // variant — searchIndexed probes a wider window before the
    // post-ANN filter, so its oracle replays over this wider set
    writeSingleParquet(
      Hnsw.probeHnswIndex(spark, vzVectorIndex(spark, dir),
          engine.encode("docs_job", vzQueryText), k = 50)
        .select(col("id")),
      s"$outDir/vz_hnsw_candidates_w50.parquet")
    // HNSW batch-kNN candidate pairs (pre-self-filter, pre-rank) —
    // the oracle applies the identical self-exclusion + per-query
    // window over exact recomputed cosines
    writeSingleParquet(
      Hnsw.knnCandidates(spark, hnswIndex(spark, dir),
          t(spark, dir, "embeddings").filter(col("vec_id") < knnQueryMaxId),
          "vec_id", "embedding", kLocal = knnJoinK + 1, ef = annHnswEf,
          maxQueries = 65536)
        .select(col("q_id"), col("x_id")),
      s"$outDir/ann_hnsw_knn_cands.parquet")

    val ivfPath = ivfIndex(spark, dir)
    writeSingleParquet(
      spark.read.parquet(s"$ivfPath/assigned")
        .select(col("vec_id"), col("cell").cast("int").as("cell")),
      s"$outDir/ann_ivf_cells.parquet")
    writeSingleParquet(
      Seq(Tuple1(Ann.nearestCells(Ann.loadIvfCentroids(spark, ivfPath), qv,
        annIvfNProbe).toSeq)).toDF("cells"),
      s"$outDir/ann_ivf_probes.parquet")

    // --- batch-kNN auxes: per-row LSH keys (index side) and the
    // multiprobe key fan-out (query side), for both the ad-hoc join
    // (fixed knnJoinBits planes) and the indexed join (the persisted
    // index's planes; its x side is ann_lsh_buckets above) ---
    val emb = t(spark, dir, "embeddings")
    val knnDim = emb.select(size(col("embedding"))).head().getInt(0)
    val knnPlanes = Ann.hyperplanes(knnJoinBits, knnDim)
    writeSingleParquet(
      emb.select(col("vec_id").as("x_id"),
        Ann.lshKey(col("embedding"), knnPlanes).as("key")),
      s"$outDir/knn_x_keys.parquet")
    def qProbes(planes: Array[Array[Float]], nBits: Int): DataFrame = {
      val q0 = emb.filter(col("vec_id") < knnQueryMaxId)
        .select(col("vec_id").as("q_id"),
          Ann.lshKey(col("embedding"), planes).as("__qkey"))
      // same probe fan-out as Ann.multiprobeQueries, by construction
      q0.select(col("q_id"),
        explode(Ann.multiprobeKeyArray(col("__qkey"), nBits)).as("key"))
    }
    writeSingleParquet(qProbes(knnPlanes, knnJoinBits),
      s"$outDir/knn_q_probes.parquet")
    writeSingleParquet(qProbes(idxPlanes, idxBits),
      s"$outDir/knn_q_probes_indexed.parquet")
  }

  private[graft] def writeSingleParquet(df: DataFrame, target: String): Unit = {
    import scala.jdk.CollectionConverters._
    // hook-registered like the fixture roots: the moved part leaves
    // the _SUCCESS/crc siblings behind in the temp dir
    val tmp = java.nio.file.Paths.get(sessionTempDir("graft_aux_"))
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet part in $tmp"))
    java.nio.file.Files.move(part, java.nio.file.Paths.get(target),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private val engineCache = new java.util.concurrent.ConcurrentHashMap[String, VectorizeEngine]()

  /** One warehouse per (session, sf-dir); backfill runs once. */
  private def ephemeralEngine(spark: SparkSession, dir: String): VectorizeEngine =
    engineCache.computeIfAbsent(cacheKey(spark, dir), { _ =>
      val wh = sessionTempDir("graft_wh_")
      val engine = new VectorizeEngine(spark, wh,
        embeddingProviderOverride = Some(new graft.providers.DeterministicHashProvider(64)))
      engine.registerSource("documents", t(spark, dir, "documents"))
      engine.createJob(graft.types.VectorizeJob(
        jobName = "docs_job", srcTable = "documents",
        srcColumns = Seq("text"), primaryKey = "doc_id",
        updateTimeCol = None,
        model = graft.types.Model.parseUnsafe("deterministic/hash-64")))
      engine
    })

  /** Dataset-level preparation: builds the artifacts that live
    * OUTSIDE query latency in any real deployment — the engine's
    * embedding backfill (the reference performs it at job creation,
    * core/src/init.rs:272-315) and the IVF index (the analogue of
    * CREATE INDEX, extension/src/init.rs:86-146). Bench calls this
    * before its timed loop so per-query numbers measure search, not
    * one-time index construction; Verify does not (correctness is
    * preparation-independent).
    */
  def prepare(spark: SparkSession, dir: String): Unit = {
    ephemeralEngine(spark, dir)
    ivfIndex(spark, dir)
    pqIndex(spark, dir)
    ivfPqIndex(spark, dir)
    lshIndex(spark, dir)
    hnswIndex(spark, dir)
    vzVectorIndex(spark, dir)
    postingsIndex(spark, dir)
    bpeMerges(spark, dir)
    fullSigStore(spark, dir)
    pctCdfStore(spark, dir)
    spanDfStore(spark, dir)
    // train-once model/centroid fits (the CREATE MODEL analogues) —
    // without these the alphabetically-first consumer query is
    // charged the whole fit (r11 bench: eval_quality_pr carried the
    // 5 s LR training that quality_classifier then got for 0.5 s)
    qualityModel(spark, dir)
    langIdModel(spark, dir)
    langIdCharModel(spark, dir)
    langIdStore(spark, dir)
    langIdLoadedModel(spark, dir)
    pctCdfStoreRouted(spark, dir)
    semCentroids(spark, dir)
    ()
  }

  /** All driver-checkable queries, keyed by SURVEY §2 ids. */
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_delta_scan_join" -> (s1DeltaScanJoin _),
    "s2_delta_scan_append" -> (s2DeltaScanAppend _),
    "s3_fetch_by_ids" -> (s3FetchByIds _),
    "s5_upsert_merge" -> (s5UpsertMerge _),
    "s8_import_anti_join" -> (s8ImportAntiJoin _),
    "p1_concat_variants" -> (p1ConcatVariants _),
    "p4_typed_filters" -> (p4TypedFilters _),
    "p5_where_sql" -> (p5WhereSql _),
    "j1_topk_join" -> (j1TopkJoin _),
    "j2_hybrid_rrf" -> (j2HybridRrf _),
    "j3_left_anti" -> (j3LeftAnti _),
    "j6_inner_join_view" -> (j6InnerJoinView _),
    "a1_collect_ids" -> (a1CollectIds _),
    "a2_agg_summary" -> (a2AggSummary _),
    "w1_semantic_rank" -> (w1SemanticRank _),
    "w2_partitioned_rank" -> (w2PartitionedRank _),
    "t2_topk" -> (t2TopK _),
    "f1_cosine_topk" -> (f1CosineTopK _),
    "f5_ts_match" -> (f5TsMatch _),
    "f5_phrase_match" -> (f5PhraseMatch _),
    "f5_postings_phrase" -> (f5PostingsPhrase _),
    "f5_websearch" -> (f5Websearch _),
    "f9_token_estimate" -> (f9TokenEstimate _),
    "f9_token_bpe" -> (f9TokenBpe _),
    "token_fertility" -> (tokenFertility _),
    "f9_token_bpe_trained" -> (f9TokenBpeTrained _),
    "f10_trim_inputs" -> (f10TrimInputs _),
    "r_windowed_counts" -> (rWindowedCounts _),
    "r_sessionize" -> (rSessionize _),
    "r_asof_join" -> (rAsofJoin _),
    "r_interval_join" -> (rIntervalJoin _),
    "r_json_props" -> (rJsonProps _),
    "vocab_top_terms" -> (vocabTopTerms _),
    "dedup_exact" -> (dedupExact _),
    "dedup_source_matrix" -> (dedupSourceMatrix _),
    "dedup_source_matrix_neardup" -> (dedupSourceMatrixNeardup _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_incremental_stored" -> (dedupIncrementalStored _),
    "dedup_incremental_neardup" -> (dedupIncrementalNeardup _),
    "dedup_incremental_neardup_stored" -> (dedupIncrementalNeardupStored _),
    "pipeline_pack" -> (pipelinePack _),
    "drift_report" -> (driftReport _),
    "dedup_spans" -> (dedupSpans _),
    "dedup_boilerplate" -> (dedupBoilerplate _),
    "dedup_boilerplate_stored" -> (dedupBoilerplateStored _),
    "boilerplate_top_spans" -> (boilerplateTopSpans _),
    "dedup_within_doc" -> (dedupWithinDoc _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_embedding_cos" -> (dedupEmbeddingCos _),
    "dedup_semantic" -> (dedupSemantic _),
    "dedup_minhash_lsh" -> (dedupMinHashLsh _),
    "dedup_minhash_lsh_stored" -> (dedupMinHashLshStored _),
    "decontam_neardup" -> (decontamNeardup _),
    "decontam_semantic" -> (decontamSemantic _),
    "dedup_simhash" -> (dedupSimHash _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_clusters_star" -> (dedupClustersStar _),
    "dedup_cluster_best" -> (dedupClusterBest _),
    "ann_lsh_topk" -> (annLshTopK _),
    "ann_ivf_topk" -> (annIvfTopK _),
    "ann_hnsw_topk" -> (annHnswTopK _),
    "ann_hnsw_knn_join" -> (annHnswKnnJoin _),
    "ann_quantized_topk" -> (annQuantizedTopK _),
    "ann_ivf_quantized_topk" -> (annIvfQuantizedTopK _),
    "ann_pq_topk" -> (annPqTopK _),
    "ann_ivfpq_topk" -> (annIvfPqTopK _),
    "ann_knn_join" -> (annKnnJoin _),
    "ann_knn_join_indexed" -> (annKnnJoinIndexed _),
    "ann_knn_join_quantized" -> (annKnnJoinQuantized _),
    "ann_knn_join_quantized_indexed" -> (annKnnJoinQuantizedIndexed _),
    "ann_matryoshka_topk" -> (annMatryoshkaTopK _),
    "knn_label_prop" -> (knnLabelProp _),
    "eval_knn_metrics" -> (evalKnnMetrics _),
    "eval_ann_recall" -> (evalAnnRecall _),
    "pipeline_corpus" -> (pipelineCorpus _),
    "pipeline_c4" -> (pipelineC4 _),
    "pipeline_neardup" -> (pipelineNeardup _),
    "mine_hard_negatives" -> (mineHardNegatives _),
    "pack_sequences" -> (packSequences _),
    "pack_efficiency" -> (packEfficiency _),
    "pack_offsets" -> (packOffsets _),
    "pipeline_pack_offsets" -> (pipelinePackOffsets _),
    "export_shards" -> (exportShardManifest _),
    "export_order" -> (exportOrder _),
    "export_curriculum" -> (exportCurriculum _),
    "pipeline_curriculum" -> (pipelineCurriculum _),
    "split_assign" -> (splitAssign _),
    "eval_split_leakage" -> (evalSplitLeakage _),
    "contamination_report" -> (contaminationReport _),
    "mm_describe" -> (mmDescribe _),
    "mm_features" -> (mmFeatures _),
    "mm_features_decoded" -> (mmFeaturesDecoded _),
    "mm_neardup" -> (mmNeardup _),
    "mm_neardup_decoded" -> (mmNeardupDecoded _),
    "mm_frames" -> (mmFrames _),
    "mm_resize" -> (mmResize _),
    "text_quality_metrics" -> (textQualityMetrics _),
    "text_gopher_rules" -> (textGopherRules _),
    "text_blocklist" -> (textBlocklist _),
    "text_token_entropy" -> (textTokenEntropy _),
    "dedup_containment" -> (dedupContainment _),
    "text_quality_score" -> (textQualityScore _),
    "quality_percentile" -> (qualityPercentile _),
    "sample_percentile" -> (samplePercentile _),
    "sample_percentile_snapshot" -> (samplePercentileSnapshot _),
    "text_repetition" -> (textRepetition _),
    "text_language_id" -> (textLanguageId _),
    "text_language_id_trained" -> (textLanguageIdTrained _),
    "text_language_id_stored" -> (textLanguageIdStored _),
    "text_language_id_chargram" -> (textLanguageIdChargram _),
    "text_fingerprint" -> (textFingerprint _),
    "text_pii_scrub" -> (textPiiScrub _),
    "pii_report" -> (piiReport _),
    "sample_quality_weighted" -> (sampleQualityWeighted _),
    "sample_stratified" -> (sampleStratified _),
    "mix_token_stats" -> (mixTokenStats _),
    "mix_sample" -> (mixSample _),
    "mix_temperature" -> (mixTemperature _),
    "a3_quantiles" -> (a3Quantiles _),
    "decontaminate" -> (decontaminate _),
    "decontaminate_bloom" -> (decontaminateBloom _),
    "dedup_substrings" -> (dedupSubstrings _),
    "dsir_weights" -> (dsirWeights _),
    "dsir_sample" -> (dsirSample _),
    "ccnet_ppl_buckets" -> (ccnetPplBuckets _),
    "quality_classifier" -> (qualityClassifier _),
    "quality_filter_pareto" -> (qualityFilterPareto _),
    "eval_quality_pr" -> (evalQualityPr _),
    "f2_tsvector_rank" -> (f2TsvectorRank _),
    "f2_postings_rank" -> (f2PostingsRank _),
    "f4_rank_cd" -> (f4RankCd _),
    "f4_rank_cd_and" -> (f4RankCdAnd _),
    "f4_postings_rank_cd" -> (f4PostingsRankCd _),
    "f4_bm25" -> (f4Bm25 _),
    "f6_chunk_table" -> (f6ChunkTable _),
    "vz_semantic_search" -> (vzSemanticSearch _),
    "vz_semantic_indexed" -> (vzSemanticIndexed _),
    "vz_semantic_indexed_filtered" -> (vzSemanticIndexedFiltered _),
    "vz_semantic_quantized" -> (vzSemanticQuantized _),
    "passage_search" -> (passageSearch _),
    "vz_hybrid_search" -> (vzHybridSearch _),
    "vz_hybrid_bm25" -> (vzHybridBm25 _),
    "vz_rag" -> (vzRag _),
    "vz_rag_prompt" -> (vzRagPrompt _),
    "vz_rag_retrieve" -> (vzRagRetrieve _)
  ) ++ ingestEntries
}
