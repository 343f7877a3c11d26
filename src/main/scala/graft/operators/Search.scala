package graft.operators

import graft.functions.GraftFunctions._
import graft.types._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Search operators: semantic top-k, lexical full-text, hybrid RRF.
  *
  * Mirrors the reference's generated hybrid query
  * (core/src/query.rs:653-785) with server-mode parameterization
  * (window_size = 5×limit, rrf_k = 60, semantic_wt/fts_wt — SURVEY
  * §3.2).
  *
  * Scale notes: both legs end in `orderBy().limit(windowSize)` which
  * Spark plans as TakeOrderedAndProject — an exact distributed top-k
  * (per-partition heap + driver merge of ≤windowSize rows per
  * partition), no full sort, no full shuffle. The rank legs are then
  * ≤windowSize rows, so the RRF full-outer join and the join back to
  * the source are broadcast joins. The only full pass over the data
  * is the embarrassingly-parallel score scan.
  */
object Search {

  /** Typed metadata filter (reference P4) → Column predicate. */
  def filterColumn(name: String, fv: FilterValue): Column = {
    Identifiers.validate(name)
    val c = col(name)
    val v: Column = fv.value match {
      case FilterScalar.B(b) => lit(b)
      case FilterScalar.I(i) => lit(i)
      case FilterScalar.F(f) => lit(f)
      case FilterScalar.S(s) => lit(s)
    }
    fv.operator match {
      case FilterOperator.Eq  => c === v
      case FilterOperator.Gt  => c > v
      case FilterOperator.Gte => c >= v
      case FilterOperator.Lt  => c < v
      case FilterOperator.Lte => c <= v
    }
  }

  def applyFilters(df: DataFrame, filters: Map[String, FilterValue]): DataFrame =
    filters.foldLeft(df) { case (d, (k, v)) => d.filter(filterColumn(k, v)) }

  /** Semantic leg: cosine-rank the embeddings table against a query
    * vector, keep top `windowSize` (reference W1 + T1/T2:
    * `ROW_NUMBER() OVER (ORDER BY distance)` + LIMIT). The rank is
    * assigned AFTER the top-k, over ≤windowSize rows — the global
    * window never sees the full table.
    */
  def semanticLeg(emb: DataFrame, queryVec: Array[Float], windowSize: Int): DataFrame = {
    val qv = lit(queryVec)
    val scored = emb
      .withColumn("similarity_score", cosineSimilarity(col("embeddings"), qv))
      // null similarity (zero/null vector — cosine undefined) must not
      // rank: asc ordering is NULLS FIRST in Spark, so without this
      // filter a zero-vector row would take rank 1 and poison RRF
      .filter(col("similarity_score").isNotNull)
      .withColumn("distance", lit(1.0) - col("similarity_score"))
      .select(col("pkey"), col("similarity_score"), col("distance"))
      .orderBy(col("distance").asc, col("pkey").asc)
      .limit(windowSize)
    scored.withColumn("semantic_rank",
      row_number().over(Window.orderBy(col("distance").asc, col("pkey").asc)))
  }

  /** Lexical leg: OR-match query lexemes against the tokens table,
    * rank by EXACT `ts_rank_cd` (reference W2 + F3-F5,
    * core/src/query.rs:766): under the reference's OR rewrite every
    * matched position is its own minimal cover, so cover-density =
    * 0.1 · Σ matched-lexeme position counts (TextAnalyzer.rankCdOr) —
    * computed from the aligned `search_token_counts` array entirely
    * with codegen'd HOFs (zip_with + aggregate), no UDF in the
    * per-row hot path.
    */
  def ftsLeg(tokens: DataFrame, query: String, windowSize: Int): DataFrame = {
    val qLex = graft.functions.TextAnalyzer.queryLexemes(query)
    val qCol = lit(qLex.toArray)
    // legacy compatibility, two shapes: a table that predates the
    // counts column entirely (never refreshed) lacks the column; a
    // widened table (ParquetStore.merge schema evolution) carries null
    // counts on not-yet-refreshed rows. Both degrade to count-1 per
    // deduped lexeme (the tf-proxy assumption) instead of breaking the
    // leg or nulling those rows out of the ranking.
    val ones = array_repeat(lit(1), size(col("search_tokens")))
    val counts =
      if (tokens.columns.contains("search_token_counts"))
        coalesce(col("search_token_counts"), ones)
      else ones
    val matchedPositions = aggregate(
      zip_with(col("search_tokens"), counts,
        (t, c) => when(array_contains(qCol, t), c).otherwise(lit(0))),
      lit(0L), (acc, x) => acc + x)
    val matched = tokens
      .filter(tsMatches(col("search_tokens"), qCol))
      // one multiply over the integer sum — bit-identical to the
      // DuckDB oracle's `0.1 * sum` and the postings-index plan
      .withColumn("fts_score", lit(0.1) * matchedPositions)
      .select(col("pkey"), col("fts_score"))
      .orderBy(col("fts_score").desc, col("pkey").asc)
      .limit(windowSize)
    matched.withColumn("fts_rank",
      row_number().over(Window.orderBy(col("fts_score").desc, col("pkey").asc)))
  }

  /** BM25 FTS leg over the SAME token store [[ftsLeg]] ranks — the
    * modern-ranking upgrade (same Robertson/Spärck Jones scoring as
    * TextIndex.searchPostingsBm25, same k1/b defaults) offered as a
    * drop-in hybrid leg: identical (pkey, fts_score, fts_rank)
    * contract, so RRF fusion and weights are untouched. Corpus stats
    * (N, avgdl) are one map-side-combinable aggregate at query time —
    * the token store has no build-time meta table, and the leg scans
    * the store anyway; df per query lexeme is a |query|-row broadcast.
    * Term scores are decimal-summed so per-doc totals are
    * addition-order-independent (bit-identical to the DuckDB replay).
    */
  def bm25Leg(tokens: DataFrame, query: String, windowSize: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qLex = graft.functions.TextAnalyzer.queryLexemes(query).distinct
    // same legacy fallback as ftsLeg: null/absent counts → count-1
    val ones = array_repeat(lit(1), size(col("search_tokens")))
    val counts =
      if (tokens.columns.contains("search_token_counts"))
        coalesce(col("search_token_counts"), ones)
      else ones
    val withDl = tokens
      .withColumn("__counts", counts)
      .withColumn("__dl", aggregate(col("__counts"), lit(0L), (a, x) => a + x))
      .filter(size(col("search_tokens")) > 0)
    // docs with no lexemes are consistently absent from N and avgdl,
    // mirroring TextIndex.buildPostingsIndex's build-time stats. The
    // stats stay a LAZY one-row broadcast (not a driver .head()): one
    // Spark job for the whole leg instead of stats-job + leg-job, and
    // an empty corpus flows through as an empty frame with the right
    // schema. cast(long)/cast(double) division matches the index
    // meta's exact-sum-then-divide to the bit.
    val stats = withDl.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__s"))
    val exploded = withDl
      .select(col("pkey"), col("__dl"),
        explode(zip_with(col("search_tokens"), col("__counts"),
          (t, c) => struct(t.as("lex"), c.as("npos")))).as("__e"))
      .select(col("pkey"), col("__dl"),
        col("__e.lex").as("__lex"), col("__e.npos").as("__npos"))
      .filter(col("__lex").isin(qLex: _*))
    val dfs = exploded.groupBy(col("__lex")).agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("__n").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val avgDl = col("__s").cast("double") / col("__n").cast("double")
    val termScore = col("__idf") * (col("__npos") * lit(k1 + 1.0)) /
      (col("__npos") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("__dl") / avgDl))
    val scored = exploded.join(broadcast(dfs), Seq("__lex"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf", idf)
      .withColumn("__t", termScore)
      .groupBy(col("pkey"))
      .agg(sum(col("__t").cast("decimal(28,12)")).as("__s"))
      .select(col("pkey"), col("__s").cast("double").as("fts_score"))
      .orderBy(col("fts_score").desc, col("pkey").asc)
      .limit(windowSize)
    scored.withColumn("fts_rank",
      row_number().over(Window.orderBy(col("fts_score").desc, col("pkey").asc)))
  }

  /** Simple semantic search (reference §3.3): top-k by cosine, join
    * source for return columns, filters, limit.
    *
    * Filter placement matches the reference exactly:
    * `join_table_cosine_similarity` (core/src/query.rs:653-699) ranks
    * the ENTIRE embeddings table (its inner query has no LIMIT),
    * joins the source, applies filters, then limits — so selective
    * filters still return `limit` rows from deeper in the ranking.
    * We therefore only cap the scored leg at windowSize when there
    * are no post-filters (where capping is a pure optimization:
    * broadcast the ≤windowSize rank list instead of shuffling the
    * source). With post-filters the join is a plain pkey equi-join
    * and the final `orderBy().limit()` is still an exact distributed
    * top-k (TakeOrderedAndProject) — no full sort at any scale.
    * Pass `preFilter=true` for the better-recall-and-cheaper
    * pre-filtering Spark makes natural.
    */
  def semanticSearch(src: DataFrame, emb: DataFrame, pk: String,
      queryVec: Array[Float], limit: Int = 10,
      filters: Map[String, FilterValue] = Map.empty,
      returnCols: Seq[String] = Seq("*"),
      preFilter: Boolean = false,
      whereSql: Option[String] = None): DataFrame = {
    val windowSize = limit * 5
    val hasPredicates = filters.nonEmpty || whereSql.nonEmpty
    def applyAll(df: DataFrame): DataFrame =
      whereSql.fold(applyFilters(df, filters))(w =>
        applyFilters(df, filters).filter(expr(w)))
    val source =
      if (preFilter && hasPredicates) applyAll(src) else src
    val embIn =
      if (preFilter && hasPredicates)
        emb.join(source.select(col(pk).cast("string").as("pkey")), Seq("pkey"), "left_semi")
      else emb
    val postFiltering = hasPredicates && !preFilter
    val leg =
      if (postFiltering)
        // full ranking (reference parity): score every row, no cap
        embIn.withColumn("similarity_score",
            cosineSimilarity(col("embeddings"), lit(queryVec)))
          .filter(col("similarity_score").isNotNull)
          .select(col("pkey"), col("similarity_score"))
      else semanticLeg(embIn, queryVec, windowSize)
    // J1: without post-filters the leg is ≤windowSize rows —
    // broadcast it so the big table is never shuffled.
    val legJ = if (postFiltering) leg else broadcast(leg)
    val joined = source.join(legJ, source(pk).cast("string") === legJ("pkey"), "inner")
    val filtered =
      if (postFiltering) applyAll(joined) else joined
    val projected = filtered.select(
      projectCols(src, returnCols) ++ Seq(
        legJ("similarity_score").as("similarity_score"),
        legJ("pkey").as("__pkey")): _*)
    projected.orderBy(col("similarity_score").desc, col("__pkey").asc)
      .limit(limit).drop("__pkey")
  }

  /** Hybrid search with Reciprocal Rank Fusion
    * (core/src/query.rs:705-785): full-outer join of the two rank
    * legs on pkey, rrf = w_s/(k+rank_s) + w_f/(k+rank_f) with missing
    * legs coalesced to 0, join source, filters, final top-`limit`.
    *
    * Filter placement is reference-exact: BOTH legs are capped at
    * windowSize BEFORE the post-join filters (the reference's inner
    * queries carry `LIMIT {window_size}`, unlike its semantic-only
    * query which ranks the full table) — so a selective filter can
    * return fewer than `limit` rows. That is the reference's
    * documented behavior, and `windowSize` is the recall knob it
    * exposes for exactly this case: pass a larger window when
    * filtering aggressively.
    */
  def hybridSearch(src: DataFrame, emb: DataFrame, tokens: DataFrame, pk: String,
      queryVec: Array[Float], queryText: String, limit: Int = 10,
      windowSizeOpt: Option[Int] = None, rrfK: Double = 60.0,
      semanticWt: Double = 1.0, ftsWt: Double = 1.0,
      filters: Map[String, FilterValue] = Map.empty,
      returnCols: Seq[String] = Seq("*"),
      bm25: Boolean = false,
      whereSql: Option[String] = None): DataFrame = {
    val windowSize = windowSizeOpt.getOrElse(limit * 5)
    val sem = semanticLeg(emb, queryVec, windowSize)
    // bm25 swaps the FTS leg's scoring function; the leg contract
    // (pkey, fts_score, fts_rank) and RRF weight semantics are
    // identical either way
    val fts =
      if (bm25) bm25Leg(tokens, queryText, windowSize)
      else ftsLeg(tokens, queryText, windowSize)
    // J2: both legs ≤windowSize rows → tiny full-outer join.
    val fused = sem.join(fts, Seq("pkey"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(semanticWt) / (lit(rrfK) + col("semantic_rank")), lit(0.0)) +
        coalesce(lit(ftsWt) / (lit(rrfK) + col("fts_rank")), lit(0.0)))
    val joined = src.join(
      broadcast(fused), src(pk).cast("string") === fused("pkey"), "inner")
    // P5 where_sql: post-join over the full ranking, the reference
    // placement (extension/src/api.rs:139-155 → core hybrid where_sql)
    // — same trust model and position as the typed filters
    val filtered = whereSql.fold(applyFilters(joined, filters))(w =>
      applyFilters(joined, filters).filter(expr(w)))
    val projected = filtered.select(
      projectCols(src, returnCols) ++ Seq(
        fused("similarity_score").as("similarity_score"),
        fused("fts_score").as("fts_score"),
        fused("semantic_rank").as("semantic_rank"),
        fused("fts_rank").as("fts_rank"),
        fused("rrf_score").as("rrf_score"),
        fused("pkey").as("__pkey")): _*)
    projected.orderBy(col("rrf_score").desc, col("__pkey").asc)
      .limit(limit).drop("__pkey")
  }

  /** P7: return-column projection, default all source columns. */
  private[graft] def projectCols(src: DataFrame, returnCols: Seq[String]): Seq[Column] = {
    val cols =
      if (returnCols == Seq("*")) src.columns.toSeq
      else returnCols.map(Identifiers.validate)
    cols.map(src(_))
  }
}
