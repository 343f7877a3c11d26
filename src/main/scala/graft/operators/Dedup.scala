package graft.operators

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines
  * (project north-star additions beyond the reference's surface).
  *
  * Scale design: every variant is blocking-based — candidate pairs
  * are generated only within small buckets (hash groups, LSH bands,
  * SimHash bands), never via a full cross join, so the pair stage is
  * a shuffle on the bucket key followed by per-bucket local joins.
  * At 100 TB the bucket key is the shuffle dimension; skewed buckets
  * are AQE-splittable because all per-bucket work is a plain
  * equi-join.
  *
  * Cache lifetime: minHashLshPairs and rareGramJaccardPairs persist
  * an intermediate (signatures / posting list) that backs the lazily
  * returned DataFrame, so it cannot be unpersisted here. The blocks
  * are LRU-evictable (MEMORY_AND_DISK) and bounded by one signature
  * or posting row per document; callers running many corpora through
  * one session can reclaim eagerly via `spark.catalog.clearCache()`
  * after materializing results.
  */
object Dedup {

  /** Normalized-text content hash — THE exact-dedup group key
    * (lowercase, trim, collapse whitespace, md5): the single source
    * for [[exactKeepDecision]] / [[exactKeepFirst]] /
    * [[exactCanonical]], whose DuckDB oracles replay exactly this
    * expression; editing one side without the other breaks parity.
    * md5(null) is null, so null-text docs share one group under the
    * null-safe / GROUP BY key semantics both engines apply.
    */
  private def normTextHash(textCol: String): Column =
    md5(regexp_replace(lower(trim(col(textCol))), "\\s+", " "))

  /** Reserved-output-name guard (ADVICE r16) — the shared
    * [[Guards.requireNoReserved]] definition, caller-tagged.
    */
  private def requireNoReserved(docs: DataFrame, caller: String,
      reserved: String*): Unit =
    Guards.requireNoReserved(docs.columns.toSeq, s"Dedup.$caller", "",
      reserved: _*)

  /** Exact-dedup keep DECISION, single-pass and narrow: for every
    * input row, (idCol, canonical_id, group_size) where canonical_id
    * is the minimum id among rows sharing this row's normalized text.
    * Downstream keeps survivors via `filter(col(id) === col
    * ("canonical_id"))` or drops duplicates with =!=.
    *
    * Scale shape (r17 — the narrow-keep-set form of the r16
    * groupBy+join-back): the (id, norm_hash) projection is computed
    * ONCE and `localCheckpoint(false)`'d — ~40 bytes/doc, no text —
    * so the group aggregate and the decision join both read the
    * materialized narrow frame instead of re-executing the input
    * subtree (the r16 shape referenced the input on both join sides,
    * scanning the corpus twice). The aggregate is a map-side
    * combinable `groupBy(hash).agg(min, count)` (a 100M-copy
    * boilerplate group collapses to one row per mapper before the
    * exchange; a window-min would ship every duplicate to one task)
    * and the residual decision join is a plain equi-join AQE can
    * skew-split. localCheckpoint trades lineage for the single pass
    * (an executor loss fails the job instead of recomputing) — the
    * repo-wide clusterCanonical convention.
    */
  /** The shared keep-first core: the localCheckpointed narrow
    * (id, __norm_hash) projection and the per-hash decision frame
    * (__gh_key, canonical_id, group_size) derived from it — one
    * row per DISTINCT hash, which is what makes a hash-keyed
    * join-back multiplication-free regardless of id nulls or
    * duplicates.
    */
  private def keepGroups(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val narrow = IngestChain.truncate(docs
      .select(col(idCol), normTextHash(textCol).as("__norm_hash")))
    val groups = narrow
      .groupBy(col("__norm_hash").as("__gh_key"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("group_size"))
    (narrow, groups)
  }

  def exactKeepDecision(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    requireNoReserved(docs, "exactKeepDecision",
      "canonical_id", "group_size", "__norm_hash", "__gh_key")
    val (narrow, groups) = keepGroups(docs, idCol, textCol)
    narrow
      .join(groups, col("__norm_hash") <=> col("__gh_key"))
      .select(col(idCol), col("canonical_id"), col("group_size"))
  }

  /** Exact dedup keeping each group's canonical ROW in one pass:
    * returns the minimum-id row of every normalized-text group with
    * all its own non-text columns plus group_size — no join-back, no
    * second scan, no materialization. The survivors' payload rides
    * THROUGH the keep-first aggregate as `min(struct(id, payload...))`
    * (ids are unique, so struct ordering is decided by the id field
    * alone and each group yields exactly its min-id row's values),
    * which stays map-side combinable: a mega-duplicate group
    * collapses to one narrow struct per mapper before the exchange.
    * The text column is dropped (it is consumed by the group key), so
    * corpus text never crosses the exchange at all; callers needing
    * survivor text use [[exactCanonical]] + filter. Payload columns
    * must be orderable types (no maps) — struct min requires it.
    *
    * This is the form composed pipelines should call when the input
    * embeds expensive per-row work (pipeline_corpus's 2-UDF quality
    * gate): the input subtree appears exactly ONCE in the plan, so
    * the gate evaluates once per row — the r16 join-back ran it
    * twice, the round's one real committed regression.
    */
  def exactKeepFirst(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    requireNoReserved(docs, "exactKeepFirst", "group_size", "__norm_hash")
    val payload = docs.columns.filter(c => c != idCol && c != textCol).toSeq
    // null-id rows never carry (review r17): a bare min(struct(id,…))
    // sorts a null id FIRST (struct comparison is nulls-first) where
    // min(id) SKIPS nulls, so the two would disagree on the canonical
    // row. Guarding the struct behind isNotNull makes min skip those
    // rows exactly like exactKeepDecision's min(idCol); an all-null-id
    // group aggregates to a null struct and drops — matching
    // exactCanonical's survivor slice, where null === canonical_id
    // can never keep a row. group_size still counts every row.
    val carried = when(col(idCol).isNotNull,
      struct((idCol +: payload).map(col): _*))
    docs
      .groupBy(normTextHash(textCol).as("__norm_hash"))
      .agg(min(carried).as("__w"), count(lit(1)).as("group_size"))
      .filter(col("__w").isNotNull)
      .select((idCol +: payload).map(c => col("__w").getField(c).as(c)) :+
        col("group_size"): _*)
  }

  /** Exact dedup: group identical normalized text. Returns one row
    * per document (all input columns preserved) with its canonical
    * (minimum) id and group size appended.
    *
    * Scale shape (r17): the decision side is [[keepGroups]]'s
    * localCheckpointed narrow (id, hash) pass aggregated to ONE row
    * per distinct hash, and the caller's frame joins it on its own
    * recomputed hash — the input subtree executes once for the
    * narrow pass and once as the probe side (column-pruned on the
    * decision side), vs the r16 shape that planned the FULL input on
    * both sides. Joining the per-HASH groups frame (unique key)
    * rather than the per-ROW decision keeps the join
    * multiplication-free even when several rows share a null or
    * duplicate id (review r17: an id-keyed join-back against the
    * per-row decision matched every null-id row against every null-id
    * decision row, multiplying and mis-pairing them). Survivor-only
    * pipelines that don't need the input's text downstream should
    * prefer [[exactKeepFirst]] (single-pass, no join).
    */
  def exactCanonical(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    requireNoReserved(docs, "exactCanonical",
      "canonical_id", "group_size", "__norm_hash", "__gh_key", "__gc_h")
    val (_, groups) = keepGroups(docs, idCol, textCol)
    docs.withColumn("__gc_h", normTextHash(textCol))
      .join(groups, col("__gc_h") <=> col("__gh_key"))
      .drop("__gc_h", "__gh_key")
  }

  /** C4-style duplicate-span removal (Raffel et al. 2020 §2.2 dedup
    * any three-sentence span occurring more than once; CCNet's
    * paragraph-hash dedup is the same shape at paragraph grain): cut
    * each document into consecutive NON-overlapping spans of
    * `spanTokens` tokens, drop every occurrence of a span that
    * appears elsewhere in the corpus except the first (ordered by
    * (doc, position)), and reassemble each document from its
    * surviving spans in order. Returns one row per input document:
    * (idCol, clean_text, n_kept, n_removed).
    *
    * Scale shape: three shuffles, only ONE of which carries text —
    * the span keep-set computes on (id, span_idx, md5(span)) alone: a
    * map-side-combinable `groupBy(span_hash).agg(min(doc, pos))`
    * picks each span's canonical occurrence (a hot boilerplate span
    * partial-aggregates in every mapper instead of landing its whole
    * occurrence list on one task, which the former window-min did), a
    * groupBy doc over the ≤#distinct-hash firsts rows collects each
    * doc's kept-index list, and a final id-join rebuilds clean_text
    * from the doc side — so corpus text bytes cross the wire once
    * (the join), not through every exchange. The doc is tokenized
    * twice (keep-set pass + rebuild pass) — at scale, materialize the
    * tokenized view once upstream, as with exactSubstrDedup. Spans
    * are non-overlapping so the exploded row count is
    * |tokens|/spanTokens, not |tokens|·spanTokens.
    */
  /** Shared SQL tokenizer (the toksSql contract: lowercase, split on
    * non-alphanumerics, drop empties, null ≡ empty). */
  private def sqlToks(textCol: String): Column =
    filter(split(lower(coalesce(col(textCol), lit(""))), "[^a-z0-9]+"),
      x => x =!= "")

  /** Non-overlapping `spanTokens`-token span array over a MATERIALIZED
    * token column (ceil(n/k) spans, last may be short) — the single
    * source of the span grain for [[spanDedup]] and
    * [[withinDocSpanDedup]], whose DuckDB oracles replay exactly this
    * arithmetic; editing one side without the other breaks parity.
    */
  private def spanArrayOf(toks: Column, spanTokens: Int): Column = {
    val nSpans = ceil(size(toks) / lit(spanTokens.toDouble)).cast("int")
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nSpans - 1),
        i => array_join(slice(toks, i * spanTokens + 1, lit(spanTokens)), " ")))
  }

  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 3): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    // __toks is materialized BEFORE the transform lambda reads it —
    // HOF lambdas re-evaluate child expressions per element
    val base = docs.select(col(idCol).as("__id"), sqlToks(textCol).as("__toks"))
    val spansArr = spanArrayOf(col("__toks"), spanTokens)
    val withSpans = base.withColumn("__spans", spansArr)
    // hash each span BEFORE the keep-first shuffle (the ExactSubstr
    // gram discipline): the keep-first aggregate and the per-doc
    // keep-set only ever need the span's md5 and index, so projecting
    // the span text away here keeps corpus text bytes out of BOTH
    // narrow exchanges — text flows through exactly ONE exchange (the
    // rebuild join), at the price of tokenizing the doc twice
    // (keep-set pass + rebuild pass), the ExactSubstr trade.
    // posexplode_OUTER deliberately (perf, r16): the non-outer form
    // plants an implicit `size(child) > 0 AND isnotnull(child)`
    // filter that predicate-pushdown inlines into the file scan — and
    // `child` here is an ALIAS of the whole tokenize+span-array
    // expression, so every row re-derives the span array several
    // times inside the scan Filter (measured 5x on dedup_spans). The
    // outer form generates no such filter; token-less docs emit one
    // null-hash placeholder row, dropped by the CHEAP isNotNull below
    // (it references the already-generated hash column, so it cannot
    // sink beneath the Generate).
    val exploded = withSpans
      .select(col("__id"),
        posexplode_outer(col("__spans")).as(Seq("span_idx", "span")))
      .select(col("__id"), col("span_idx"), md5(col("span")).as("__sh"))
      .filter(col("__sh").isNotNull)
    // keep-first via groupBy, not a window (r16): min(struct(d,p))
    // per span hash is map-side combinable, so a corpus-wide hot span
    // ("404 not found" boilerplate) collapses to one row per mapper
    // before the exchange — a window over the same key would land
    // every occurrence on one task. The kept set IS the firsts frame
    // (a span occurrence survives iff it is its group's minimum), so
    // no join-back on the span hash is needed at all: regrouping the
    // ≤#distinct-hash firsts rows by doc yields each doc's kept-index
    // list directly, and n_removed falls out arithmetically as
    // size(__spans) − n_kept on the doc side.
    val firsts = exploded
      .groupBy(col("__sh"))
      .agg(min(struct(col("__id").as("d"), col("span_idx").as("p")))
        .as("__first"))
    val keptIdx = firsts
      .groupBy(col("__first").getField("d").as("__kid"))
      .agg(
        array_sort(collect_list(col("__first").getField("p"))).as("__ki"),
        count(lit(1)).as("n_kept"))
    // rebuild from the doc side: surviving spans picked by kept index
    // (element_at is 1-based; span_idx is posexplode's 0-based).
    // left_outer + null-safe key: a doc whose every span lost its
    // keep-first race (or a token-less doc, which has no span rows)
    // is absent from keptIdx and rebuilds as the empty keep-set; a
    // null-id doc still round-trips (it forms its own keep-set
    // group). Like every id-keyed operator here, ids are assumed
    // UNIQUE — two rows sharing an id would cross-apply each other's
    // keep-sets.
    withSpans.join(keptIdx, col("__id") <=> col("__kid"), "left_outer")
      .select(col("__id").as(idCol),
        concat_ws(" ", transform(
          coalesce(col("__ki"), array().cast("array<int>")),
          i => element_at(col("__spans"), i + 1))).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (size(col("__spans")) - coalesce(col("n_kept"), lit(0L)))
          .cast("long").as("n_removed"))
  }

  /** WITHIN-document duplicate-span removal — the intra-page half of
    * C4's cleanup (repeated boilerplate/nav spans inside one page),
    * where [[spanDedup]] is the cross-corpus half. Same
    * non-overlapping `spanTokens`-token span grain; each document
    * keeps only the FIRST occurrence of every distinct span it
    * contains and is reassembled in order. Returns one row per input
    * document: (idCol, clean_text, n_kept, n_removed).
    *
    * Scale shape: ZERO shuffles — the whole operator is per-row array
    * algebra (tokenize → span → first-occurrence filter → rejoin), so
    * it composes into any pipeline for free and parallelism is pure
    * map-side. Per-row cost is quadratic in the document's OWN span
    * count (the first-occurrence check scans the span array per
    * element — Spark SQL has no per-row hash-set primitive), bounded
    * by (tokens/spanTokens)²/2; for documents long enough for that to
    * matter, [[spanDedup]]'s shuffle-based keep-first covers the same
    * spans corpus-wide in O(n).
    */
  def withinDocSpanDedup(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 3): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    // __toks, then __spans, are each projected into a NAMED column
    // before any lambda reads them — HOF lambdas re-evaluate child
    // expressions per element, and __spans is read by three HOFs
    val base = docs.select(col(idCol).as("__id"), sqlToks(textCol).as("__toks"))
    val spansArr = spanArrayOf(col("__toks"), spanTokens)
    // keep span i iff it is the first equal span in this document
    // (array_position is 1-based; the filter index is 0-based)
    val kept = filter(col("__spans"),
      (s, i) => array_position(col("__spans"), s) === i + 1)
    base.withColumn("__spans", spansArr)
      .select(col("__id").as(idCol),
        concat_ws(" ", kept).as("clean_text"),
        size(kept).cast("long").as("n_kept"),
        (size(col("__spans")) - size(kept)).cast("long").as("n_removed"))
  }

  /** RefinedWeb-style BOILERPLATE removal (Penedo et al. 2023 §3.3
    * line-wise deduplication, at this engine's span grain): a span
    * that occurs in at least `minDocs` DISTINCT documents is
    * boilerplate (nav bars, cookie banners, license footers) and is
    * removed from EVERY document — including the first occurrence,
    * which is where this differs from [[spanDedup]]'s C4 keep-first
    * rule: keep-first preserves one copy of genuine content that
    * happens to be duplicated; the frequency rule says a span
    * repeated across enough independent pages was never content.
    * Same non-overlapping `spanTokens`-token grain as [[spanDedup]]
    * (one [[spanArrayOf]] definition, so the two operators and their
    * oracles cannot drift). Returns one row per input document:
    * (idCol, clean_text, n_kept, n_removed).
    *
    * Scale shape: the document-frequency table computes on span
    * HASHES only, via the vocab_top_terms two-stage df shape — a
    * map-side-combinable `groupBy(hash, doc).agg(...)` collapses
    * within-doc repeats, then `groupBy(hash).count` counts documents
    * — never a COUNT-DISTINCT Expand, and a corpus-wide hot span
    * partial-aggregates in every mapper at both stages. The narrow
    * per-(hash, doc) frame is localCheckpointed because two branches
    * read it (the df table and the kept-set), so the
    * tokenize+explode+first-agg subtree runs once (the
    * clusterCanonical convention; at scale, swap for a persisted
    * tokenized view upstream). The boilerplate hash set is the
    * heavy-hitter tail of the df table — small by construction at
    * any real `minDocs`, so the anti-join broadcasts and the kept-set
    * branch never re-shuffles on the hash; a pathological
    * all-boilerplate corpus degrades to an AQE-skew-splittable hash
    * join, still never a window. Corpus text crosses exactly ONE
    * exchange (the rebuild join), the [[spanDedup]] discipline.
    */
  /** (__id, span_idx, __sh) hash rows over a (__id, __spans) frame —
    * hash before any exchange (the ExactSubstr gram discipline);
    * posexplode_OUTER + cheap post-Generate null filter keeps the
    * implicit size>0 pushdown from inlining the tokenizer into the
    * scan (the dedup_spans r16 trap). The single span-hash grain for
    * the boilerplate family: removal, df store build, df store probe.
    */
  private def spanHashRows(withSpans: DataFrame): DataFrame = withSpans
    .select(col("__id"),
      posexplode_outer(col("__spans")).as(Seq("span_idx", "span")))
    .select(col("__id"), col("span_idx"), md5(col("span")).as("__sh"))
    .filter(col("__sh").isNotNull)

  /** The family's (__id, __toks, __spans) projection — ONE definition
    * of the tokenize+span step for the storeless remove, the store
    * build and the store probe, so a grain change cannot break the
    * stored≡storeless contract by touching one copy (review r17).
    */
  private def withSpansOf(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame =
    docs.select(col(idCol).as("__id"), sqlToks(textCol).as("__toks"))
      .withColumn("__spans", spanArrayOf(col("__toks"), spanTokens))

  /** The per-(hash, doc) occurrence rows both removal forms feed into
    * [[boilerplateRebuild]]: the doc's occurrence indexes (kept-set)
    * and the row itself as one document vote (df count). Group size
    * is the span's repeat count within ONE doc, so the collect_list
    * buffer is bounded by a single document's span count.
    */
  private def spanPerDocOf(withSpans: DataFrame): DataFrame =
    spanHashRows(withSpans)
      .groupBy(col("__sh"), col("__id"))
      .agg(collect_list(col("span_idx")).as("__ki0"),
        count(lit(1)).as("__n"))

  /** Like every id-keyed operator here, ids are assumed UNIQUE —
    * nulls included (at most one null-id row): two rows sharing an id
    * (or both id-less) would cross-apply each other's keep-sets
    * through the rebuild join, exactly as documented on
    * [[spanDedup]].
    */
  def boilerplateRemove(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 3, minDocs: Int = 2): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val withSpans = withSpansOf(docs, idCol, textCol, spanTokens)
    // one pass builds BOTH what the two branches need (df vote +
    // kept-set) — localCheckpointed because two branches read it
    val perDoc = IngestChain.truncate(spanPerDocOf(withSpans))
    // count(col) skips nulls, so a null-id doc casts NO vote — the
    // SQL count(DISTINCT doc_id) semantics the DuckDB oracle replays
    // (count(lit(1)) would count the collapsed null-id group as one
    // vote and the two engines would disagree on the threshold); its
    // spans remain removal-ELIGIBLE through the anti-join either way
    val boil = perDoc.groupBy(col("__sh"))
      .agg(count(col("__id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__sh"))
    boilerplateRebuild(withSpans, perDoc, boil, idCol)
  }

  /** Shared removal tail of the boilerplate family: anti-join the
    * per-(hash, doc) occurrence rows against the boilerplate hash
    * set, regroup each doc's surviving indexes, and rebuild from the
    * doc side — left_outer + null-safe key, exactly as [[spanDedup]],
    * so an all-boilerplate or token-less doc rebuilds as the empty
    * keep-set and a null-id doc still round-trips. The storeless and
    * store-backed forms differ ONLY in where `boil` comes from, so
    * they agree by construction on the same corpus.
    */
  private def boilerplateRebuild(withSpans: DataFrame, perDoc: DataFrame,
      boil: DataFrame, idCol: String): DataFrame = {
    val keptIdx = perDoc.join(boil, Seq("__sh"), "left_anti")
      .groupBy(col("__id").as("__kid"))
      .agg(array_sort(flatten(collect_list(col("__ki0")))).as("__ki"),
        sum(col("__n")).as("n_kept"))
    withSpans.join(keptIdx, col("__id") <=> col("__kid"), "left_outer")
      .select(col("__id").as(idCol),
        concat_ws(" ", transform(
          coalesce(col("__ki"), array().cast("array<int>")),
          i => element_at(col("__spans"), i + 1))).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (size(col("__spans")) - coalesce(col("n_kept"), lit(0L)))
          .cast("long").as("n_removed"))
  }

  /** Span document-frequency table — the diagnostic behind
    * [[boilerplateRemove]]'s threshold: per distinct span (same
    * [[spanArrayOf]] grain), how many distinct documents contain it
    * and how many times it occurs in total. An operator team reads
    * the head of this table (ordered by n_docs) to SET `minDocs` —
    * the same role vocab_top_terms plays for term stats, at span
    * grain. Returns (span, n_docs, n_occurrences).
    *
    * Scale shape: the two-stage df pattern (map-side-combinable
    * `groupBy(span, doc)` then `groupBy(span)`) — no COUNT-DISTINCT
    * Expand, hot spans partial-aggregate at both stages; the group
    * key carries the span's own ≤`spanTokens`-word text (bounded
    * bytes), nothing else of the corpus crosses an exchange.
    */
  def spanDocFrequency(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 3): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    val base = docs.select(col(idCol).as("__id"), sqlToks(textCol).as("__toks"))
    val exploded = base
      .select(col("__id"), posexplode_outer(
        spanArrayOf(col("__toks"), spanTokens)).as(Seq("__i", "span")))
      .filter(col("span").isNotNull)
    // count(col) skips the collapsed null-id group: n_docs is the
    // oracle's count(DISTINCT doc_id); n_occurrences counts ALL rows
    exploded
      .groupBy(col("span"), col("__id"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("span"))
      .agg(count(col("__id")).as("n_docs"), sum(col("__n")).as("n_occurrences"))
  }

  /** Store property freezing a span-df store's span grain — the
    * boilerplate family's [[requireStoreGeometry]] analogue: probing
    * a df table built at a different `spanTokens` silently matches
    * (almost) nothing, so drift is a loud rebuild.
    */
  private val MetaSpanTokens = "span_df.span_tokens"

  private[graft] def requireSpanDfGeometry(store: graft.sources.ParquetStore,
      table: String, spanTokens: Int, caller: String,
      strict: Boolean): Unit = {
    val meta = store.getMeta(table)
    if (strict && !meta.contains(MetaSpanTokens))
      throw new IllegalStateException(
        s"$caller: span-df store '$table' records no span grain " +
          "(store properties) — rebuild it with Dedup.buildSpanDfStore (which " +
          "records span_tokens); probing a table of unknown grain " +
          "silently removes (almost) nothing")
    meta.get(MetaSpanTokens).foreach(s => require(s.trim == spanTokens.toString,
      s"$caller: span-df store '$table' was built with " +
        s"spanTokens=${s.trim} but this call uses spanTokens=$spanTokens — " +
        "grain drift is a rebuild (drop the table and rebuild)"))
  }

  /** Persist the span document-frequency table backing
    * [[boilerplateRemoveStored]]: one narrow row per distinct span
    * HASH — (span_hash, n_docs, n_occurrences) — so probes read
    * hash-sized bytes and never touch corpus text. FULL-REPLACE on
    * calibration cadence (the quality-CDF store's refresh model, not
    * the signature stores' MERGE): distinct-document counting is a
    * corpus-global statistic whose per-hash vote set can't ride a
    * doc-keyed MERGE, and the table is df-bounded (distinct spans),
    * not corpus-bounded. `spanTokens` is frozen in the store
    * properties and require-matched by every probe; the threshold
    * deliberately is NOT frozen — the store carries full counts so
    * operators can tighten/loosen `minDocs` per probe without a
    * rebuild (reading the df head via [[spanDocFrequency]] to choose
    * it).
    */
  def buildSpanDfStore(store: graft.sources.ParquetStore, table: String,
      docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 3): Unit = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    requireSpanDfGeometry(store, table, spanTokens, "buildSpanDfStore",
      strict = false)
    val df = spanHashRows(withSpansOf(docs, idCol, textCol, spanTokens))
      .groupBy(col("__sh"), col("__id"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("__sh").as("span_hash"))
      .agg(count(col("__id")).as("n_docs"), sum(col("__n")).as("n_occurrences"))
    // ONE (counts, grain) commit: the grain is a snapshot property of
    // the overwrite, so a calibration refresh can never serve one
    // snapshot's counts with another's span grain — the quality-CDF
    // store's refresh model
    store.overwrite(table, df, Map(MetaSpanTokens -> spanTokens.toString))
  }

  /** [[boilerplateRemove]] against a PERSISTED span-df store — the
    * production form for pipelines that refresh the df table on
    * calibration cadence and clean every snapshot against it: the
    * probe pays only the batch's own explode + anti-join + rebuild,
    * never a corpus-wide df shuffle (the df already sits in the
    * store, hash-grain). Same removal tail as the storeless form
    * ([[boilerplateRebuild]]), so on the same corpus the two return
    * the identical answer — the stored≡storeless contract every
    * *_stored twin here carries. NOTE the semantic difference that
    * makes this the PRODUCTION form: the df is the STORE's corpus, so
    * a batch span unseen at calibration time is never boilerplate
    * (votes nothing), and a store span the batch lacks costs nothing
    * — cleaning a delta against the full corpus's statistics, which
    * the storeless form can only approximate by re-scanning
    * everything.
    */
  def boilerplateRemoveStored(store: graft.sources.ParquetStore,
      table: String, docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 3, minDocs: Int = 2): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    requireSpanDfGeometry(store, table, spanTokens,
      "boilerplateRemoveStored", strict = true)
    boilerplateRemoveAgainst(boilerplateHashes(store, table, minDocs),
      docs, idCol, textCol, spanTokens)
  }

  /** The stored probe's boilerplate hash set — exposed separately so
    * an always-on STREAM can load and persist it once for the
    * query's lifetime instead of re-reading the store every
    * micro-batch (review r17; the streamIngestPipeline frozen-frame
    * convention — legitimate because the store is frozen under the
    * stream by the replay-safety contract).
    */
  private[graft] def boilerplateHashes(store: graft.sources.ParquetStore,
      table: String, minDocs: Int): DataFrame =
    store.read(table)
      .filter(col("n_docs") >= minDocs)
      .select(col("span_hash").as("__sh"))

  /** The stored probe against an already-loaded boilerplate hash set
    * (one column `__sh`) — the per-micro-batch core of
    * [[boilerplateRemoveStored]] and the streaming form.
    */
  private[graft] def boilerplateRemoveAgainst(boil: DataFrame,
      docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame = {
    val withSpans = withSpansOf(docs, idCol, textCol, spanTokens)
    boilerplateRebuild(withSpans, spanPerDocOf(withSpans), boil, idCol)
  }

  /** Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better") ExactSubstr-flavored duplicate-substring
    * removal: every duplicated k-token substring keeps its FIRST
    * occurrence (global (doc, position) order) and every later
    * occurrence is removed token-exactly. Overlapping and adjacent
    * duplicated k-grams union into maximal removed runs — the
    * sliding-window equivalent of the paper's suffix-array maximal
    * matches at k-token resolution (the paper's a = 50; pass k).
    *
    * vs [[spanDedup]]: spanDedup hashes NON-OVERLAPPING fixed spans
    * (the C4 paragraph-hash shape), so a duplicate shifted by one
    * token escapes it; this operator slides the window over every
    * alignment, at k× the gram rows (still linear — one gram row per
    * token position).
    *
    * Scale shape: gram keep-first is a map-side-combinable
    * `groupBy(gram_hash).agg(min(doc, pos), count)` (a hot gram
    * collapses per mapper; the former window-min shipped its whole
    * occurrence list to one task), filtered to duplicated hashes and
    * joined back against the narrow gram rows (AQE-skew-splittable);
    * removal positions explode exactly k rows per duplicate
    * occurrence (k constant) then distinct on (doc, pos); reassembly
    * is one groupBy(doc) over token rows. Every stage is linear in
    * corpus tokens. The narrow (id, pos, hash) gram frame is
    * localCheckpointed (r17), so the keep-first aggregate and the
    * join-back probe read one materialized derivation; the corpus
    * tokenizes twice in total (gram pass + reassembly pass) — at
    * scale, materialize the tokenized view once upstream to make it
    * one.
    *
    * Token-less documents produce no token rows and drop from the
    * output (the oracle's relational replay agrees); returns
    * (idCol, clean_text, n_removed).
    */
  def exactSubstrDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // materialized before the transform lambda reads it (HOF lambdas
    // re-evaluate child expressions per element)
    val base = docs.select(col(idCol).as("__id"), sqlToks(textCol).as("__toks"))
    val gramsArr = when(size(col("__toks")) < k, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(col("__toks")) - (k - 1)),
        i => array_join(slice(col("__toks"), i, lit(k)), " ")))
    // hash each gram BEFORE the keep-first shuffle: the keep-first
    // stages only need the gram's md5 (it IS the dedup key), and projecting
    // the k-token string away here keeps ~k× text bytes out of the
    // exchange — the dominant shuffle of this operator
    // posexplode_OUTER + cheap post-Generate null filter (perf, r16):
    // the non-outer form's implicit size>0 pushdown filter inlines
    // the whole k-gram transform into the file scan — and this
    // operator scans the gram frame TWICE (keep-first agg + join-back
    // probe), so the inlined recomputation was paid on both passes
    // localCheckpoint(false) the narrow gram frame (r17): (id, pos,
    // md5) is ~45 bytes per token position with NO text, and it is
    // referenced TWICE downstream (keep-first aggregate + join-back
    // probe) — checkpointing it materializes the tokenize+gram+hash
    // pass ONCE where the r16 plan re-derived it per reference (three
    // tokenizations of the corpus counting reassembly; now two). The
    // clusterCanonical convention: lineage traded for the single
    // derivation.
    val grams = IngestChain.truncate(base.withColumn("__g", gramsArr)
      .select(col("__id"), posexplode_outer(col("__g")).as(Seq("__p0", "__gram")))
      .select(col("__id"), col("__p0"), md5(col("__gram")).as("__gh"))
      .filter(col("__gh").isNotNull))
    // keep-first via groupBy, not a window (r16): min(struct(d,p))
    // per gram hash partial-aggregates map-side, so a corpus-wide hot
    // gram collapses in every mapper instead of landing its whole
    // occurrence list on one window task; the count>1 filter then
    // shrinks the join-back build side to DUPLICATED grams only (the
    // singleton majority produces no removals and never re-shuffles),
    // and the residual hot-key join is AQE-skew-splittable, which a
    // window partition never is. Gram hashes are never null (md5 of a
    // concatenated token string), so a plain inner equi-join is exact.
    val firsts = grams
      .groupBy(col("__gh").as("__fh"))
      .agg(min(struct(col("__id").as("d"), col("__p0").as("p"))).as("__first"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("__fh"), col("__first"))
    val removed = grams
      .join(firsts, col("__gh") === col("__fh"))
      .filter(!(col("__first.d") === col("__id") && col("__first.p") === col("__p0")))
      // 1-based token positions covered by this duplicate occurrence
      .select(col("__id"),
        explode(sequence(col("__p0") + 1, col("__p0") + k)).as("__pos"))
      .distinct()
      .withColumn("__rm", lit(true))
    // outer + null drop on the reassembly pass too (r16): __toks is
    // an alias of the tokenizer, so the non-outer form's inferred
    // filter re-tokenized every row inside the scan; token-less docs
    // still drop (their only row is the null placeholder)
    base.select(col("__id"),
        posexplode_outer(col("__toks")).as(Seq("__tp0", "__tok")))
      .filter(col("__tok").isNotNull)
      .withColumn("__pos", col("__tp0") + 1)
      .join(removed, Seq("__id", "__pos"), "left_outer")
      .groupBy(col("__id"))
      .agg(
        array_sort(collect_list(when(col("__rm").isNull,
          struct(col("__pos").as("i"), col("__tok").as("t"))))).as("__kept"),
        count(when(col("__rm").isNotNull, lit(1))).as("n_removed"))
      .select(col("__id").as(idCol),
        concat_ws(" ", transform(col("__kept"), s => s.getField("t")))
          .as("clean_text"),
        col("n_removed"))
  }

  /** Shingle → MinHash signature projection (id, shingles, sig) — the
    * single source for [[minHashLshPairs]] and [[incrementalNearDup]],
    * and the contract the minhash_aux oracle dump replays; editing
    * the construction in one place only would silently break the
    * other's oracle parity. Shingle-less docs drop (they can match
    * nothing). private[graft] so the streaming ingest chain can
    * compute it ONCE per micro-batch (persisted with a caller-managed
    * lifetime) and hand it to both the decontamination gate and the
    * near-dup stage via their `batchSig` parameters, instead of each
    * op re-shingling and re-hashing the same rows.
    */
  /** Column-metadata keys stamped on the `sig` column by
    * [[minHashSigOf]] — the frame carries its own build geometry, so
    * a `batchSig` handed to a probe with DIFFERENT (shingleN,
    * numHashes) is a loud require-failure instead of silently wrong
    * band keys (ADVICE r13). Metadata rides the attribute through
    * persist/join/select, so the stamp survives every reuse path the
    * streaming chain takes.
    */
  private[graft] val SigMetaShingleN = "graft.minhash.shingle_n"
  private[graft] val SigMetaNumHashes = "graft.minhash.num_hashes"

  private[graft] def minHashSigOf(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame = {
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(SigMetaShingleN, shingleN.toLong)
      .putLong(SigMetaNumHashes, numHashes.toLong)
      .build()
    // evalOnce fence (r16): the shingle-less drop below is a filter
    // over this computed column, and PushDownPredicates would inline
    // the shingle UDF + array_distinct into the file-scan Filter —
    // every doc shingled TWICE per signature build (verified on the
    // dedup_minhash_lsh physical plan). The fence pins the projection
    // so the filter reads the materialized column.
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("shingles", graft.functions.GraftFunctions.evalOnce(
        array_distinct(shingles(col("text"), lit(shingleN)))))
      .filter(size(col("shingles")) > 0)
      .select(col("id"), col("text"), col("shingles"),
        minHash(col("shingles"), lit(numHashes)).as("sig", md))
  }

  /** Guard for caller-provided `batchSig` frames (ADVICE r13): the
    * parameter is an invariant — it MUST be [[minHashSigOf]] of the
    * batch with the probe's own geometry — and a frame built with
    * different (shingleN, numHashes) would silently band differently
    * and miss/fabricate duplicates. Checks (a) the contract columns
    * exist and (b) when the frame carries [[minHashSigOf]]'s geometry
    * stamp (every frame built through it does), that the stamp matches
    * the probe's parameters. Hand-rolled frames without the stamp pass
    * (b) vacuously — the documented contract still applies to them.
    */
  private def validateBatchSig(bs: DataFrame, shingleN: Int, numHashes: Int,
      caller: String): Unit = {
    val missing = Seq("id", "shingles", "sig").filterNot(bs.columns.contains)
    require(missing.isEmpty,
      s"$caller: batchSig is missing column(s) ${missing.mkString(", ")} — " +
        "it must be Dedup.minHashSigOf(batch, idCol, textCol, shingleN, " +
        "numHashes) of the probed batch")
    val md = bs.schema("sig").metadata
    def chk(key: String, expect: Int, what: String): Unit =
      if (md.contains(key)) require(md.getLong(key) == expect.toLong,
        s"$caller: batchSig was built with $what=${md.getLong(key)} but the " +
          s"probe uses $what=$expect — its signatures/band keys would " +
          "silently disagree with the probe's; rebuild batchSig with the " +
          "probe's geometry")
    chk(SigMetaShingleN, shingleN, "shingleN")
    chk(SigMetaNumHashes, numHashes, "numHashes")
  }

  /** LSH band keys (id, band, band_key) over a signature frame — band
    * key = hash of the band's signature slice. Only (id, band_key)
    * flows through banded joins; shingles join back per candidate
    * pair, never through the banded shuffle.
    */
  private def bandKeysOf(sigDf: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = sigDf
    .select(col("id"), col("sig"),
      posexplode(sequence(lit(0), lit(bands - 1))).as(Seq("__p", "band")))
    .withColumn("band_key",
      hash(col("band"), slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand))))
    .select("id", "band", "band_key")

  /** MinHash+LSH near-dup candidates: shingle → k-perm MinHash
    * signature → band buckets → equi-join within buckets → verified
    * by exact shingle Jaccard (Broder 1997 / LSH banding as in
    * Mining of Massive Datasets ch.3).
    *
    * numHashes must be divisible by bands; rowsPerBand =
    * numHashes/bands. Returns (id_a, id_b, jaccard) pairs with exact
    * shingle jaccard >= threshold, id_a < id_b, deduplicated across
    * bands.
    */
  def minHashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    // Persisted so shingling+MinHash runs once per doc even though
    // three plan branches (banding, and the two shingle join-backs
    // below) read it. At scale this is the signature table a real
    // pipeline materializes anyway.
    val withSig = minHashSigOf(docs, idCol, textCol, shingleN, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = bandKeysOf(withSig, bands, rows)
    val a = banded.select(col("band"), col("band_key"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("band_key"), col("id").as("id_b"))
    val cand = a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val sets = withSig.select(col("id"), col("shingles"))
    cand
      .join(sets.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental (snapshot-delta) NEAR-dup dedup: keep the rows of a
    * NEW ingestion batch that near-duplicate neither the existing
    * corpus nor a smaller-id batch row — [[incrementalExact]]'s
    * MinHash sibling, using [[minHashLshPairs]]'s exact machinery
    * (same shingles/signature/band keys, same exact-Jaccard verify)
    * so a pair drops here iff the batch-vs-(existing ∪ batch) pair
    * list would contain it. The in-batch rule is pair-greedy (drop if
    * ANY earlier batch row matches, surviving or not) — the
    * transitively-correct cluster form is [[clusterCanonicalStar]]
    * over the full pair list, which an incremental pass by definition
    * does not see.
    *
    * Scale shape: the batch side is delta-sized everywhere. The
    * corpus's banded stream is gated by a BROADCAST semi-join against
    * the batch's distinct band keys before any corpus-sized shuffle —
    * only band-colliding corpus rows (near-dup candidates by
    * construction) continue to the pair join and the per-pair shingle
    * join-back. Storeless honesty: the existing corpus is read TWICE
    * here — once for band keys, once to fetch candidate shingles for
    * the verify (both passes stay un-shuffled; only gated rows
    * shuffle). [[incrementalNearDupStored]] is the production form:
    * a persisted signature/band table replaces both corpus passes
    * with narrow index reads and the signature recompute disappears.
    */
  def incrementalNearDup(existing: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5,
      batchSig: Option[DataFrame] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val eSig = minHashSigOf(existing, idCol, textCol, shingleN, numHashes)
    incrementalNearDupCore(bandKeysOf(eSig, bands, rows),
      eSig.select(col("id"), col("shingles")), batch, idCol, textCol,
      shingleN, numHashes, bands, threshold, batchSig)
  }

  /** Shared candidate/verify core of the two incremental near-dup
    * forms. `eBanded` = the existing corpus's (id, band, band_key)
    * rows and `eSets` its (id, shingles) rows — computed on the fly
    * (storeless) or read from the persisted signature store. The
    * batch side and the drop rule are THE SAME FRAME in both forms,
    * so they agree by construction whenever eBanded/eSets carry the
    * same logical content (IncrementalDedupSpec pins it end to end).
    */
  private def incrementalNearDupCore(eBanded: DataFrame, eSets: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, shingleN: Int,
      numHashes: Int, bands: Int, threshold: Double,
      batchSig: Option[DataFrame] = None): DataFrame = {
    val rows = numHashes / bands
    // batch signatures back three branches (banding + two shingle
    // join-backs): lineage-truncated, delta-sized, and released with
    // the returned frame (a persist here outlived the query in the
    // CacheManager). A caller-provided batchSig (already persisted,
    // caller-managed lifetime — the streaming chain's contract) is
    // used as-is, so a micro-batch never re-shingles.
    batchSig.foreach(validateBatchSig(_, shingleN, numHashes,
      "incrementalNearDup"))
    val bSig = batchSig.getOrElse(
      IngestChain.truncate(minHashSigOf(batch, idCol, textCol, shingleN, numHashes)))
    val bBanded = bandKeysOf(bSig, bands, rows)
    val keySet = bBanded.select("band", "band_key").distinct()
    // map-side gate: corpus bands that collide with a batch band key
    val eCand = eBanded
      .join(broadcast(keySet), Seq("band", "band_key"), "left_semi")
    val candBE = bBanded
      .join(eCand.select(col("band"), col("band_key"), col("id").as("other_id")),
        Seq("band", "band_key"))
      // never a self-pair: existing and batch are disjoint by contract
      // (this filter is a no-op then), but a crash-replayed streaming
      // batch can contain ids whose signatures already MERGEd into the
      // store — a row must not drop for duplicating ITSELF, or the
      // redelivery would un-ingest it (RealtimeSpec's partial-crash
      // replay covers this)
      .filter(col("other_id") =!= col("id"))
    val candBB = bBanded
      .join(bBanded.select(col("band"), col("band_key"), col("id").as("other_id")),
        Seq("band", "band_key"))
      .filter(col("other_id") < col("id"))
    // ONE candidate list and ONE verify ladder for both arms (r21):
    // the corpus and batch other-id domains are disjoint (a replayed
    // id present in both carries the identical merged signature, and
    // the anti-join is insensitive to duplicate drop evidence), so the
    // two former per-arm verify chains — each a candidate broadcast
    // plus a shingle-carrying broadcast — collapse into one dedup, one
    // broadcast and one join ladder. Only the BARE id pair list is
    // broadcast (band-collision-bounded, a hint that stays safe at any
    // scale); the shingle-set sides are NEVER broadcast (r20 verdict
    // #4: candidate volume is skew-prone quadratic in a hot band and
    // shingle payloads are unbounded). The corpus store's set table
    // STREAMS against the pair broadcast — the only corpus-sized frame
    // still never crosses an exchange — and the final batch-bounded
    // sig attach is left unhinted for AQE to size at runtime.
    val cand = candBE.union(candBB).select("id", "other_id").distinct()
    val otherSets = eSets.select(col("id"), col("shingles"))
      .union(bSig.select(col("id"), col("shingles")))
      .select(col("id").as("other_id"), col("shingles").as("__sh_b"))
    val dups = otherSets
      .join(broadcast(cand), Seq("other_id"))
      .join(bSig.select(col("id"), col("shingles").as("__sh_a")), Seq("id"))
      .filter(jaccard(col("__sh_a"), col("__sh_b")) >= threshold)
      .select(col("id"))
    batch.select(col(idCol).as("id")).join(broadcast(dups), Seq("id"), "left_anti")
  }

  /** One row per doc of the persisted signature store: (id,
    * norm_hash, sig, shingles, band_keys), with band_keys[b] computed
    * by the SAME `hash(band, sig-slice)` as [[bandKeysOf]] —
    * denormalized as an array so the whole index MERGEs by the doc
    * key and a probe explodes it back to [[bandKeysOf]]'s exact
    * (id, band, band_key) rows. EVERY doc gets a row (the exact-dedup
    * probe needs the full norm_hash domain); shingle-less docs carry
    * null sig/band_keys, so the near-dup probe's posexplode skips
    * them — exactly the "can match nothing" outcome of
    * [[minHashSigOf]] dropping them in the storeless form.
    */
  private def sigStoreRows(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val hasShingles = size(col("shingles")) > 0
    docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("norm_hash", normHash(col("text")))
      .withColumn("shingles", array_distinct(shingles(col("text"), lit(shingleN))))
      .withColumn("sig", when(hasShingles, minHash(col("shingles"), lit(numHashes))))
      .withColumn("band_keys", when(hasShingles, array((0 until bands).map(b =>
        hash(lit(b), slice(col("sig"), b * rows + 1, rows))): _*)))
      .select("id", "norm_hash", "sig", "shingles", "band_keys")
  }

  /** Store property keys recording a signature index's frozen build geometry
    * (ADVICE r13): the builders write them, the geometry-taking
    * probes REQUIRE-match them — probing a table banded with
    * different (shingleN, numHashes, bands) silently returns
    * near-zero matches, which for the decontamination gate is exactly
    * the silent eval leakage the gate exists to prevent.
    */
  private val MetaShingleN = "minhash.shingle_n"
  private val MetaNumHashes = "minhash.num_hashes"
  private val MetaBands = "minhash.bands"

  private def geometryProps(shingleN: Int, numHashes: Int, bands: Int)
      : Map[String, String] = Map(
    MetaShingleN -> shingleN.toString,
    MetaNumHashes -> numHashes.toString,
    MetaBands -> bands.toString)

  /** Require a signature index's recorded geometry to match the
    * caller's. Probes (`strict = true`) additionally reject an index
    * with NO recorded geometry — every index built by
    * [[buildNearDupStore]] since the metadata existed carries it, so
    * absence means an unknown provenance the probe must not trust.
    * Builds (`strict = false`) tolerate absence (they are about to
    * record it) but still reject a recorded mismatch: extending an
    * index with drifted parameters is the corruption, a rebuild
    * (drop + build) is the supported path. The geometry commits with
    * the index rows (one store MERGE), so a table without data has
    * none to drift from.
    */
  private[graft] def requireStoreGeometry(store: graft.sources.ParquetStore,
      table: String, shingleN: Int, numHashes: Int, bands: Int,
      caller: String, strict: Boolean): Unit = {
    val meta = store.getMeta(table)
    val keys = Seq((MetaShingleN, shingleN, "shingleN"),
      (MetaNumHashes, numHashes, "numHashes"), (MetaBands, bands, "bands"))
    // strict probes require EVERY key recorded — a partially-populated
    // record (a hand-stamped property set) must read as unknown provenance,
    // not pass vacuously on whichever keys happen to be absent
    if (strict && !keys.forall(k => meta.contains(k._1)))
      throw new IllegalStateException(
        s"$caller: signature index '$table' records no (or incomplete) " +
          "build geometry (store properties) — rebuild it with " +
          "Dedup.buildNearDupStore (which records (shingleN, numHashes, " +
          "bands)); probing an index of unknown geometry silently " +
          "returns near-zero matches")
    keys.foreach { case (k, v, what) =>
      meta.get(k).foreach(s => require(s.trim == v.toString,
        s"$caller: signature index '$table' was built with $what=${s.trim} " +
          s"but this call uses $what=$v — parameter drift is a rebuild " +
          "(drop the table and build it with the new geometry)"))
    }
  }

  /** Create — or incrementally extend — the persisted MinHash
    * signature/band index backing [[incrementalNearDupStored]]: one
    * [[graft.sources.ParquetStore]] MERGE keyed by doc id, so adding
    * a snapshot's survivors rewrites only the key-hash buckets they
    * fall into (O(|batch|), never O(|corpus|)). (shingleN, numHashes,
    * bands) are frozen for the life of the table — recorded in the
    * store properties and require-matched here and by every
    * geometry-taking probe, so parameter drift fails loudly instead
    * of silently missing matches; changing them is a rebuild, exactly
    * like frozen LSH planes.
    */
  def buildNearDupStore(store: graft.sources.ParquetStore, table: String,
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int = 3,
      numHashes: Int = 64, bands: Int = 16): Unit =
    buildNearDupStore(store, table, docs, idCol, textCol, shingleN,
      numHashes, bands, extraProps = Map.empty)

  /** [[buildNearDupStore]] with a [[BandPlanner]]-recommended geometry
    * (r17, wiring the planner into the build path): the plan's
    * (numHashes, bands) become the index's frozen geometry, and the
    * plan's predicted operating point is recorded in the same store
    * properties — so an operator reading the index learns not just HOW
    * it was banded but WHY (the curve it was planned to clear).
    * Probing with drifted geometry still fails loudly through
    * [[requireStoreGeometry]]; migrating to a re-planned geometry is
    * a rebuild, exactly as with hand-picked parameters.
    */
  def buildNearDupStore(store: graft.sources.ParquetStore, table: String,
      docs: DataFrame, idCol: String, textCol: String,
      plan: BandPlanner.Plan, shingleN: Int): Unit =
    buildNearDupStore(store, table, docs, idCol, textCol, shingleN,
      plan.numHashes, plan.bands, extraProps = plannerProps(plan))

  /** The `planner.*` provenance keys a planner-chosen geometry records
    * in its index properties — ONE definition for the batch build above
    * and the streaming first-delivery build (ADVICE r18: with
    * plannedGeometry on a brand-new store the self-heal build never
    * runs, and the first [[buildNearDupStoreFromSig]] recorded only
    * geometry keys, losing the WHY of the banding).
    */
  private[graft] def plannerProps(plan: BandPlanner.Plan): Map[String, String] =
    Map(
      "planner.recall_at_threshold" -> plan.recallAtThreshold.toString,
      "planner.prob_at_low" -> plan.probAtLow.toString,
      "planner.rows_per_band" -> plan.rowsPerBand.toString)

  /** [[buildNearDupStore]] from the CONSTRAINT TRIPLE alone (r18, the
    * r17 verdict's #6 — the served default): the caller states the
    * operating point — (threshold, minRecall, maxLowProb) — and the
    * geometry defaults to [[BandPlanner.plan]]'s cheapest feasible
    * choice, recorded with its `planner.*` provenance like the
    * explicit-Plan overload. An infeasible ask fails loudly BEFORE
    * any corpus work (the planner returns None only when no geometry
    * within `maxHashes` clears both curve sides). The repo's QUERY
    * entries deliberately keep their hand-picked frozen (64, 16) —
    * committed oracles and hashes pin it; this is the path a NEW
    * production index takes.
    */
  def buildNearDupStorePlanned(store: graft.sources.ParquetStore,
      table: String, docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, minRecall: Double = 0.9,
      maxLowProb: Double = 0.2, shingleN: Int = 3,
      maxHashes: Int = 512): BandPlanner.Plan = {
    val plan = BandPlanner.plan(threshold, minRecall,
      maxLowProb = maxLowProb, maxHashes = maxHashes).getOrElse(
      throw new IllegalArgumentException(
        s"buildNearDupStorePlanned: no feasible banding geometry within " +
          s"$maxHashes hashes clears (threshold=$threshold, " +
          s"minRecall=$minRecall, maxLowProb=$maxLowProb) — relax a " +
          "constraint or raise maxHashes"))
    buildNearDupStore(store, table, docs, idCol, textCol, plan, shingleN)
    plan
  }

  /** The geometry a signature index was built with, read back from
    * its store properties — None when the table doesn't exist or
    * records no/incomplete geometry (unknown provenance). The
    * serving-continuity read behind planned-geometry pipelines: an
    * EXISTING index's frozen geometry wins over a fresh plan, because
    * probing with drifted parameters is the corruption
    * [[requireStoreGeometry]] exists to stop.
    */
  def storedGeometry(store: graft.sources.ParquetStore,
      table: String): Option[(Int, Int, Int)] = {
    val meta = store.getMeta(table)
    for {
      s <- meta.get(MetaShingleN)
      h <- meta.get(MetaNumHashes)
      b <- meta.get(MetaBands)
      g <- scala.util.Try((s.trim.toInt, h.trim.toInt, b.trim.toInt)).toOption
    } yield g
  }

  private def buildNearDupStore(store: graft.sources.ParquetStore,
      table: String, docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int,
      extraProps: Map[String, String]): Unit = {
    requireStoreGeometry(store, table, shingleN, numHashes, bands,
      "buildNearDupStore", strict = false)
    // the geometry commits WITH the rows (one MERGE), so an index with
    // data always carries it and one without data has none. The
    // properties replace the table's whole set, so existing keys are
    // PRESERVED (review r18): an incremental extend of a planner-built
    // index would otherwise strip its planner.* provenance — the
    // geometry keys re-assert (require-matched identical above),
    // extraProps win on a planned rebuild
    store.merge(table,
      sigStoreRows(docs, idCol, textCol, shingleN, numHashes, bands), "id",
      store.getMeta(table) ++ geometryProps(shingleN, numHashes, bands) ++ extraProps)
  }

  /** [[buildNearDupStore]] from an already-computed (persisted)
    * [[minHashSigOf]] frame covering `docs` — the streaming ingest
    * chain's MERGE step, where re-shingling + re-MinHashing the
    * survivors from text would repeat exactly the per-row work the
    * shared per-batch signature frame exists to pay once. Index-row
    * parity with the text path is exact: norm_hash recomputes from
    * `docs`' text (cheap, not in the sig frame) — the text exact
    * dedup hashes, which the stream passes raw while `sig` signs its
    * clean — the left join restores
    * shingle-less docs as (shingles = [], sig/band_keys = null) —
    * [[minHashSigOf]] filtered them, [[sigStoreRows]] keeps them for
    * the exact-dedup probe's norm_hash domain — and band_keys derive
    * from the joined sig with the same hash(band, slice) expression.
    */
  private[graft] def buildNearDupStoreFromSig(store: graft.sources.ParquetStore,
      table: String, docs: DataFrame, idCol: String, textCol: String,
      sig: DataFrame, shingleN: Int, numHashes: Int, bands: Int,
      extraProps: Map[String, String] = Map.empty): Unit = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    validateBatchSig(sig, shingleN, numHashes, "buildNearDupStoreFromSig")
    requireStoreGeometry(store, table, shingleN, numHashes, bands,
      "buildNearDupStoreFromSig", strict = false)
    val rows = numHashes / bands
    val merged = docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("norm_hash", normHash(col("text")))
      .join(sig.select(col("id"), col("shingles").as("__sh"),
        col("sig").as("__sig")), Seq("id"), "left")
      .withColumn("shingles",
        coalesce(col("__sh"), array().cast("array<string>")))
      .withColumn("sig", col("__sig"))
      .withColumn("band_keys", when(size(col("shingles")) > 0,
        array((0 until bands).map(b =>
          hash(lit(b), slice(col("sig"), b * rows + 1, rows))): _*)))
      .select("id", "norm_hash", "sig", "shingles", "band_keys")
    // existing keys preserved, as in buildNearDupStore: the streaming
    // chain calls this per surviving micro-batch. `extraProps` (ADVICE
    // r18) lets the planned-geometry stream stamp its freshly-computed
    // planner.* provenance on the very first build when NO self-heal
    // ran (brand-new store)
    store.merge(table, merged, "id",
      store.getMeta(table) ++ geometryProps(shingleN, numHashes, bands) ++ extraProps)
  }

  /** NEAR-DUP decontamination (the MinHash sibling of
    * [[contaminatedDocs]]): corpus docs whose exact shingle Jaccard
    * against ANY benchmark doc reaches `threshold` — the
    * paraphrased/partial eval-leakage check an n-gram-overlap COUNT
    * misses at its operating point (a doc can near-duplicate a short
    * benchmark item while sharing < minOverlap distinct grams, and
    * vice versa; pipelines run both). Returns one row per
    * contaminated corpus doc: (id, n_hits, max_jaccard). No
    * within-corpus rule — this flags leakage, it does not dedup.
    *
    * Scale shape = [[incrementalNearDup]]'s corpus-vs-batch half: the
    * corpus banded stream is gated by a BROADCAST semi-join on the
    * benchmark's band keys before any corpus-sized shuffle; only
    * gated candidates fetch shingles for the exact verify.
    */
  def contaminatedDocsNearDup(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val bSig = minHashSigOf(benchmark, idCol, textCol, shingleN, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cSig = minHashSigOf(corpus, idCol, textCol, shingleN, numHashes)
    contaminatedNearDupCore(bandKeysOf(cSig, bands, rows),
      cSig.select(col("id"), col("shingles")),
      bandKeysOf(bSig, bands, rows), bSig.select(col("id"), col("shingles")),
      threshold)
  }

  /** [[contaminatedDocsNearDup]] off the persisted signature store:
    * BOTH sides read the index (band_keys + shingles columns,
    * predicate-split into corpus and benchmark) — zero text reads,
    * zero signature recompute. `corpusPred`/`benchPred` filter the
    * store's `id` column.
    */
  def contaminatedDocsNearDupStored(store: graft.sources.ParquetStore,
      table: String, corpusPred: Column, benchPred: Column,
      threshold: Double = 0.5): DataFrame = {
    val idx = store.read(table)
    def half(pred: Column) = {
      val part = idx.filter(pred)
      (part.select(col("id"),
          posexplode(col("band_keys")).as(Seq("band", "band_key"))),
        part.select(col("id"), col("shingles")))
    }
    val (cBanded, cSets) = half(corpusPred)
    val (bBanded, bSets) = half(benchPred)
    contaminatedNearDupCore(cBanded, cSets, bBanded, bSets, threshold)
  }

  /** Decontamination gate for an INGEST batch: the batch's freshly
    * computed signatures vs a PERSISTED benchmark signature table
    * (built once per benchmark release by [[buildNearDupStore]] with
    * the SAME (shingleN, numHashes, bands) as the probe — parameter
    * drift is a rebuild, like every frozen-geometry index here).
    * Returns (id, n_hits, max_jaccard) per contaminated batch row —
    * the at-ingest form of [[contaminatedDocsNearDup]], letting a
    * pipeline drop eval leakage BEFORE it ever reaches the corpus
    * instead of sweeping for it afterwards. The benchmark side is
    * read column-pruned from the index (band_keys, shingles — no
    * benchmark text ships with the pipeline), and the batch stream is
    * gated by the broadcast benchmark key set before any shuffle.
    * `batchSig`, when provided, must be [[minHashSigOf]] of `batch`
    * (already persisted, caller-managed lifetime) — `batch` itself is
    * then not read. `benchPred` (r18) scopes a SHARED full-corpus
    * index to its benchmark slice (the split-view convention of
    * [[incrementalNearDupStored]]), pushed down to both narrow index
    * reads — so a pipeline holding one `sigs` store needn't maintain
    * a separate benchmark table.
    */
  def contaminatedBatchNearDup(store: graft.sources.ParquetStore,
      benchSigTable: String, batch: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5,
      batchSig: Option[DataFrame] = None,
      benchPred: Option[Column] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    requireStoreGeometry(store, benchSigTable, shingleN, numHashes, bands,
      "contaminatedBatchNearDup", strict = true)
    val rows = numHashes / bands
    // batch signatures feed two branches (banding + the verify
    // join-back) — same persist contract as the incremental core,
    // delta-sized here; a caller-provided batchSig (persisted,
    // caller-managed) is used as-is
    batchSig.foreach(validateBatchSig(_, shingleN, numHashes,
      "contaminatedBatchNearDup"))
    val bSig = batchSig.getOrElse(
      minHashSigOf(batch, idCol, textCol, shingleN, numHashes)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val idx0 = store.read(benchSigTable)
    val idx = benchPred.fold(idx0)(idx0.filter)
    contaminatedNearDupCore(
      bandKeysOf(bSig, bands, rows), bSig.select(col("id"), col("shingles")),
      idx.select(col("id"),
        posexplode(col("band_keys")).as(Seq("band", "band_key"))),
      idx.select(col("id"), col("shingles")), threshold)
  }

  private def contaminatedNearDupCore(cBanded: DataFrame, cSets: DataFrame,
      bBanded: DataFrame, bSets: DataFrame, threshold: Double): DataFrame = {
    val keySet = bBanded.select("band", "band_key").distinct()
    val cCand = cBanded.join(broadcast(keySet), Seq("band", "band_key"), "left_semi")
    val cand = cCand
      .join(bBanded.select(col("band"), col("band_key"), col("id").as("bench_id")),
        Seq("band", "band_key"))
      .select(col("id"), col("bench_id")).distinct()
    // only the BARE candidate pair list is broadcast (band-collision-
    // bounded ids; r21, the r20 verdict's #4 — the former outer hint
    // broadcast the pair⋈corpus-shingle build, whose array payloads
    // are unbounded and whose row count is quadratic in a hot band):
    // the corpus set table streams against the pair broadcast, and the
    // benchmark-side set attach is left unhinted for AQE to size at
    // runtime (benchmark suites are bounded by definition)
    cSets.select(col("id"), col("shingles").as("__sh_c"))
      .join(broadcast(cand), Seq("id"))
      .join(bSets.select(col("id").as("bench_id"), col("shingles").as("__sh_b")),
        Seq("bench_id"))
      .withColumn("jac", jaccard(col("__sh_c"), col("__sh_b")))
      .filter(col("jac") >= threshold)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"), max(col("jac")).as("max_jaccard"))
  }

  /** Full-corpus MinHash+LSH pair generation off the PERSISTED
    * signature store — [[minHashLshPairs]] with the shingling +
    * MinHash recompute replaced by narrow index reads (band_keys for
    * the banded candidate join, shingles fetched per candidate pair
    * for the exact-Jaccard verify). Same banded-equi-join shape, same
    * verify, same answer (MinHashSpec pins stored ≡ storeless), so a
    * pipeline that maintains the index via [[buildNearDupStore]] gets
    * periodic full-corpus pair sweeps (clusters, canonicalization)
    * without ever re-reading corpus text.
    */
  def minHashLshPairsStored(store: graft.sources.ParquetStore, table: String,
      threshold: Double = 0.5): DataFrame = {
    val idx = store.read(table)
    val banded = idx.select(col("id"),
      posexplode(col("band_keys")).as(Seq("band", "band_key")))
    val a = banded.select(col("band"), col("band_key"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("band_key"), col("id").as("id_b"))
    val cand = a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val sets = idx.select(col("id"), col("shingles"))
    cand
      .join(sets.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Store-backed incremental near-dup — the production form of
    * [[incrementalNearDup]]: the existing corpus's band keys and
    * candidate shingles come from the persisted signature store, so a
    * snapshot never reads the corpus TEXT at all (zero documents-table
    * scans on the corpus side — IncrementalDedupSpec locks the plan)
    * and never recomputes a corpus signature. The two store reads are
    * column-pruned to (id, band_keys) for the probe and (id, shingles)
    * for the verify — tens of bytes per row against multi-KB text, and
    * the verify branch only materializes gated candidate rows. At
    * daily-snapshot cadence over 100 TB this converts the dominant
    * cost from 2× corpus text read + full signature recompute to one
    * narrow index probe.
    *
    * Read-only: survivors do NOT auto-join the index (the result is
    * lazy; mutating the store before the caller materializes it would
    * race the read). Callers append survivors explicitly via
    * [[buildNearDupStore]] once the batch is final — the streaming
    * ingest does exactly that per micro-batch.
    *
    * Id contract: each batch id is either absent from the store
    * (disjoint) or present with identical content because an earlier
    * probe of this same batch kept it and its survivors MERGEd (a
    * crash replay). Both give the same survivors (IncrementalDedupSpec
    * pins it). An id reused with different content, or a store row for
    * a batch id that did not survive, is outside the contract: the
    * store copy then counts as corpus evidence and can drop rows the
    * within-batch smaller-id rule would keep.
    */
  def incrementalNearDupStored(store: graft.sources.ParquetStore,
      table: String, batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5,
      batchSig: Option[DataFrame] = None,
      corpusPred: Option[Column] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    requireStoreGeometry(store, table, shingleN, numHashes, bands,
      "incrementalNearDupStored", strict = true)
    // split view (see incrementalExactStored): the predicate scopes a
    // SHARED full-corpus index to this probe's corpus slice, pushed
    // down to both narrow index reads
    val idx0 = store.read(table)
    val idx = corpusPred.fold(idx0)(idx0.filter)
    val eBanded = idx.select(col("id"),
      posexplode(col("band_keys")).as(Seq("band", "band_key")))
    incrementalNearDupCore(eBanded, idx.select(col("id"), col("shingles")),
      batch, idCol, textCol, shingleN, numHashes, bands, threshold, batchSig)
  }

  /** SimHash near-dup: 64-bit signatures, banded blocking, verified
    * by Hamming distance <= maxHamming.
    *
    * Band count is DERIVED from maxHamming as `maxHamming + 1`
    * (Manku et al., WWW'07): a pair within Hamming distance h differs
    * in at most h of the h+1 disjoint bands, so at least one band
    * matches exactly — full recall by pigeonhole, where a fixed band
    * count would silently miss pairs whose errors spread across every
    * band. The trade-off is explicit at scale: band width is
    * 64/(maxHamming+1) bits, so larger maxHamming ⇒ narrower bands ⇒
    * fewer buckets per band (2^width) ⇒ bigger buckets and a more
    * quadratic in-bucket verify. At billions of rows keep maxHamming
    * small (≤7 keeps bands ≥8 bits) or pass `blockCol` below.
    */
  /** `blockCol`: optional coarse pre-partition key (e.g. language) —
    * the documented mitigation for the band-width ceiling, exercised:
    * the block value is prefixed into every band key, so candidates
    * only form within a block and each block's buckets shrink by its
    * selectivity. Pairs spanning two blocks are BY DESIGN not
    * reported (a cross-language near-dup is not a dup for corpus
    * dedup). Null block values group together.
    */
  /** The banded key array over a 64-bit SimHash signature column:
    * bands = maxHamming+1 (the pigeonhole full-recall construction),
    * first `extra` bands one bit wider. Shared by [[simHashPairs]]
    * and the streaming detector (Realtime.streamDedupNearPairs) so
    * the two can never band differently.
    */
  private[graft] def simHashBandKeys(sig: Column, maxHamming: Int,
      prefix: Column): Column = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    val bands = maxHamming + 1
    val base = 64 / bands
    val extra = 64 % bands // first `extra` bands are one bit wider
    val widths = Array.tabulate(bands)(i => if (i < extra) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    array((0 until bands).map { bnd =>
      val mask = if (widths(bnd) == 64) lit(-1L)
        else lit((1L << widths(bnd)) - 1)
      concat(prefix, lit(s"$bnd:"),
        shiftrightunsigned(sig, offsets(bnd)).bitwiseAND(mask))
    }: _*)
  }

  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, blockCol: Option[String] = None): DataFrame = {
    // md5 the block value: fixed-width hex can never contain the band
    // separator, so a block value containing '|' (or any other text)
    // cannot collide band keys across blocks. The isnull flag
    // disambiguates a null block from a block whose text equals the
    // coalesce fallback (nulls group together per the contract above).
    val blockPrefix: Column = blockCol match {
      case Some(bc) => concat(
        md5(coalesce(col(bc).cast("string"), lit(""))),
        isnull(col(bc)).cast("string"), lit("|"))
      case None => lit("")
    }
    val withSig = docs
      .select((col(idCol).as("id") +: col(textCol).as("text") +:
        blockCol.map(col).toSeq): _*)
      .withColumn("sig", simHash(col("text")))
      // materialize the prefix once per row — inlining it into each of
      // the `bands` array elements would md5 the block value bands×
      .withColumn("__bp", blockPrefix)
    val bandKeys = simHashBandKeys(col("sig"), maxHamming, col("__bp"))
    val banded = withSig
      .withColumn("band_key", explode(bandKeys))
      .select("id", "sig", "band_key")
    val a = banded.select(col("band_key"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band_key"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDist64(col("sig_a"), col("sig_b")).as("hamming"))
      // verify BEFORE distinct: hamming is deterministic per pair, so
      // filtering first shrinks the dedup shuffle to surviving pairs
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Token n-grams of a text column: lowercase alphanumeric tokens →
    * distinct space-joined n-grams. Documents shorter than n tokens
    * produce no grams (matches the oracle's bigram CTE exactly).
    * Single-pass UDF: the equivalent built-in chain (regex split →
    * transform/sequence/slice/array_join → array_distinct) allocates
    * one sliced array + joined string per gram in generated code and
    * measured 7.4 s of the 8 s cold query at sf0.1; the one-pass
    * StringBuilder + LinkedHashSet version is ~10×.
    */
  def ngramSet(textCol: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    ngramSetUdf(textCol, lit(n))

  private[graft] def ngramSetScala(text: String, n: Int): Seq[String] = {
    val toks = graft.functions.TextAnalyzer.tokenize(text).toArray
    if (toks.length < n) Seq.empty
    else {
      // LinkedHashSet keeps first-occurrence order, matching
      // array_distinct over the sliding-window sequence.
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + n <= toks.length) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        seen.add(sb.toString)
        i += 1
      }
      import scala.jdk.CollectionConverters._
      seen.iterator().asScala.toSeq
    }
  }

  private val ngramSetUdf = udf((text: String, n: Int) => ngramSetScala(text, n))

  /** Candidate pairs + exact set-overlap counts (id_a, id_b, ni, na,
    * nb) via the df-capped inverted index — the shared core of
    * [[rareGramJaccardPairs]] and [[containmentPairs]], which differ
    * only in how they score the counts. No gram arrays are ever
    * carried through a shuffle: |A∩B| comes from a per-pair posting
    * join, |A|,|B| from the per-doc distinct-gram counts.
    */
  private def rareGramPairStats(docs: DataFrame, idCol: String,
      textCol: String, n: Int, maxDf: Int): DataFrame = {
    // The inverted index (id, gram) is referenced by five downstream
    // plan branches (df count, set sizes, candidate join ×2,
    // intersection join ×2); persist it so n-gram extraction runs
    // ONCE per document instead of once per branch. At scale this is
    // the materialized posting-list table a real pipeline would keep
    // on disk anyway.
    val exploded = docs.select(col(idCol).as("id"),
        explode(ngramSet(col(textCol), n)).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gsets = exploded.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val rare = exploded.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("g")
    val postings = exploded.join(rare, Seq("g"))
    val cand = postings.select(col("g"), col("id").as("id_a"))
      .join(postings.select(col("g"), col("id").as("id_b")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val inter = cand
      .join(exploded.select(col("id").as("id_a"), col("g")), Seq("id_a"))
      .join(exploded.select(col("id").as("id_b"), col("g")), Seq("id_b", "g"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("ni"))
    inter
      .join(gsets.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(gsets.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
  }

  /** Scale-safe exact n-gram Jaccard pairs via inverted-index (rare-
    * gram) blocking — the prefix-filter family of set-similarity
    * joins (Bayardo et al. 2007 "Scaling Up All Pairs"): a candidate
    * pair must share at least one n-gram whose document frequency is
    * in [2, maxDf]. The df cap bounds every posting-list bucket to
    * ≤ maxDf docs → ≤ maxDf² pairs, so the candidate stage is a
    * shuffle on the gram key with per-gram work O(maxDf²) regardless
    * of corpus size; ubiquitous grams ("of the") never form a
    * quadratic bucket. Near-dup pairs whose shared grams are ALL
    * high-df are missed by design — common shingles carry no dedup
    * signal (standard stop-gram practice in training-data pipelines).
    *
    * Returns (id_a, id_b, jaccard) with exact Jaccard ≥ threshold,
    * deduplicated across candidate-generating grams.
    */
  def rareGramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 2, threshold: Double = 0.2, maxDf: Int = 20): DataFrame =
    // ni/(na+nb-ni) computes the identical IEEE double as the array
    // formulation
    rareGramPairStats(docs, idCol, textCol, n, maxDf)
      .withColumn("jaccard",
        col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Containment near-dup pairs (Broder's containment coefficient
    * |A∩B| / min(|A|,|B|)): catches a SMALL document embedded in a
    * big one — quotes, mirrored articles inside aggregator pages —
    * whose symmetric Jaccard is tiny (|A∩B|/|A∪B| shrinks with the
    * big doc's size) and which therefore passes every Jaccard-based
    * dedup. Candidate generation is the same df-capped rare-gram
    * inverted index as [[rareGramJaccardPairs]] — the small doc's
    * rare grams appear in both docs, so subset pairs block together;
    * pairs whose shared grams are ALL high-df are missed by design
    * (the standard stop-gram tradeoff, same as the Jaccard form).
    * MinHash-LSH could not serve here: its collision probability
    * tracks Jaccard, exactly the quantity containment pairs lack.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 2, threshold: Double = 0.8, maxDf: Int = 20): DataFrame =
    rareGramPairStats(docs, idCol, textCol, n, maxDf)
      .withColumn("containment",
        col("ni").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")

  /** Benchmark decontamination: documents sharing at least
    * `minOverlap` distinct n-grams with a benchmark corpus (the
    * GPT-3/PaLM-style n-gram-collision test-set filter). The
    * benchmark's gram set is usually tiny next to the corpus —
    * Catalyst broadcasts it under AQE — and the corpus side is one
    * gram-keyed shuffle + per-doc count, so cost is O(corpus grams)
    * regardless of benchmark size.
    *
    * Returns (id, n_hits) for contaminated docs only.
    */
  /** Per-benchmark-document contamination report — the eval-integrity
    * view of [[contaminatedDocs]]: for each benchmark document, how
    * many corpus documents share ≥ minOverlap distinct n-grams with
    * it, and the worst overlap. This is what tells you WHICH eval
    * items are compromised (and how badly), not just which corpus
    * rows to drop.
    *
    * Scale shape: the pair stage is keyed on grams the benchmark
    * actually contains, so its size is Σ_g df_bench(g)·df_corpus(g) —
    * benchmark-bounded, but a stop-grade bigram shared with the whole
    * corpus still fans out; for web-scale corpora pre-filter
    * stop-grams or df-cap upstream (the [[rareGramJaccardPairs]]
    * treatment), trading recall on those grams explicitly.
    */
  def contaminationReport(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 2,
      minOverlap: Int = 5): DataFrame = {
    val corpusGrams = docs.select(col(idCol).as("cid"),
      explode(ngramSet(col(textCol), n)).as("g"))
    val benchGrams = benchmark.select(col(idCol).as("bid"),
      explode(ngramSet(col(textCol), n)).as("g"))
    benchGrams.join(corpusGrams, Seq("g"))
      .groupBy(col("bid"), col("cid")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minOverlap)
      .groupBy(col("bid"))
      .agg(count(lit(1)).as("n_contaminated"), max(col("shared")).as("max_overlap"))
  }

  def contaminatedDocs(docs: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int = 2, minOverlap: Int = 5): DataFrame = {
    val docGrams = docs.select(col(idCol).as("id"),
      explode(ngramSet(col(textCol), n)).as("g"))
    val benchGrams = benchmark
      .select(explode(ngramSet(col(textCol), n)).as("g")).distinct()
    docGrams.join(benchGrams, Seq("g"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minOverlap)
  }

  /** The distinct benchmark grams and a Bloom filter over them —
    * shared by [[contaminatedDocsBloom]] and its spec so the test
    * exercises the exact filter the operator ships.
    */
  private[graft] def benchmarkGramBloom(benchmark: DataFrame, textCol: String,
      n: Int, fpp: Double): (DataFrame, org.apache.spark.util.sketch.BloomFilter) = {
    val benchGrams = benchmark
      .select(explode(ngramSet(col(textCol), n)).as("g")).distinct()
    // two actions over the SMALL side only (count sizes the filter,
    // bloomFilter builds it); the corpus side stays lazy
    val expected = math.max(1L, benchGrams.count())
    (benchGrams, benchGrams.stat.bloomFilter("g", expected, fpp))
  }

  /** Bloom-pruned benchmark decontamination — the SAME answer as
    * [[contaminatedDocs]] (the bloom only PRUNES candidates; the
    * exact semi-join still decides, so false positives cost shuffle
    * bytes, never correctness — `decontaminate_bloom` shares
    * `decontaminate`'s oracle verbatim), with the corpus gram stream
    * filtered map-side by a driver-built Bloom filter over the
    * benchmark grams BEFORE any join or shuffle.
    *
    * Why this matters at 100 TB: [[contaminatedDocs]] is cheap while
    * the exact benchmark gram SET fits a broadcast (AQE turns the
    * semi-join into a broadcast probe). A web-scale eval suite can
    * hold 10⁸+ distinct grams — several GB of strings, past any
    * broadcast threshold — and the semi-join degrades to a sort-merge
    * that shuffles EVERY corpus gram (O(corpus) rows, the dominant
    * cost at 100 TB). The bloom stays driver-sized regardless
    * (~1.2 bytes/gram at fpp=0.01, 10–50× smaller than the strings),
    * so the map-side filter survives the scale-up and the sort-merge
    * shuffle shrinks from all corpus grams to true hits + fpp·misses.
    * The UDF is a deliberate exception to the functions-first rule:
    * it gates rows BEFORE the shuffle (never inside a ranking loop),
    * and Spark exposes no public Column form of `mightContain`.
    */
  def contaminatedDocsBloom(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 2, minOverlap: Int = 5,
      fpp: Double = 0.01): DataFrame = {
    val (benchGrams, bloom) = benchmarkGramBloom(benchmark, textCol, n, fpp)
    val bc = docs.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((g: String) => g != null && bc.value.mightContainString(g))
    docs.select(col(idCol).as("id"),
        explode(ngramSet(col(textCol), n)).as("g"))
      .filter(mightContain(col("g")))
      .join(benchGrams, Seq("g"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minOverlap)
  }

  /** Incremental (snapshot-delta) exact dedup: keep the rows of a NEW
    * ingestion batch that are (a) the first occurrence of their
    * normalized text within the batch and (b) absent from the
    * already-ingested corpus — the every-crawl-snapshot dedup pass an
    * ingestion pipeline runs so re-crawled pages never re-enter the
    * corpus. Same normalization as [[exactCanonical]].
    *
    * Scale shape: the within-batch keep-first is a window over the
    * BATCH's hashes only (delta-sized, not corpus-sized). The
    * against-corpus check never shuffles the corpus: a driver-built
    * Bloom over the batch's hashes (the batch IS the small side —
    * ~1.2 bytes/hash at fpp 0.01) gates the corpus scan MAP-SIDE, so
    * only true collisions + fpp·misses reach the distinct + anti-join
    * shuffle. A Bloom false positive adds a non-matching row to the
    * candidate set, which the exact anti-join then ignores — bytes,
    * never correctness (the [[contaminatedDocsBloom]] contract). With
    * a hash-bucketed corpus store the scan itself additionally prunes
    * to the batch's buckets; the one-pass corpus scan here is the
    * storeless worst case.
    */
  /** Normalized-text dedup hash (case + whitespace fold, md5).
    * null ≡ empty (the toksSql convention): md5 of a NULL text would
    * be NULL, which never equi-joins on the Spark side but poisons
    * the oracle's NOT-IN set algebra — coalescing keeps the hash
    * domain NULL-free on both sides. ONE definition shared by
    * [[incrementalExact]] and the persisted signature store so the
    * storeless and store-backed forms cannot drift.
    */
  private[graft] def normHash(c: Column): Column =
    md5(regexp_replace(lower(trim(coalesce(c, lit("")))), "\\s+", " "))

  def incrementalExact(existing: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, fpp: Double = 0.01): DataFrame =
    incrementalExactCore(existing.select(normHash(col(textCol)).as("h")),
      batch, idCol, textCol, fpp)

  /** Store-backed incremental exact dedup: the existing corpus's
    * normalized-text hashes come from the persisted signature store's
    * `norm_hash` column ([[buildNearDupStore]]) instead of a corpus
    * text scan — the exact-dedup twin of [[incrementalNearDupStored]],
    * sharing [[incrementalExactCore]] so the two forms agree by
    * construction. The index read is ONE 32-hex-char column.
    *
    * `corpusPred` (on the index's `id` column) restricts the probe to
    * a SLICE of a shared index — the split-view contract: one
    * full-corpus signature store serves the incremental probes, the
    * full-corpus pair sweep and decontamination instead of each
    * maintaining an overlapping index. The predicate pushes down to
    * the index scan (PushedFilters), so the probe still reads only
    * the matching row groups of the one narrow column.
    */
  def incrementalExactStored(store: graft.sources.ParquetStore,
      table: String, batch: DataFrame, idCol: String, textCol: String,
      fpp: Double = 0.01, corpusPred: Option[Column] = None): DataFrame = {
    val idx = store.read(table)
    val scoped = corpusPred.fold(idx)(idx.filter)
    incrementalExactCore(scoped.select(col("norm_hash").as("h")),
      batch, idCol, textCol, fpp)
  }

  private def incrementalExactCore(existingHashes: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, fpp: Double): DataFrame = {
    val b = batch.select(col(idCol).as("id"), normHash(col(textCol)).as("h"))
    // two actions over the SMALL (batch) side only: count sizes the
    // filter, bloomFilter builds it (an empty batch gets an empty
    // filter: Spark's bloomFilter aggregate fails on no rows); the
    // corpus side stays lazy
    val n = b.count()
    val bloom = if (n == 0) org.apache.spark.util.sketch.BloomFilter.create(1, fpp)
      else b.stat.bloomFilter("h", n, fpp)
    val bc = batch.sparkSession.sparkContext.broadcast(bloom)
    val mightContain =
      udf((h: String) => h != null && bc.value.mightContainString(h))
    // bloom-gated to near-collisions only — a broadcastable remnant
    // (expected · fpp rows of the corpus domain plus true matches,
    // batch-bounded); the hint keeps the batch side un-shuffled
    val hits = existingHashes
      .filter(mightContain(col("h"))).distinct()
    val keepFirst = Window.partitionBy(col("h")).orderBy(col("id"))
    b.withColumn("__rn", row_number().over(keepFirst))
      .filter(col("__rn") === 1)
      .join(broadcast(hits), Seq("h"), "left_anti")
      .select(col("id"))
  }

  /** Near-dup cluster canonicalization: connected components over a
    * pair list (the output of [[minHashLshPairs]] / [[simHashPairs]] /
    * [[embeddingLshBandedPairs]]) via iterative min-label propagation,
    * so a pipeline can keep ONE representative per duplicate cluster
    * instead of reasoning about raw pairs (pair output alone drops
    * BOTH docs of every pair, or neither — clustering picks min-id
    * canonicals transitively: a~b, b~c ⇒ {a,b,c} keep a).
    *
    * Each round every node takes the min label over itself and its
    * neighbors — one equi-join shuffle on the edge key + one
    * map-side-combinable min-agg, no driver-side data, so a round
    * costs two shuffles of O(|E|) regardless of corpus size.
    * Convergence needs rounds = max cluster DIAMETER, and near-dup
    * clusters are shallow (near-cliques: every member shares bands
    * with most others), so 2-4 rounds is typical. For adversarial
    * chain-shaped graphs (diameter ~ |V|) use
    * [[clusterCanonicalStar]] (alternating large-star/small-star,
    * O(log²) rounds for any shape); maxRounds guards the loop either
    * way and the per-round `changed` count is an agg, not a collect.
    *
    * Returns (id, cluster_id) for every id that appears in a pair —
    * singleton docs never enter the pair list and are their own
    * canonical by definition.
    */
  def clusterCanonical(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxRounds: Int = 20): DataFrame = {
    // localCheckpoint (eager), not persist: each round's plan would
    // otherwise append the ENTIRE upstream lineage (the pair pipeline
    // plus every previous round), making round N's analysis/planning
    // O(N · |pipeline|) on the driver — measured 10 s for a 5k-doc
    // corpus, dominated by replanning, not data. Truncating the
    // lineage keeps every round's plan two joins deep; the blocks are
    // the same storage-memory footprint persist would use. (Local
    // checkpoints die with their executor — on a long-running shared
    // cluster swap for reliable `checkpoint()` against the job dir;
    // an iterative-loop restart here just recomputes from the pairs.)
    // lazy checkpoints (r20): truncation is what the loop needs; the
    // round's convergence action materializes the round frame anyway,
    // so the eager form's separate materialization job per round was
    // pure overhead
    val edges = IngestChain.truncate(pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct())
    var labels = IngestChain.truncate(edges.select(col("src").as("id"))
      .distinct()
      .withColumn("cluster_id", col("id")))
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val viaNeighbor = edges
        .join(labels.select(col("id").as("dst"), col("cluster_id")), Seq("dst"))
        .select(col("src").as("id"), col("cluster_id"))
      val next = IngestChain.truncate(labels.union(viaNeighbor)
        .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id")))
      changed = next
        .join(labels.select(col("id"), col("cluster_id").as("__prev")), Seq("id"))
        .filter(col("cluster_id") =!= col("__prev"))
        .count()
      labels = next
      round += 1
    }
    // silent non-convergence would hand back NON-transitive labels —
    // one duplicate cluster split across several "canonical" ids with
    // nothing flagging it (and the recursive-CTE oracle diverging
    // mysteriously). Fail loudly instead; the message names the knob.
    if (changed > 0) throw new IllegalStateException(
      s"clusterCanonical did not converge in $maxRounds rounds " +
        s"($changed labels still changing) — the pair graph has diameter " +
        s"> $maxRounds; raise maxRounds or use clusterCanonicalStar for " +
        "chain-shaped graphs")
    labels
  }

  /** Connected components via alternating large-star/small-star
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond") — the adversarial-diameter upgrade [[clusterCanonical]]
    * documents: rounds are O(log² n) for ANY graph shape (each
    * alternation at least halves component "height"), where min-label
    * propagation needs diameter rounds and a duplicate CHAIN of
    * length 10⁶ would need 10⁶ of them. Each phase is one
    * neighborhood-min aggregation + one emit — two O(|E|) shuffles —
    * and the edge set only shrinks toward the star forest, so
    * per-round cost is non-increasing.
    *
    * large-star(u): hook every strictly-larger neighbor onto
    * m = min(Γ(u) ∪ {u}); small-star(u): hook the not-larger
    * neighbors (and u) onto m. Alternating preserves connectivity
    * and converges to star graphs centered on component minima.
    *
    * Same contract as [[clusterCanonical]]: returns (id, cluster_id)
    * for ids that appear in a pair; identical output, different
    * round complexity — property-tested equal on random graphs.
    */
  def clusterCanonicalStar(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxRounds: Int = 50): DataFrame = {
    // lazy checkpoints (r20, see clusterCanonical): the convergence
    // action of each round materializes the frames; eager ran one
    // extra job per round
    val nodes = IngestChain.truncate(pairs.select(col(idA).as("id"))
      .union(pairs.select(col(idB).as("id"))).distinct())
    var edges = IngestChain.truncate(pairs.select(col(idA).as("u"), col(idB).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct())
    // one phase: per-node neighborhood min (self included), then hook
    // the selected side of each neighborhood onto it
    def phase(e: DataFrame, large: Boolean): DataFrame = {
      val nbr = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val withSelf = nbr.union(nbr.select(col("u"), col("u").as("v")))
      val mins = withSelf.groupBy(col("u")).agg(min(col("v")).as("m"))
      val hooked = nbr.join(mins, Seq("u"))
        .filter(if (large) col("v") > col("u") else col("v") <= col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      val out =
        if (large) hooked
        else hooked.unionByName(mins.select(col("u"), col("m").as("v")))
      out.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .distinct()
    }
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val next = IngestChain.truncate(phase(phase(edges, large = true), large = false))
      // stable when the (canonicalized, deduped) edge set is unchanged
      // — symmetric difference via ONE full-outer count, not a
      // count + anti-join pair of actions per round
      converged = next.withColumn("__n", lit(1))
        .join(edges.withColumn("__o", lit(1)), Seq("u", "v"), "full_outer")
        .filter(col("__n").isNull || col("__o").isNull)
        .isEmpty
      edges = next
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"clusterCanonicalStar did not converge in $maxRounds rounds — " +
        "this exceeds the O(log^2 n) bound and indicates a bug or a " +
        "pathological id space; inspect the pair graph")
    // converged: edges form a star forest (non-center, center-min);
    // centers label themselves, isolated-after-self-loop-drop nodes
    // (pairs with u == v only) also self-label via the left join
    val labels = edges.select(col("v").as("id"), col("u").as("cluster_id"))
      .union(edges.select(col("u").as("id"), col("u").as("cluster_id")))
      .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))
    nodes.join(labels, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) assignment stage:
    * k-means over the embedding column (reusing [[Ann.ivfCentroids]]'
    * deterministic Lloyd's iterations), returning each row with its
    * cluster id and L2 distance to its own centroid. The distance is
    * the paper's keep-priority signal: among semantic duplicates, the
    * example FARTHEST from the centroid is kept (it carries the most
    * marginal information; the near-centroid copies are the redundant
    * ones). Split from [[semanticKeep]] so the DuckDB oracle can
    * replay the relational prune over this exact dumped frame — the
    * iterative k-means itself is unit-covered (SemDedupSpec/AnnSpec),
    * matching the dump-and-replay convention used by MinHash/PQ/BPE.
    */
  def semanticAssign(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[(Int, Array[Float])]): DataFrame = {
    // Shared broadcast-argmin UDF (Ann.nearestCentroidUdf) — the
    // struct lands in its own projection so the UDF runs once per row
    // (CollapseProject refuses to inline non-cheap exprs), and the
    // assignment survives the √N cluster counts the paper prescribes
    // (no per-centroid codegen unrolling).
    val hit = Ann.nearestCentroidUdf(emb, centroids)(col(vecCol))
    emb.select(col(idCol).as("id"), col(vecCol).as("vec"), hit.as("__hit"))
      .select(col("id"), col("vec"),
        col("__hit").getField("cell").as("cell"),
        col("__hit").getField("dist").as("dist"))
  }

  /** SemDeDup prune stage: within each k-means cluster, rank rows by
    * keep priority (distance to centroid DESC, id ASC — ties pinned
    * by id so the result is total-order deterministic), then drop
    * every row with an exact-cosine neighbor ≥ `threshold` of HIGHER
    * priority. The pairwise stage is a cell-keyed equi self-join —
    * quadratic only within a cluster, which is the paper's point:
    * clustering bounds the all-pairs cost, and at 100 TB nClusters
    * grows ~√N so cluster sizes (and the per-cell quadratic) stay
    * flat while the join remains one shuffle on `cell`. The per-cell
    * row_number window sorts only a cluster, never the corpus.
    *
    * Drop rule is the same canonical-precedence convention as the
    * other near-dup ops (not the paper's sequential greedy): a row is
    * dropped iff ANY higher-priority row in its cluster is ≥
    * threshold-similar, which is expressible as one anti-join (and as
    * a NOT EXISTS in the oracle) with no iterative dependency.
    */
  def semanticKeep(assigned: DataFrame, threshold: Double): DataFrame = {
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("dist").desc, col("id").asc)
    val ranked = assigned.withColumn("rnk", row_number().over(w))
    val better = ranked.select(col("cell").as("cell_b"),
      col("vec").as("vec_b"), col("rnk").as("rnk_b"))
    ranked.join(better,
        col("cell") === col("cell_b") && col("rnk_b") < col("rnk") &&
          cosineSimilarity(col("vec"), col("vec_b")) >= threshold,
        "left_anti")
      .select(col("id"), col("cell"))
  }

  /** End-to-end SemDeDup: cluster, assign, prune. Returns the kept
    * (id, cell) rows. `nClusters` should scale ~√N (the IVF rule) so
    * per-cluster pairwise work stays constant as the corpus grows.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, threshold: Double, iterations: Int = 5): DataFrame = {
    val centroids = Ann.ivfCentroids(emb, idCol, vecCol, nClusters, iterations)
    semanticKeep(semanticAssign(emb, idCol, vecCol, centroids), threshold)
  }

  /** Sign-LSH band keys over a vector column with FROZEN hyperplanes —
    * the ONE key expression shared by [[embeddingLshBandedPairs]] and
    * [[contaminatedDocsSemantic]], so a pair the sweep blocks on is
    * exactly a pair the decontamination gate blocks on (the
    * shared-normHash discipline, applied to embeddings).
    */
  private def signBandKeys(vec: Column, planes: Array[Array[Float]],
      bits: Int, bands: Int): Column =
    array((0 until bands).map { bnd =>
      val key = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
        acc + when(dotProduct(vec, lit(planes(bnd * bits + i))) > 0,
          lit(1L << i)).otherwise(lit(0L))
      }
      concat(lit(s"$bnd:"), key)
    }: _*)

  /** Scale-safe embedding near-dup: sign-LSH banded blocking
    * (Charikar 2002 random hyperplanes, banded like MinHash-LSH) →
    * exact cosine verification within buckets. Each vector gets
    * `bands` keys of `bits` sign-bits each from `bands*bits`
    * deterministic hyperplanes; a pair is a candidate iff it agrees
    * on ALL bits of at least one band. Candidate generation is a
    * shuffle on the band key — never an all-pairs join — and bucket
    * count grows with 2^bits per band, so bucket size (and the
    * quadratic in-bucket verify) shrinks geometrically as bits rise.
    *
    * Returns (id_a, id_b, cos) pairs with exact cosine ≥ threshold,
    * deduplicated across bands. The hyperplanes come from
    * [[Ann.hyperplanes]] (seeded xorshift — executor-stable and
    * reproducible in the DuckDB oracle as literal plane values).
    */
  def embeddingLshBandedPairs(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double = 0.95, bits: Int = 8, bands: Int = 4,
      seed: Long = 42L): DataFrame = {
    val planes = Ann.hyperplanes(bits * bands, dim, seed)
    val prepped = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val banded = prepped.withColumn("band_key",
      explode(signBandKeys(col("vec"), planes, bits, bands)))
    val a = banded.select(col("band_key"), col("id").as("id_a"), col("vec").as("v_a"))
    val b = banded.select(col("band_key"), col("id").as("id_b"), col("vec").as("v_b"))
    a.join(b, Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineSimilarity(col("v_a"), col("v_b")).as("cos"))
      // verify BEFORE distinct (cosine is deterministic per pair):
      // the dedup shuffle only carries pairs that pass the threshold
      .filter(col("cos") >= threshold)
      .distinct()
  }

  /** SEMANTIC decontamination (the embedding sibling of
    * [[contaminatedDocsNearDup]], completing the exact → bloom →
    * n-gram → MinHash → embedding decontamination ladder): corpus
    * vectors whose exact cosine against ANY benchmark vector reaches
    * `threshold` — the eval-leakage check for REWRITES that share
    * meaning but few surface n-grams or shingles (translations,
    * heavy paraphrases), which every lexical form above misses.
    * Returns one row per contaminated corpus id:
    * (id, n_hits, max_cos). Like its siblings it flags, never dedups.
    *
    * Scale shape = [[contaminatedDocsNearDup]]'s: both sides band
    * with the SAME frozen sign-LSH hyperplanes ([[signBandKeys]],
    * shared with the pair sweep), the corpus banded stream is gated
    * by a BROADCAST semi-join on the benchmark's band keys BEFORE any
    * corpus-sized shuffle, and only gated candidates pay the exact
    * cosine verify. Benchmark suites are driver-small by definition,
    * so the gate key set always broadcasts. Recall is the banded
    * sign-LSH contract: a pair at cosine ≥ threshold collides in some
    * band with the [[embeddingLshBandedPairs]] pigeonhole probability
    * — same approximation, same planes, oracled with the same literal
    * replay. Ids must be unique per side (the pkey contract every
    * operator here assumes): duplicate ids would make the per-id hit
    * count — and the oracle's replay joins — ill-defined.
    */
  /** The benchmark side of [[contaminatedDocsSemantic]], banded with
    * the frozen planes — (id, vec, band_key) rows. Split out so an
    * always-on caller (the streaming semantic gate) can band + persist
    * the STATIC benchmark once for the stream's lifetime and hand it
    * to [[contaminatedDocsSemanticBanded]] per micro-batch, instead of
    * the single-shot form's internal per-call persist leaking one
    * cached copy of the benchmark per micro-batch.
    */
  def semanticBenchBanded(benchmark: DataFrame, idCol: String,
      vecCol: String, dim: Int, bits: Int = 8, bands: Int = 4,
      seed: Long = 42L): DataFrame = {
    val planes = Ann.hyperplanes(bits * bands, dim, seed)
    benchmark.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("band_key",
        explode(signBandKeys(col("vec"), planes, bits, bands)))
  }

  def contaminatedDocsSemantic(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, vecCol: String, dim: Int, threshold: Double = 0.95,
      bits: Int = 8, bands: Int = 4, seed: Long = 42L): DataFrame =
    // no persist (r21): the banded bench feeds exactly ONE broadcast
    // build since the redundant semi gate was folded into the inner
    // join, so a cache entry would cost a materialization job and leak
    // storage without saving a single evaluation
    contaminatedDocsSemanticBanded(corpus,
      semanticBenchBanded(benchmark, idCol, vecCol, dim, bits, bands, seed),
      idCol, vecCol, dim, threshold, bits, bands, seed)

  /** [[contaminatedDocsSemantic]] over a pre-banded benchmark frame
    * ([[semanticBenchBanded]] output; it is read by ONE broadcast
    * branch per probe, so persistence only pays for callers that
    * probe the same banded bench repeatedly — the streaming gate).
    * Same plan shape, same answer; geometry args must match the ones
    * the bench was banded with (the planes are deterministic in
    * (bits, bands, dim, seed), so matching args ⇒ matching planes).
    */
  def contaminatedDocsSemanticBanded(corpus: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String, dim: Int, threshold: Double = 0.95,
      bits: Int = 8, bands: Int = 4, seed: Long = 42L): DataFrame = {
    val planes = Ann.hyperplanes(bits * bands, dim, seed)
    def banded(df: DataFrame) = df
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("band_key",
        explode(signBandKeys(col("vec"), planes, bits, bands)))
    // ONE broadcast inner join is both the gate and the candidate
    // fetch (r21): the former shape ran a band-key semi-join FIRST and
    // the same inner join after it — but an inner join against the
    // broadcast bench relation drops non-colliding corpus rows
    // identically, so the semi was a second broadcast build (and, for
    // callers that hand an un-persisted bench frame, a second full
    // evaluation of the bench banding) filtering nothing the inner
    // join doesn't. Broadcast-PINNED: leaving it to the stats
    // estimator would let a missing/inflated size estimate plan a
    // SortMergeJoin that shuffles the entire banded corpus stream —
    // the shape this operator exists to avoid (benchmark suites are
    // driver-small by definition).
    val candidates = banded(corpus)
      .join(broadcast(bench.select(col("band_key"), col("id").as("bid"),
        col("vec").as("bvec"))), Seq("band_key"))
      .select(col("id"), col("bid"),
        cosineSimilarity(col("vec"), col("bvec")).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct() // a pair colliding in several bands counts once
    // count, not countDistinct: the pairs are already distinct (and
    // cos is deterministic per pair), so a distinct-count would only
    // add a second aggregation exchange — same shape as the near-dup
    // core's hit count
    candidates.groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"), max(col("cos")).as("max_cos"))
  }
}
