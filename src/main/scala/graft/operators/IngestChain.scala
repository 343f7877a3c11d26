package graft.operators

import graft.functions.GraftFunctions
import graft.sources.ParquetStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The ingestion chain as ONE list of stages, shared by the batch chain
  * entries (`pipeline_ingest*` / `ingest_audit*`) and the streaming
  * [[graft.streaming.Realtime.streamIngestPipeline]].
  *
  * Each [[Stage]] names its survival flag, its funnel label and the
  * [[Rule]] behind its per-doc decision:
  *
  *  - `__s1` exact dedup, `1_exact_dedup` ([[exact]])
  *  - `__s2` blocklist, `2_blocklist` ([[blocklist]])
  *  - `__s2b` boilerplate clean, `2b_boilerplate` ([[boilerplate]]):
  *    every later stage reads the CLEANED text
  *  - `__s2p` percentile gate, `2p_percentile` ([[percentile]])
  *  - `__s2q` raw quality gate, `2q_quality` ([[quality]], stream only)
  *  - `__s3` shingle decontamination, `3_decontam` ([[decontam]])
  *  - `__s3s` semantic decontamination, `3s_semantic` ([[semantic]])
  *  - near-dup ([[nearDup]]), optional and always last: `__s4` /
  *    `4_near_dedup`, or `__s3` / `3_near_dedup` in the batch chain
  *    without decontamination
  *
  * A chain is any non-empty run of these in this order, so a one-stage
  * list (exact dedup alone, or the clean alone) is a chain too.
  * [[Chain.tagged]] evaluates the list over one batch: every per-doc
  * set ([[Pass]] / [[Drop]]) materializes in ONE kind-tagged union, one
  * broadcast pivot of it tags the batch rows (a chain without sets
  * skips both), each flag ANDs its stage onto the flag before, and
  * near-dup, when present, runs over the last gate's survivors. The
  * survivors ([[Chain.survivors]]), the funnel
  * ([[Chain.funnel]]) and the per-language stats ([[Chain.stats]]) all
  * read that one tagged frame, so none of them can disagree about what
  * a stage means. Exact dedup runs over the whole batch in either
  * form, and every later gate but near-dup decides per doc (against a
  * static benchmark, calibration snapshot or span-df store), so
  * computing its set over any superset of the survivors before it and
  * ANDing the flags keeps exactly the rows a filter cascade keeps.
  * The chain's head — its leading row predicates and whole-batch sets
  * — narrows the batch first ([[View.rows]]), so the later sets, the
  * clean and the signatures only cost what a cascade would spend on
  * the head's survivors (nothing for a redelivered batch that exact
  * dedup drops whole).
  */
private[graft] object IngestChain {

  /** `df.localCheckpoint(false)` — the lineage truncation of the chain,
    * of the dedup operators and of the queries that reuse a frame — with
    * `df` kept reachable for as long as the checkpointed frame's RDD is.
    * Tasks computing a lazily checkpointed frame can still be running
    * when a concurrent job completes its checkpoint; once nothing else
    * holds the source plan, its SQL metrics are garbage-collected and
    * those tasks' metric updates fail ("Failed to update accumulator
    * ... (Unknown class)"). The source is let go as soon as the RDD is
    * collected (a cleaner thread, not the next call), so a chain of
    * truncations, each source holding the RDD before it, releases
    * within a few collections of its last use. */
  def truncate(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(false)
    cp.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        val token = new Object
        sources.put(token, df)
        cleaner.register(r.rdd, () => { sources.remove(token); () })
      case _ =>
    }
    cp
  }

  private val sources = new java.util.concurrent.ConcurrentHashMap[Object, DataFrame]()
  private val cleaner = java.lang.ref.Cleaner.create()

  /** MinHash geometry of the chain's signing stages. */
  final case class Geometry(shingleN: Int, numHashes: Int, bands: Int,
      threshold: Double)

  /** How a stage decides, per doc. */
  sealed trait Rule
  /** Keeps the rows whose text passes — the raw text before a [[Clean]]
    * stage, the cleaned text after it. */
  final case class Keep(pred: Column => Column) extends Rule
  /** Keeps the docs whose ids the set lists (each id at most once).
    * A `whole` set reads the whole batch ([[View.batch]]); any other
    * set need only cover [[View.rows]]. */
  final case class Pass(ids: View => DataFrame, whole: Boolean = false)
      extends Rule
  /** Drops the docs whose ids the set lists (each id at most once);
    * the set need only cover [[View.rows]]. */
  final case class Drop(ids: View => DataFrame) extends Rule
  /** Swaps each doc's text for its cleaned text and drops the docs the
    * clean left empty. The frame is (id, clean_text, n_kept) over at
    * least [[View.rows]] and must already be lineage-truncated: the
    * view's texts, the tag join and (batch side) the percentile scoring
    * all read it. */
  final case class Clean(cleaned: View => DataFrame) extends Rule
  /** The last stage: given the view and the earlier gates' survivors as
    * (id, text), returns the ids no earlier doc near-duplicates. */
  final case class NearDup(kept: (View, DataFrame) => DataFrame) extends Rule

  final case class Stage(flag: String, label: String, rule: Rule)

  /** Language routing: `detect` gives (id, `__dl`) over the view — the
    * detected language of the text each doc would ship — and the
    * survivors carry it as `langCol`. */
  final case class Route(langCol: String, detect: View => DataFrame)

  /** The batch as the stage rules read it. */
  final class View private[IngestChain] (chain: Chain, val batch: DataFrame) {
    def id: String = chain.id
    def text: String = chain.text
    /** The sets of the chain's head, each computed once (truncated):
      * they narrow [[rows]] and join the tag union. */
    private[IngestChain] lazy val headSets: Map[String, DataFrame] =
      chain.head.collect { case s @ Stage(_, _, Pass(ids, _)) =>
        s.flag -> ids(this).transform(truncate) }.toMap
    /** The batch rows that pass the chain's head: a row the head drops
      * can pass no later flag, so the later stages' sets, the clean and
      * [[texts]] need read only these (truncated: they all do). Built
      * on first use, so stages given precomputed inputs do not pay for
      * it. */
    lazy val rows: DataFrame = chain.head.foldLeft(batch) {
      case (df, Stage(_, _, Keep(pred))) =>
        df.filter(coalesce(pred(col(text)), lit(false)))
      case (df, s) =>
        df.join(broadcast(headSets(s.flag)), Seq(id), "left_semi")
    }.transform(truncate)
    /** The boilerplate stage's clean, when the chain has one. */
    lazy val cleaned: Option[DataFrame] = chain.stages.collectFirst {
      case Stage(_, _, Clean(c)) => c(this) }
    /** (id, text) as each doc would ship: the cleaned text (docs the
      * clean emptied are absent) after a boilerplate stage, else the
      * raw text of [[rows]]. */
    lazy val texts: DataFrame = cleaned.fold(rows.select(col(id), col(text)))(c =>
      c.filter(col("n_kept") > 0).select(col(id), col("clean_text").as(text)))
    /** (id, `__dl`), when the chain routes. */
    lazy val detected: Option[DataFrame] = chain.route.map(_.detect(this))
    /** MinHash signatures of [[texts]], built once on first use and
      * lineage-truncated: the decontamination probe, the near-dup stage
      * and the stream's signature MERGE all read them. */
    lazy val sig: DataFrame = Dedup.minHashSigOf(texts, id, text,
      chain.geometry.shingleN, chain.geometry.numHashes).transform(truncate)
  }

  final case class Chain(id: String, text: String, geometry: Geometry,
      stages: Seq[Stage], route: Option[Route] = None) {
    require(stages.nonEmpty && stages.init.forall(!_.rule.isInstanceOf[NearDup]),
      "IngestChain: a chain has stages, and a near-dup stage is the last one")

    /** The flag of the last stage: a survivor has it set. */
    def last: String = stages.last.flag

    /** The leading stages that read the raw batch row by row (`Keep`)
      * or whole (`Pass(_, whole = true)`): [[View.rows]] holds their
      * survivors. */
    def head: Seq[Stage] = stages.takeWhile(_.rule match {
      case Keep(_) => true
      case Pass(_, whole) => whole
      case _ => false
    })

    def view(batch: DataFrame): View = new View(this, batch)

    def tagged(batch: DataFrame): DataFrame = tagged(view(batch))

    /** The batch rows with one boolean column per stage flag, plus
      * `__ct` (the cleaned text) with a boilerplate stage and `__dl`
      * (the detected language) with a route. */
    def tagged(v: View): DataFrame = {
      def marker(s: Stage) = s"__m${s.flag}"
      val sets = stages.collect {
        case s @ Stage(_, _, Pass(ids, _)) =>
          s -> v.headSets.getOrElse(s.flag, ids(v))
        case s @ Stage(_, _, Drop(ids)) => s -> ids(v)
      }
      // ONE materialization for every per-doc set: a kind-tagged union,
      // then ONE broadcast of the per-doc boolean pivot. The sets stay
      // delta-sized (bounded by the batch), so the pivot broadcasts at
      // any corpus scale. Each set lists a doc at most once, so a lone
      // set is its own pivot and needs no aggregate.
      def pivot = {
        val flags = sets.map { case (s, ids) =>
            ids.select(col(id), lit(s.flag).as("__kind")) }
          .reduce(_ unionByName _).transform(truncate)
        val marks = sets.map { case (s, _) =>
          max(col("__kind") === s.flag).as(marker(s)) }
        if (sets.size == 1)
          flags.select(col(id), lit(true).as(marker(sets.head._1)))
        else flags.groupBy(col(id)).agg(marks.head, marks.tail: _*)
      }
      val joined = if (sets.isEmpty) v.batch
        else v.batch.join(broadcast(pivot), Seq(id), "left")
      var t = v.cleaned.fold(joined)(c => joined.join(
        c.select(col(id), col("clean_text").as("__ct"),
          (col("n_kept") > 0).as("__mb")), Seq(id), "left"))
      var prev = lit(true)
      var txt = col(text)
      def has(c: String) = coalesce(col(c), lit(false))
      stages.foreach { s =>
        val here = s.rule match {
          case Keep(pred) => prev && coalesce(pred(txt), lit(false))
          case Pass(_, _) => prev && has(marker(s))
          case Drop(_) => prev && !has(marker(s))
          case Clean(_) => txt = col("__ct"); prev && has("__mb")
          case NearDup(kept) =>
            // right after the head, the survivors are the view's rows:
            // near-dup reads them without going through the tag join
            val in = if (head == stages.init) v.rows.select(col(id), col(text))
              else t.filter(prev).select(col(id), txt.as(text))
            t = t.join(broadcast(kept(v, in).select(col(id),
              lit(true).as(marker(s)))), Seq(id), "left")
            prev && has(marker(s))
        }
        t = t.withColumn(s.flag, here)
        prev = col(s.flag)
      }
      v.detected.fold(t)(d => t.join(broadcast(d), Seq(id), "left"))
        .drop(("__mb" +: stages.map(marker)): _*)
    }

    /** The survivors of a [[tagged]] frame as they ship: the batch
      * columns, with the cleaned text in the text column and the
      * detected language in the route's column. */
    def survivors(tagged: DataFrame): DataFrame = {
      val working = Set("__ct", "__dl") ++ stages.map(_.flag)
      val base = tagged.columns.filterNot(working)
      val clean = stages.exists(_.rule.isInstanceOf[Clean])
      val cols = base.map { c =>
        if (c == text && clean) col("__ct").as(text)
        else if (route.exists(_.langCol == c)) col("__dl").as(c)
        else col(c)
      } ++ route.filterNot(r => base.contains(r.langCol))
        .map(r => col("__dl").as(r.langCol))
      tagged.filter(col(last)).select(cols.toIndexedSeq: _*)
    }

    /** The funnel of a [[tagged]] frame: ("0_batch", rows) plus one
      * (label, survivors) row per stage, from ONE conditional-sum
      * aggregate, ordered by stage. */
    def funnel(tagged: DataFrame): DataFrame = {
      // coalesce: sum() over an EMPTY batch is NULL; the funnel says 0
      val aggs = stages.map(s =>
        coalesce(sum(when(col(s.flag), 1L).otherwise(0L)), lit(0L))
          .as(s"__n${s.flag}"))
      tagged
        .agg(count(lit(1)).as("__n0"), aggs: _*)
        .select(explode(array(
          struct(lit("0_batch").as("stage"), col("__n0").as("n_docs")) +:
            stages.map(s => struct(lit(s.label).as("stage"),
              col(s"__n${s.flag}").as("n_docs"))): _*)).as("s"))
        .select(col("s.stage").as("stage"), col("s.n_docs").as("n_docs"))
        .orderBy(col("stage"))
    }

    /** Per-language doc and token counts of the survivors' shipped text. */
    def stats(tagged: DataFrame): DataFrame =
      survivors(tagged)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(GraftFunctions.sqlTokens(col(text)))).as("n_tokens"))
        .orderBy(col("lang"))
  }

  /** Exact dedup against the signature index's norm hashes plus the
    * keep-first rule within the WHOLE batch (a whole set: which copy of
    * a duplicate is first does not depend on any later gate). A store
    * with no index yet (a stream's first batch) dedups within the
    * batch alone. */
  def exact(store: ParquetStore, sigTable: String,
      corpusPred: Option[Column] = None): Stage =
    Stage("__s1", "1_exact_dedup", Pass({ v =>
      (if (store.exists(sigTable))
        Dedup.incrementalExactStored(store, sigTable, v.batch, v.id, v.text,
          corpusPred = corpusPred)
      else Dedup.incrementalExact(v.batch.limit(0), v.batch, v.id, v.text))
        .select(col("id").as(v.id))
    }, whole = true))

  /** The C4 blocklist over the RAW text (no terms: keeps every row). */
  def blocklist(terms: Seq[String]): Stage =
    Stage("__s2", "2_blocklist", Keep(t =>
      if (terms.isEmpty) lit(true) else GraftFunctions.blocklistClean(t, terms)))

  def boilerplate(clean: View => DataFrame): Stage =
    Stage("__s2b", "2b_boilerplate", Clean(clean))

  /** The per-language percentile gate over `scored`'s (id, pct): keeps
    * pct >= minPct. A NULL pct (a language the calibration snapshot
    * does not hold) passes when `abstain`, else drops. */
  def percentile(scored: View => DataFrame, minPct: Double,
      abstain: Boolean): Stage =
    Stage("__s2p", "2p_percentile", Pass { v =>
      val pct = col("pct")
      scored(v).filter((if (abstain) pct.isNull else lit(false)) ||
          pct >= minPct)
        .select(col(v.id))
    })

  /** The raw quality gate over the text as it would ship. */
  def quality(minQuality: Double): Stage =
    Stage("__s2q", "2q_quality", Keep(t =>
      GraftFunctions.qualityScore(t) >= minQuality))

  /** Shingle decontamination against the benchmark signatures in
    * `benchTable` (restricted by `benchPred`). By default the view's
    * shipped text is signed and probed
    * ([[Dedup.contaminatedBatchNearDup]]); with `storedBatch` the
    * batch's raw-text signatures already sit in the same store under
    * that predicate and the probe runs store against store
    * ([[Dedup.contaminatedDocsNearDupStored]]). */
  def decontam(store: ParquetStore, benchTable: String, g: Geometry,
      threshold: Double, benchPred: Option[Column] = None,
      storedBatch: Option[Column] = None): Stage =
    Stage("__s3", "3_decontam", Drop { v =>
      storedBatch.fold(
        Dedup.contaminatedBatchNearDup(store, benchTable, v.texts, v.id,
          v.text, g.shingleN, g.numHashes, g.bands, threshold,
          batchSig = Some(v.sig), benchPred = benchPred))(bp =>
        Dedup.contaminatedDocsNearDupStored(store, benchTable, bp,
          benchPred.getOrElse(lit(true)), threshold = threshold))
        .select(col("id").as(v.id))
    })

  /** Embedding-cosine decontamination: drops the ids `flagged` lists. */
  def semantic(flagged: View => DataFrame): Stage =
    Stage("__s3s", "3s_semantic", Drop(flagged))

  /** Near-dup against the signature index plus the smaller-id rule
    * within the survivors, as funnel stage `n` (`__s<n>`,
    * `<n>_near_dedup`: 4 after decontamination, 3 without it). With
    * `shareSig` the stage reads the view's signatures (restricted to
    * the survivors) instead of re-signing them. A store with no index
    * yet dedups within the survivors alone. */
  def nearDup(n: Int, store: ParquetStore, sigTable: String, g: Geometry,
      corpusPred: Option[Column] = None, shareSig: Boolean = false): Stage =
    Stage(s"__s$n", s"${n}_near_dedup", NearDup { (v, in) =>
      // truncated: the near-dup core reads its batchSig in three
      // branches (banding and two shingle join-backs)
      val sig = if (!shareSig) None else Some(v.sig.join(
          broadcast(in.select(col(v.id).as("id"))), Seq("id"), "left_semi")
        .transform(truncate))
      (if (store.exists(sigTable))
        Dedup.incrementalNearDupStored(store, sigTable, in, v.id, v.text,
          g.shingleN, g.numHashes, g.bands, g.threshold, batchSig = sig,
          corpusPred = corpusPred)
      else Dedup.incrementalNearDup(in.limit(0), in, v.id, v.text,
        g.shingleN, g.numHashes, g.bands, g.threshold, batchSig = sig))
        .select(col("id").as(v.id))
    })
}
