package graft.streaming

import graft.VectorizeEngine
import graft.types.VectorizeJob
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}

/** Realtime (incremental) embedding maintenance.
  *
  * The reference's realtime mode is trigger → pgmq queue → background
  * worker (SURVEY §2.9 R1-R5). The Spark-native equivalent collapses
  * the queue into Structured Streaming micro-batches: a stream of
  * source rows drives `foreachBatch`, each batch is rendered,
  * embedded, and MERGEd — idempotently, so the at-least-once
  * delivery of checkpoint recovery preserves correctness exactly the
  * way the reference's `ON CONFLICT DO UPDATE` upsert does
  * (worker/src/ops.rs:8-70).
  */
object Realtime {

  /** Process one micro-batch of changed source rows for `job`: keep
    * the last writer per key, then the engine's one write path
    * ([[VectorizeEngine.upsertRows]], the same one `refreshJob` runs)
    * — MERGE search tokens, embed, MERGE the vectors into the table
    * the job serves from, upsert the optional vector index. This is
    * the body of the reference worker's execute_job
    * (worker/src/executor.rs:60-160), which likewise serves trigger,
    * queue, cron and manual refreshes alike. An empty batch commits
    * nothing and calls no provider: each MERGE returns on an empty
    * update, and the embedder has no rows to batch.
    *
    * A deduped batch small enough that the distributed path would run
    * it as one partition anyway ([[onDriver]]) is collected to the
    * driver once, as a local relation: it is then embedded on the
    * driver and each store MERGE writes its delta in one 1-task job.
    * A larger batch, or any batch with broadcasts or adaptive
    * coalescing off, is persisted and takes the distributed path.
    */
  def processBatch(engine: VectorizeEngine, job: VectorizeJob, batch: DataFrame,
      indexPath: Option[String] = None): Unit = {
    // A micro-batch may contain several versions of one key (insert
    // then update, or at-least-once redelivery): keep only the last
    // writer per pkey (by update_time_col when present) so the MERGE
    // sees at most one row per key — the same end state Postgres
    // reaches by applying the statements in order.
    val deduped = job.updateTimeCol match {
      case Some(u) if batch.columns.contains(u) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(job.primaryKey)).orderBy(col(u).desc)
        batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case _ =>
        // Without an update-time column there is no order to recover:
        // which duplicate survives is arbitrary (same as the reference
        // worker, whose queue message carries only record ids — the
        // row is re-read from the source at process time). Jobs whose
        // streams can carry multiple versions of a key per batch
        // should declare update_time_col.
        batch.dropDuplicates(job.primaryKey)
    }
    // read once: the tokens MERGE and the embed both read the rows, and
    // each would otherwise re-run the dedup shuffle. A small batch is
    // collected to the driver, so both MERGEs take their local paths;
    // a larger one is persisted, like refreshJob's delta. The index
    // upsert stays idempotent under at-least-once redelivery: it
    // rebuilds only touched graph partitions, and a replay reproduces
    // byte-identical partitions
    if (onDriver(deduped))
      engine.upsertRows(job, GraftColumnBridge.collectLocal(deduped), indexPath)
    else {
      deduped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try engine.upsertRows(job, deduped, indexPath)
      finally deduped.unpersist()
    }
  }

  /** Whether [[processBatch]] collects `deduped` to the driver: when its
    * size estimate is within both the serving tier's gate
    * (`spark.sql.autoBroadcastJoinThreshold`) and the size that
    * adaptive execution coalesces into one partition
    * (`spark.sql.adaptive.coalescePartitions.minPartitionSize`). The
    * persisted path would then embed and write the batch in one task
    * as well, so collecting it gives up no parallelism.
    */
  private def onDriver(deduped: DataFrame): Boolean = {
    val spark = deduped.sparkSession
    val bound = math.min(GraftColumnBridge.broadcastThreshold(spark),
      GraftColumnBridge.onePartitionBytes(spark))
    bound >= 0 && GraftColumnBridge.sizeInBytes(deduped) <= bound
  }

  /** Start the realtime pipeline from a streaming DataFrame of source
    * rows (file stream, Kafka, Delta CDF...). Checkpointing gives
    * at-least-once; the MERGE makes replays idempotent (R5).
    */
  def start(engine: VectorizeEngine, jobName: String, stream: DataFrame,
      checkpointDir: String, trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      indexPath: Option[String] = None): StreamingQuery = {
    val job = engine.job(jobName).getOrElse(
      throw new IllegalArgumentException(s"unknown job: $jobName"))
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(engine, job, batch, indexPath)
      }
      .start()
  }

  /** Cron-mode equivalent (R6): one Trigger.AvailableNow pass over
    * whatever accumulated since the last run.
    */
  def runAvailableNow(engine: VectorizeEngine, jobName: String, stream: DataFrame,
      checkpointDir: String, indexPath: Option[String] = None): StreamingQuery =
    start(engine, jobName, stream, checkpointDir, Trigger.AvailableNow(), indexPath)

  /** Streaming incremental INGESTION: each micro-batch is deduped
    * against the ACCUMULATED store (exact normalized-text hash, via
    * [[graft.operators.Dedup.incrementalExact]]) and within itself,
    * and the survivors MERGE in keyed by `idCol` — the streaming form
    * of the snapshot-delta dedup, with the "seen" state living in the
    * STORE rather than Spark state. Complements [[streamDedup]]:
    * dropDuplicatesWithinWatermark bounds its in-memory state by the
    * watermark horizon (duplicates beyond it pass), while this form's
    * history is unbounded at store cost — re-crawls from months ago
    * still drop, the contract an ingestion pipeline actually needs.
    *
    * Replay-safe by construction, twice over: a re-delivered row
    * whose first copy already MERGEd is now in the store, so the
    * dedup itself drops it; and if a crash lands between dedup and
    * MERGE, the keyed MERGE of the replayed batch rewrites the same
    * rows — either way restart + replay reaches the same store state
    * (RealtimeSpec proves it across a checkpoint restart).
    */
  def streamIncrementalIngest(store: graft.sources.ParquetStore, table: String,
      docs: DataFrame, idCol: String, textCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val schema = docs.schema
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // persisted: the body runs several actions (the bloom build's
        // count + filter inside incrementalExact, the isEmpty probes,
        // and merge's touched-bucket collect + write) — without the
        // persists each would re-run the batch source plan, and the
        // survivors' plan would re-scan the ever-growing store twice
        val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (!b.isEmpty) {
            val existing = store.readOrEmpty(table, schema)
            val kept = graft.operators.Dedup
              .incrementalExact(existing, b, idCol, textCol)
              .withColumnRenamed("id", idCol)
            val rows = b.join(kept, Seq(idCol), "left_semi")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              if (!rows.isEmpty) store.merge(table, rows, idCol): Unit
            } finally rows.unpersist()
          }
        } finally b.unpersist()
      }
      .start()
  }

  /** Streaming BOILERPLATE cleaning — the store-backed
    * [[graft.operators.Dedup.boilerplateRemoveStored]] applied per
    * micro-batch: each delivery's documents are cleaned against the
    * FROZEN span-df store (built on calibration cadence by
    * [[graft.operators.Dedup.buildSpanDfStore]]) and the cleaned rows
    * MERGE into `outTable` keyed by doc id. Replay-safe by
    * construction: clean_text is a pure function of (row, store,
    * spanTokens, minDocs) — the store never changes under the stream
    * — so an at-least-once redelivery MERGEs byte-identical rows (a
    * no-op), the CurriculumExport purity argument. The span grain is
    * require-matched against the store's properties at stream START
    * (cheap-config-checks-first: a drifted store must fail the start,
    * not wedge every checkpoint restart inside the first
    * micro-batch) and again by every probe.
    *
    * Ordering note: this is the standalone cleaning stream (C4 cleans
    * then dedups). The composition INTO [[streamIngestPipeline]] —
    * which changes every gate's input text — exists as
    * [[BoilerplateGate]] (r18), oracled by the batch twin
    * `pipeline_ingest_boil`.
    */
  def streamBoilerplateClean(store: graft.sources.ParquetStore,
      outTable: String, dfTable: String, docs: DataFrame, idCol: String,
      textCol: String, checkpointDir: String, spanTokens: Int = 3,
      minDocs: Int = 2,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // EVERY config check before start (review r17): a bad knob or a
    // misspelled column must fail .start(), not the first micro-batch
    // — which would wedge every checkpoint restart on the same throw
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    Seq(idCol, textCol).foreach(c => require(docs.columns.contains(c),
      s"streamBoilerplateClean: stream schema has no column '$c' " +
        s"(columns: ${docs.columns.mkString(", ")})"))
    graft.operators.Dedup.requireSpanDfGeometry(store, dfTable, spanTokens,
      "streamBoilerplateClean", strict = true)
    // the boilerplate hash set is FROZEN under the stream (the
    // replay-safety contract), so load it once for the query's
    // lifetime instead of re-reading the store per micro-batch; the
    // startReleasing listener unpersists it at termination
    val boil = graft.operators.Dedup
      .boilerplateHashes(store, dfTable, minDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    startReleasing(docs.sparkSession, Seq(boil)) {
      docs.writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // persisted: the probe's rebuild join reads the batch twice
          // (occurrence rows + doc side), and merge adds its own
          // touched-bucket actions
          val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            if (!b.isEmpty) {
              val cleaned = graft.operators.Dedup.boilerplateRemoveAgainst(
                boil, b, idCol, textCol, spanTokens)
              store.merge(outTable, cleaned, idCol): Unit
            }
          } finally b.unpersist()
        }
        .start()
    }
  }

  /** Streaming form of the FULL ingestion chain (the batch
    * `pipeline_ingest` stages, in the same cost order): each
    * micro-batch runs exact dedup against the accumulated store and
    * within itself → the C4 blocklist gate
    * ([[graft.functions.GraftFunctions.blocklistClean]] — the SAME
    * expression the batch chain uses, so the two can never drift) →
    * an optional quality gate (`minQuality`, scored by the shared
    * [[graft.functions.GraftFunctions.qualityScore]] — per-row, so it
    * prunes BEFORE the near-dup shuffles, mirroring `pipeline_c4`'s
    * composition) → an optional DECONTAMINATION gate (`benchSigTable`:
    * rows near-duplicating a persisted benchmark signature index are
    * dropped at ingest — [[graft.operators.Dedup.contaminatedBatchNearDup]],
    * same geometry as the corpus index; the benchmark table is static,
    * so the stage is stateless and replay-safe. The gate matches at
    * `decontamThreshold` when set, else at `threshold` — a missed
    * contaminated doc is the expensive error, so the gate is typically
    * set STRICTER (lower) than the dedup threshold, matching the batch
    * API where [[graft.operators.Dedup.contaminatedBatchNearDup]] has
    * its own parameter)
    * → an optional SEMANTIC decontamination rung ([[SemanticGate]]:
    * exact-cosine hits against a persisted benchmark vector table
    * dropped next, adjacent to the shingle rung — the full
    * decontamination ladder applied AT INGEST)
    * → near-dup against the PERSISTED MinHash signature index
    * ([[graft.operators.Dedup.incrementalNearDupStored]]) and within
    * itself. Survivors MERGE into the docs table AND their signatures
    * MERGE into the index, so the next micro-batch probes them.
    *
    * `auditTable`, when set, persists a per-micro-batch funnel — one
    * (batch_id, stage, n_docs) row per enabled stage, the streaming
    * sibling of the batch `ingest_audit_decontam` query — so an
    * always-on pipeline's drop rates are queryable without replaying
    * anything. Keyed by (batch, stage); see the inline contract for
    * replay semantics.
    *
    * Each micro-batch runs the SAME [[graft.operators.IngestChain]]
    * the batch chain entries run: the stage list is built once at
    * START from the options above, every micro-batch evaluates it as
    * one tagged frame, takes the funnel from ONE aggregate over it,
    * and MERGEs the survivors. A single micro-batch is EXACTLY the
    * batch chain over (store, batch) — RealtimeSpec pins the stream
    * against the batch configurations (Queries.ingestSpecs) stage by
    * stage. Across micro-batches the near-dup history
    * is the SURVIVOR set (a dropped row's signature never enters the
    * index), i.e. sequential-greedy semantics — the batch form's
    * pair-greedy in-batch rule sees dropped rows too, which an
    * incremental pass by definition cannot; RealtimeSpec pins the
    * chunked run against the sequential snapshot-by-snapshot batch
    * chain, which is the contract an always-on pipeline actually has.
    *
    * Both dedup stages probe the SIGNATURE index, not the docs table:
    * exact dedup reads its narrow norm_hash column
    * ([[graft.operators.Dedup.incrementalExactStored]]), so a
    * micro-batch never scans the accumulated corpus TEXT at all — the
    * docs-table MERGE is the only thing that touches it, and MERGE
    * I/O is bounded by the touched key-hash buckets.
    *
    * Crash-replay safety: the docs table MERGEs BEFORE the signature
    * index, and the near-dup core ignores self-pairs. Crash between
    * the merges → the redelivered rows still pass both dedup gates
    * (their signatures are absent), the docs MERGE rewrites the same
    * rows, and the signature MERGE completes; crash after both →
    * the exact gate drops the redelivery outright. Either order of
    * partial completion converges to the same store state.
    */
  /** Config for the SEMANTIC rung of the at-ingest decontamination
    * ladder: batch rows whose embedding's exact cosine against ANY
    * vector of the persisted benchmark table reaches `threshold` are
    * dropped before they reach the corpus —
    * [[graft.operators.Dedup.contaminatedDocsSemantic]] per
    * micro-batch, catching the meaning-preserving rewrites the
    * shingle-Jaccard gate's surface overlap misses. The stream's rows
    * must carry `vecCol` (an `array<float>` of `dim` — produced by
    * the pipeline's encode step upstream), and `benchVecTable` must
    * hold the benchmark's (idCol, vecCol) rows — built once per
    * benchmark release via `store.merge(benchVecTable,
    * benchDf.select(idCol, vecCol), idCol)`. Banding uses the frozen
    * seed-42 sign-LSH planes (deterministic), so the stage is
    * stateless and replay-safe exactly like the shingle gate; the
    * recall-first 4-bit × 8-band default is decontam_semantic's
    * (a leakage gate over-admits candidates, the exact cosine verify
    * restores precision).
    */
  final case class SemanticGate(benchVecTable: String, vecCol: String,
      dim: Int, threshold: Double = 0.95, bits: Int = 4, bands: Int = 8)

  /** Config for the percentile-calibrated quality gate (r15): keep a
    * row iff its per-LANGUAGE quality percentile — looked up against
    * the persisted CDF snapshot `cdfTable`, built on calibration
    * cadence by [[graft.operators.QualityCal.buildPercentileStore]] —
    * reaches `minPct`. Rank-based, so one knob means the same thing
    * in every language; the raw `minQuality` knob is the
    * cross-language miscalibration this gate replaces (a raw cutoff
    * keeps 60% of English and 5% of German). The snapshot's scorer
    * version is require-matched at stream START (a CDF from an older
    * scorer fails loudly — [[graft.operators.QualityCal.requireCdf]]),
    * and `expectSnapshot` optionally pins the calibration release the
    * pipeline must run against (the staleness guard). Rows of a
    * language ABSENT from the snapshot get a NULL percentile and the
    * gate ABSTAINS (keeps them): an uncalibrated language carries no
    * evidence of low quality, and silently dropping a new language at
    * ingest is the worse failure — the funnel's `2p_percentile` stage
    * makes the abstention volume observable.
    */
  final case class PercentileGate(cdfTable: String, minPct: Double,
      langCol: String = "lang", expectSnapshot: Option[String] = None)

  /** Config for the boilerplate-clean STAGE of the ingest pipeline
    * (r18 — the composition [[streamBoilerplateClean]]'s scaladoc
    * deliberately left to "a pipeline that re-oracles it"; the batch
    * twin `pipeline_ingest_boil` now does): each micro-batch's
    * blocklist survivors are cleaned against the FROZEN span-df store
    * `dfTable` (built on calibration cadence by
    * [[graft.operators.Dedup.buildSpanDfStore]]), docs whose every
    * span was boilerplate DROP, and survivors' `textCol` is swapped
    * for the cleaned form — so the percentile gate scores, the
    * decontamination gates sign, the near-dup stage shingles, and the
    * docs-table MERGE ships the CLEANED text (the RefinedWeb order:
    * clean before quality/dedup, because the cleaned text changes
    * every downstream signal). Replay-safe like the standalone clean:
    * clean_text is a pure function of (row, store, spanTokens,
    * minDocs) and the store is frozen under the stream. The hash set
    * loads ONCE per query lifetime (the streamBoilerplateClean
    * convention) and the span grain is require-matched at START.
    */
  final case class BoilerplateGate(dfTable: String, spanTokens: Int = 3,
      minDocs: Int = 2)

  /** Config for the language-ID ROUTING stage (r19, the r18 verdict's
    * #4): production corpora don't arrive labeled, but the percentile
    * gate and the curriculum export key their per-language CDF
    * lookups on a language column. With this gate on, each
    * micro-batch's `langCol` is DETECTED by the persisted trained
    * model (`modelTable`, written by
    * [[graft.operators.LangId.saveModel]]) over the text the later
    * stages actually consume — the CLEANED text when the boilerplate
    * stage is on — producing (or overwriting) the column every
    * downstream gate reads. The model's FULL feature geometry (langs
    * inventory, bucket hexLen, n-gram order, integer serving scale)
    * is require-matched at stream START
    * ([[graft.operators.LangId.loadModel]] — the store-property discipline
    * of the signature indexes; reference shape: the job-scoped
    * model/provenance checks of core/src/init.rs:122-269): a drifted,
    * partial, or unversioned artifact fails the `.start()`, never the
    * first micro-batch. Serving is the scorer-slot UDF
    * ([[graft.operators.LangId.scorer]], pinned ≡ the relational
    * detect by TextSpec): a pure per-row map over a frozen
    * |langs| × 16^hexLen closure — the routing stage adds ZERO
    * shuffles and ZERO state to the micro-batch plan, so it is
    * replay-safe exactly like the blocklist filter.
    */
  final case class LangIdGate(modelTable: String, langCol: String = "lang")

  /** Planned banding geometry for [[streamIngestPipeline]] (r18, the
    * r17 verdict's #6 — the served default): instead of hand-picking
    * (numHashes, bands), the operator states the OPERATING POINT —
    * keep pairs at `threshold` with at least `minRecall` band-collision
    * probability while pairs at half the threshold collide with at
    * most `maxLowProb` — and the pipeline resolves geometry at START:
    * an EXISTING signature index's frozen, recorded geometry wins
    * (serving continuity — probing with drifted parameters is the
    * corruption requireStoreGeometry stops; re-planning is a rebuild),
    * otherwise [[graft.operators.BandPlanner.plan]]'s cheapest
    * feasible choice builds the index and records its `planner.*`
    * provenance. An infeasible ask fails the `.start()`, never the
    * first micro-batch.
    */
  final case class PlannedGeometry(threshold: Double,
      minRecall: Double = 0.9, maxLowProb: Double = 0.2,
      maxHashes: Int = 512)

  /** Config for the streaming CURRICULUM export (r16): each
    * micro-batch's SURVIVORS additionally MERGE one row per doc into
    * `table` — (id, shard, level, sort_key), the per-row halves of
    * the curriculum order: shard = the deterministic md5 bucket,
    * level = the per-language quality percentile against the
    * persisted `cdfTable` snapshot (the streaming calibration
    * convention — NULL abstains and sorts last, like the batch
    * window's asc_nulls_last), sort_key = the epoch-seeded md5
    * tiebreak. All three are pure functions of (row, snapshot, seed),
    * so a crash-replayed batch MERGEs byte-identical rows
    * (last-delivery-wins like the audit table; a restart under a
    * REFRESHED snapshot re-levels only redelivered rows — converging
    * to the newest calibration per delivery, the at-least-once
    * analogue of rebuilding the batch export).
    *
    * What is deliberately NOT incremental: `seq`. Dense per-shard
    * numbering is inherently global — a newly ingested mid-level doc
    * belongs in the MIDDLE of its shard's sequence, shifting every
    * later seq — so no streaming design can emit stable final
    * placements row-by-row. The stream therefore stages everything
    * corpus-sized, and [[curriculumOrder]] assigns seq at export time
    * with ONE md5-bucket-bounded window over the narrow staging
    * table (no partition outgrows ~N/nShards rows; no text, no
    * corpus rescan) — equal by construction to running the batch
    * [[graft.operators.Export.shardOrderBy]] over the final corpus
    * with the same snapshot percentile.
    */
  final case class CurriculumExport(table: String, cdfTable: String,
      nShards: Int, seed: String, langCol: String = "lang",
      expectSnapshot: Option[String] = None)

  def streamIngestPipeline(store: graft.sources.ParquetStore, table: String,
      sigTable: String, docs: DataFrame, idCol: String, textCol: String,
      checkpointDir: String, blocklist: Seq[String] = Nil,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, minQuality: Option[Double] = None,
      benchSigTable: Option[String] = None,
      decontamThreshold: Option[Double] = None,
      semanticGate: Option[SemanticGate] = None,
      percentileGate: Option[PercentileGate] = None,
      boilerplateGate: Option[BoilerplateGate] = None,
      langIdGate: Option[LangIdGate] = None,
      auditTable: Option[String] = None,
      curriculumExport: Option[CurriculumExport] = None,
      plannedGeometry: Option[PlannedGeometry] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // Geometry resolution (r18): with `plannedGeometry` set, the
    // explicit (numHashes, bands) are ignored in favour of — in
    // order — the EXISTING index's recorded geometry (serving
    // continuity: an index's banding is frozen for its life, and
    // re-planning is a rebuild) or the BandPlanner's cheapest
    // feasible choice for the stated operating point, whose
    // provenance the self-heal build below records. Resolved before
    // any other check so every geometry-taking stage sees one truth.
    val (resolvedPlan, nHashes, nBands) = plannedGeometry match {
      case None => (None, numHashes, bands)
      case Some(pg) =>
        graft.operators.Dedup.storedGeometry(store, sigTable) match {
          case Some((_, h, b)) => (None, h, b)
          case None =>
            val p = graft.operators.BandPlanner.plan(pg.threshold,
              pg.minRecall, maxLowProb = pg.maxLowProb,
              maxHashes = pg.maxHashes).getOrElse(
              throw new IllegalArgumentException(
                "streamIngestPipeline(plannedGeometry): no feasible " +
                  s"banding geometry within ${pg.maxHashes} hashes clears " +
                  s"(threshold=${pg.threshold}, minRecall=${pg.minRecall}, " +
                  s"maxLowProb=${pg.maxLowProb}) — relax a constraint or " +
                  "raise maxHashes"))
            (Some(p), p.numHashes, p.bands)
        }
    }
    // cheap config checks FIRST: a typo'd benchmark table name — or a
    // benchmark index banded with a different geometry than this
    // pipeline's, which would silently match near-nothing (the exact
    // leakage the gate exists to stop) — must fail before the
    // potentially corpus-sized self-heal below runs
    benchSigTable.foreach { bt =>
      require(store.exists(bt),
        s"streamIngestPipeline: benchmark signature table '$bt' does not " +
          "exist — build it once per benchmark release with " +
          "Dedup.buildNearDupStore(store, benchSigTable, benchmarkDocs, ...) " +
          "using the same (shingleN, numHashes, bands) as this pipeline")
      graft.operators.Dedup.requireStoreGeometry(store, bt, shingleN,
        nHashes, nBands, "streamIngestPipeline", strict = true)
    }
    semanticGate.foreach { g =>
      // the symmetric collision to the langIdGate check below (review
      // r19): vecCol naming the pipeline's text/id column passes the
      // presence checks (the column EXISTS) and then the first
      // micro-batch's cosine probe reads a string as an embedding —
      // the in-batch-wedge class every start-time check here prevents
      require(g.vecCol != idCol && g.vecCol != textCol,
        s"streamIngestPipeline(semanticGate): vecCol '${g.vecCol}' collides " +
          "with the pipeline's id/text column — the gate would read it as " +
          "an embedding; name the vector column distinctly")
      require(store.exists(g.benchVecTable),
        s"streamIngestPipeline: benchmark vector table '${g.benchVecTable}' " +
          "does not exist — build it once per benchmark release with " +
          s"store.merge('${g.benchVecTable}', benchDf.select($idCol, " +
          s"${g.vecCol}), '$idCol')")
      require(docs.columns.contains(g.vecCol),
        s"streamIngestPipeline: the stream carries no '${g.vecCol}' column " +
          "for the semantic gate — the encode step must run upstream")
    }
    // the boilerplate stage's span-df store must exist with a
    // matching span grain — a drifted grain silently removes (almost)
    // nothing, so it fails the START like every frozen-geometry index
    // (the streamBoilerplateClean discipline)
    boilerplateGate.foreach { g =>
      require(g.spanTokens >= 1,
        s"streamIngestPipeline(boilerplateGate): spanTokens must be >= 1, " +
          s"got ${g.spanTokens}")
      require(g.minDocs >= 2,
        s"streamIngestPipeline(boilerplateGate): minDocs must be >= 2, " +
          s"got ${g.minDocs}")
      graft.operators.Dedup.requireSpanDfGeometry(store, g.dfTable,
        g.spanTokens, "streamIngestPipeline(boilerplateGate)", strict = true)
    }
    // the language-ID routing stage's model loads ONCE at START with
    // its full geometry require-matched (LangIdGate's scaladoc) — the
    // scorer closure built here is frozen for the stream's lifetime,
    // and scorer() construction re-enforces the integer-score bound,
    // so a pathological artifact fails the .start() too. Resolved
    // BEFORE the CDF checks so those can accept a langCol this stage
    // will produce.
    val langIdScorer = langIdGate.map { g =>
      // the routed column must not collide with the chain's working
      // columns (review r19): langCol == textCol would OVERWRITE every
      // survivor's text with its language code before scoring/
      // shingling/MERGE, langCol == idCol would collapse each
      // language onto one merge key — silent corruption, so both fail
      // the start; and the reserved-name check must cover the column
      // this stage PRODUCES, not just the stream's own schema
      // (see the pct lookup's requireNoReservedColumns below)
      require(g.langCol != idCol && g.langCol != textCol,
        s"streamIngestPipeline(langIdGate): langCol '${g.langCol}' collides " +
          "with the pipeline's id/text column — the detector would " +
          "overwrite it; route to a different column name")
      // ...and with the semantic gate's vector column (review r19):
      // overwriting a STORED lang column is the documented intent, but
      // overwriting the embedding column with a language string passes
      // the schema checks and then throws inside the first
      // micro-batch's cosine probe — the in-batch-wedge failure class
      // every other start-time check here exists to prevent
      semanticGate.foreach(s => require(g.langCol != s.vecCol,
        s"streamIngestPipeline(langIdGate): langCol '${g.langCol}' collides " +
          "with the semantic gate's vector column — the detector would " +
          "overwrite the embeddings; route to a different column name"))
      percentileGate.foreach(p => require(p.langCol == g.langCol,
        s"streamIngestPipeline: the percentile gate keys on " +
          s"'${p.langCol}' but the language-ID stage routes to " +
          s"'${g.langCol}' — the gate would read a column the router " +
          "never wrote; align the two langCol knobs"))
      curriculumExport.foreach(c => require(c.langCol == g.langCol,
        s"streamIngestPipeline: the curriculum export keys on " +
          s"'${c.langCol}' but the language-ID stage routes to " +
          s"'${g.langCol}' — align the two langCol knobs"))
      graft.operators.LangId.scorer(graft.operators.LangId.loadModel(
        store, g.modelTable, "streamIngestPipeline(langIdGate)"))
    }
    // the percentile gate's CDF snapshot must exist, carry the CURRENT
    // scorer's version, and (when pinned) be the expected calibration
    // release — all checked before any corpus-sized work, like the
    // signature geometry above. loadCdf validates and READS as one
    // consistent pair (r16): a calibration refresh landing between a
    // separate check and read could otherwise serve cells the cleared
    // label never described — the returned frame is cached below as
    // the stream-lifetime CDF.
    val pctCdfRaw = percentileGate.map { g =>
      // free in-memory schema checks BEFORE the store reads (the
      // cheap-config-checks-first discipline): a schema already
      // carrying the gate's working names must fail HERE, not inside
      // the first micro-batch — an in-batch throw wedges every
      // checkpoint restart on the same error (review r16)
      require(docs.columns.contains(g.langCol) ||
          langIdGate.exists(_.langCol == g.langCol),
        s"streamIngestPipeline: the stream carries no '${g.langCol}' column " +
          "for the percentile gate — per-language calibration needs the " +
          "language id on every row (carry it on the stream, or detect it " +
          "with langIdGate)")
      // the gate's input schema includes the column the language-ID
      // stage PRODUCES (review r19: LangIdGate(langCol = "pct") passed
      // the schema check here — docs carries no "pct" — then threw
      // inside the first micro-batch's withPercentile, wedging every
      // checkpoint restart on the same error)
      graft.operators.QualityCal.requireNoReservedColumns(
        (docs.columns.toSeq ++ langIdGate.map(_.langCol)).distinct,
        "pct", "streamIngestPipeline(percentileGate)")
      graft.operators.QualityCal.loadCdf(store, g.cdfTable,
        "streamIngestPipeline", g.expectSnapshot)
    }
    // the curriculum export levels against its own snapshot pin; when
    // it names the SAME (cdfTable, expectSnapshot) as the gate, the
    // gate's loaded frame is REUSED — two separate loads could
    // straddle a calibration refresh and bind different snapshots for
    // the stream's whole life, gating on one while leveling with the
    // other (review r16). Different pins load separately (two pins
    // naming different releases is an intentional configuration).
    val curCdfRaw = curriculumExport.map { c =>
      require(docs.columns.contains(c.langCol) ||
          langIdGate.exists(_.langCol == c.langCol),
        s"streamIngestPipeline: the stream carries no '${c.langCol}' column " +
          "for the curriculum export — per-language leveling needs the " +
          "language id on every row (carry it on the stream, or detect it " +
          "with langIdGate)")
      // the staging projection is (idCol, langCol, textCol) with
      // pctCol "level": none of the three may collide with the
      // lookup's working names NOR with the staging output columns
      // shard/sort_key (a collision would surface as an ambiguous-
      // reference AnalysisException inside the first micro-batch,
      // wedging every checkpoint restart — review r16)
      graft.operators.QualityCal.requireNoReservedColumns(
        Seq(idCol, c.langCol, textCol).distinct, "level",
        "streamIngestPipeline(curriculumExport)")
      val stagedClash = Seq("shard", "sort_key")
        .filter(Seq(idCol, c.langCol, textCol).contains)
      require(stagedClash.isEmpty,
        s"streamIngestPipeline(curriculumExport): column name(s) " +
          s"${stagedClash.mkString(", ")} collide with the staging " +
          "table's shard/sort_key outputs — rename them upstream")
      val sharedWithGate = percentileGate.exists(g =>
        g.cdfTable == c.cdfTable && g.expectSnapshot == c.expectSnapshot)
      if (sharedWithGate) pctCdfRaw.get
      else graft.operators.QualityCal.loadCdf(store, c.cdfTable,
        "streamIngestPipeline(curriculum)", c.expectSnapshot)
    }
    // the dedup gates probe ONLY the signature index: a docs table
    // without one would make the first micro-batch dedup within
    // itself alone and silently ingest duplicates of the whole
    // existing corpus. Restore the invariant at stream START by
    // building the index FROM the docs table — self-healing rather
    // than a require(), because the state also arises from OUR OWN
    // crash window (docs MERGE committed, signature MERGE not — the
    // documented replay order), where erroring would wedge every
    // restart of a first micro-batch that crashed mid-commit. For a
    // large pre-seeded corpus this is the one-time CREATE INDEX cost
    // the pipeline needs anyway. The docs table holds the SHIPPED text,
    // so with the boilerplate gate on a healed index hashes the cleaned
    // text where the stream's own MERGEs hash the raw delivery: a
    // redelivered pre-heal row whose clean changed its text passes
    // exact dedup again (near-dup skips the row's own id) and re-MERGEs
    // the same row under its key — a wasted chain pass, never a
    // duplicate.
    // an EXISTING corpus index with drifted geometry must also fail
    // here, not inside the first micro-batch after the (potentially
    // corpus-sized) exact stage already ran
    if (store.exists(sigTable))
      graft.operators.Dedup.requireStoreGeometry(store, sigTable, shingleN,
        nHashes, nBands, "streamIngestPipeline", strict = true)
    if (store.exists(table) && !store.exists(sigTable))
      resolvedPlan match {
        // planner-chosen geometry records its planner.* provenance
        // alongside the frozen parameters (the planned-build overload)
        case Some(p) => graft.operators.Dedup.buildNearDupStore(store,
          sigTable, store.read(table), idCol, textCol, p, shingleN)
        case None => graft.operators.Dedup.buildNearDupStore(store, sigTable,
          store.read(table), idCol, textCol, shingleN, nHashes, nBands)
      }
    // the semantic gate's benchmark side is STATIC: band it with the
    // frozen planes and persist ONE copy for the stream's lifetime —
    // the single-shot operator's internal persist would leak one
    // cached benchmark per micro-batch on an always-on stream (the
    // same unbounded-cache hazard the shared bSig frame exists to
    // avoid)
    val semanticBench = semanticGate.map { g =>
      graft.operators.Dedup.semanticBenchBanded(store.read(g.benchVecTable),
          idCol, g.vecCol, g.dim, g.bits, g.bands)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // the boilerplate hash set is FROZEN under the stream (the
    // replay-safety contract): load it once for the query's lifetime
    // (the streamBoilerplateClean convention), released at
    // termination with the other stream-lifetime caches
    val boilHashes = boilerplateGate.map(g =>
      graft.operators.Dedup.boilerplateHashes(store, g.dfTable, g.minDocs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the CDF snapshot is likewise static for the stream's lifetime:
    // cache ONE copy (≤10001 cells per language — broadcast-sized) of
    // the validated frame from the start-time consistent read above,
    // instead of re-reading the store table every micro-batch
    val pctCdf = pctCdfRaw.map(
      _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // a frame shared with the gate is already persisted above —
    // persist() on it again would only log a warning, but keeping the
    // reference identity makes the release list below exact
    val curCdf = curCdfRaw.map { c =>
      if (pctCdfRaw.exists(_ eq c)) pctCdf.get
      else c.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // one MERGE into the audit table, shared by the counted and the
    // empty-delivery paths
    def writeAudit(at: String, sess: org.apache.spark.sql.SparkSession,
        batchId: Long, counts: Seq[(String, Long)]): Unit = {
      import sess.implicits._
      store.merge(at,
        counts.map { case (st, c) => (s"$batchId/$st", batchId, st, c) }
          .toDF("audit_key", "batch_id", "stage", "n_docs"),
        "audit_key")
    }
    // the stage list, built ONCE for the stream's lifetime from the
    // options above: the same IngestChain the batch chain entries run,
    // each rule reading the micro-batch through the view it is given.
    // Every stage after exact dedup and the blocklist reads only their
    // survivors (view.rows), as the filter cascade did: a replayed
    // batch that exact dedup drops costs the later stages nothing
    val ic = graft.operators.IngestChain
    val geometry = ic.Geometry(shingleN, nHashes, nBands, threshold)
    val chain = ic.Chain(idCol, textCol, geometry, Seq(
      Some(ic.exact(store, sigTable)),
      Some(ic.blocklist(blocklist)),
      // truncated: the view's texts, the tag join and (routed) the
      // detection all read the clean
      boilerplateGate.map(g => ic.boilerplate(v =>
        graft.operators.Dedup.boilerplateRemoveAgainst(boilHashes.get, v.rows,
          idCol, textCol, g.spanTokens).transform(ic.truncate))),
      // per-language rank lookup against the stream-lifetime CDF
      // snapshot, keyed on the detected language when the router is on;
      // a language the snapshot lacks gets a NULL pct and the gate
      // abstains (see PercentileGate)
      percentileGate.map(g => ic.percentile({ v =>
        val lang = v.detected.getOrElse(
          v.rows.select(col(idCol), col(g.langCol).as("__dl")))
        // scored once and truncated: the lookup reads its rows twice
        val scored = v.texts.join(lang, Seq(idCol))
          .select(col(idCol), col("__dl"), graft.functions.GraftFunctions
            .qualityScore(col(textCol)).as("__q"))
          .transform(ic.truncate)
        graft.operators.QualityCal.withPercentile(scored, pctCdf.get,
          "__dl", col("__q")).select(col(idCol), col("pct"))
      }, g.minPct, abstain = true)),
      minQuality.map(ic.quality),
      // the decontamination gate has its own threshold knob (default:
      // the dedup threshold): a missed contaminated doc is the
      // EXPENSIVE error, so pipelines typically gate stricter than
      // they dedup
      benchSigTable.map(bt => ic.decontam(store, bt, geometry,
        decontamThreshold.getOrElse(threshold))),
      semanticGate.map(g => ic.semantic(v =>
        graft.operators.Dedup.contaminatedDocsSemanticBanded(v.rows,
            semanticBench.get, idCol, g.vecCol, g.dim, g.threshold, g.bits,
            g.bands)
          .select(col("id").as(idCol)))),
      // the near-dup stage reads the view's signatures, which the
      // decontamination gate and the signature MERGE below share
      Some(ic.nearDup(4, store, sigTable, geometry,
        shareSig = true))).flatten,
      // detection over the text that ships (the cleaned text with the
      // boil stage on); a pure per-row map over the stream-lifetime
      // scorer closure, truncated because the percentile lookup and the
      // tag join both read it
      langIdGate.map(g => ic.Route(g.langCol, v =>
        v.texts.select(col(idCol), langIdScorer.get(col(textCol)).as("__dl"))
          .transform(ic.truncate))))
    val writer = docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // LINEAGE-TRUNCATED, not just persisted (r20): the stages read
        // the batch in several branches, and every multiply-referenced
        // frame of the chain is a lazy localCheckpoint, so the plan
        // stays linear and each frame materializes once. The blocks
        // release via the ContextCleaner when the batch's references
        // drop — delta-sized frames, bounded by one batch in flight. A
        // lost checkpoint block fails the batch for a clean redelivery
        // instead of silently recomputing against the post-MERGE store.
        val b = ic.truncate(batch)
        try {
          if (!b.isEmpty) {
            val view = chain.view(b)
            // the tagged frame lazily reads the store's CURRENT version
            // and the MERGEs below commit new ones, so it is truncated
            // and fully materialized by the ONE funnel aggregate
            // collected here, before the store mutates (a recompute
            // after the merges would see this batch's own rows)
            val tagged = ic.truncate(chain.tagged(view))
            val counts = chain.funnel(tagged).collect()
              .map(r => r.getString(0) -> r.getLong(1)).toSeq
            if (counts.exists { case (st, n) =>
                st == chain.stages.last.label && n > 0 }) {
              val rows = chain.survivors(tagged)
              // curriculum staging (r16) MERGEs FIRST, before the
              // docs/sig merges: the per-row halves of the export
              // order — shard, snapshot-percentile level, epoch sort
              // key — keyed by doc id. All pure functions of (row,
              // snapshot, seed), so a replay rewrites identical rows
              // (seq is assigned at export time by curriculumOrder —
              // see CurriculumExport's scaladoc for why seq cannot
              // stream). The ORDER is the crash-replay contract:
              // staged-then-docs heals (a crash after staging
              // redelivers the batch, which re-stages and commits),
              // whereas docs-then-staged would let the exact gate drop
              // the redelivery BEFORE re-staging — a committed doc
              // permanently missing from the curriculum. An orphan
              // staged row (crash before the docs MERGE) lasts only
              // until the at-least-once redelivery commits its doc.
              curriculumExport.foreach { c =>
                store.merge(c.table,
                  curriculumStaged(rows, idCol, textCol, curCdf.get, c),
                  idCol)
              }
              store.merge(table, rows, idCol)
              // survivors' signatures MERGE from the view's shared
              // frame (a superset of the rows' signatures; the join
              // restricts) — the text path would re-shingle +
              // re-MinHash the very rows the batch already signed.
              // The index's norm hash is of the RAW delivered text, the
              // text the exact stage hashes (the batch twin's index is
              // built from raw documents too), so a redelivered row
              // whose clean changed its text is dropped by exact dedup
              graft.operators.Dedup.buildNearDupStoreFromSig(store,
                sigTable, tagged.filter(col(chain.last)).select(idCol, textCol),
                idCol, textCol, view.sig, shingleN,
                nHashes, nBands,
                // planner provenance on a freshly-planned geometry
                // (ADVICE r18): a brand-new store has no self-heal build
                // to record it, so the first delivery's build stamps
                // it; identical re-assertion on later deliveries, empty
                // when the geometry came from the store or explicit
                // knobs
                extraProps = resolvedPlan.fold(Map.empty[String, String])(
                  graft.operators.Dedup.plannerProps))
            }
            // per-micro-batch funnel audit (the streaming sibling of the
            // batch ingest_audit_* entries): one row per (batch, stage)
            // MERGEd on a composite key, so a crash-replayed batch
            // OVERWRITES its own rows — last-delivery-wins, matching
            // at-least-once semantics (a replay that finds its rows
            // already ingested legitimately records 0 exact-stage
            // survivors while 0_batch keeps the delivery size). Stage
            // ids are pipeline-positional and CONSTANT across gate
            // configurations (a disabled gate emits no row) so
            // dashboards never re-key when a gate toggles. The counts
            // were collected BEFORE the merges; only this write runs
            // after them, so a crash mid-merge never records a funnel
            // for an uncommitted batch.
            auditTable.foreach(at =>
              writeAudit(at, b.sparkSession, batchId, counts))
          } else auditTable.foreach { at =>
            // an EMPTY delivery still writes its funnel rows (all
            // zeros), so a dashboard can tell "batch never ran" from
            // "batch was empty" and batch ids stay gap-free
            writeAudit(at, b.sparkSession, batchId,
              ("0_batch" +: chain.stages.map(_.label)).map(_ -> 0L))
          }
        } finally b.unpersist() // no-op on the checkpointed frame
        // (its blocks release via the ContextCleaner); kept so the
        // try shape matches the other foreachBatch bodies
      }
    // release the stream-LIFETIME caches when this query terminates
    // (ADVICE r14): semanticBench and the CDF snapshot are persisted
    // once per pipeline call, so a long-lived process that starts/
    // stops many gated streams would otherwise accumulate one cached
    // copy per stream — the same unbounded-cache hazard the
    // per-micro-batch banding fix closed, recurring at stream
    // granularity.
    startReleasing(docs.sparkSession,
      semanticBench.toSeq ++ pctCdf.toSeq ++ boilHashes.toSeq ++
        curCdf.filterNot(c => pctCdf.exists(_ eq c)).toSeq)(writer.start())
  }

  /** The staged curriculum projection of a survivors frame — the ONE
    * definition shared by the per-micro-batch hook and
    * [[curriculumBackfill]], so the two write paths can never level
    * or key differently.
    */
  private def curriculumStaged(rows: DataFrame, idCol: String,
      textCol: String, cdf: DataFrame, c: CurriculumExport): DataFrame =
    graft.operators.QualityCal.withPercentile(
        rows.select(col(idCol), col(c.langCol), col(textCol)),
        cdf, c.langCol,
        graft.functions.GraftFunctions.qualityScore(col(textCol)),
        pctCol = "level")
      .select(col(idCol),
        graft.operators.Export.shardId(col(idCol), c.nShards).as("shard"),
        col("level"),
        graft.operators.Export.orderKey(col(idCol), c.seed).as("sort_key"))

  /** One-time curriculum staging of rows that did NOT arrive through
    * the stream — a pre-seeded corpus, or a heal after changing the
    * staging table name: MERGEs the same (shard, level, sort_key)
    * projection the per-batch hook writes, against the same snapshot
    * pin. Idempotent (pure values keyed by id); run it once over
    * `store.read(docsTable)` before starting a curriculum-exporting
    * stream on a warehouse with history.
    */
  def curriculumBackfill(store: graft.sources.ParquetStore,
      c: CurriculumExport, rows: DataFrame, idCol: String,
      textCol: String): Unit = {
    val cdf = graft.operators.QualityCal.loadCdf(store, c.cdfTable,
      "curriculumBackfill", c.expectSnapshot)
    store.merge(c.table, curriculumStaged(rows, idCol, textCol, cdf, c), idCol)
  }

  /** Maintenance COMPACTION of a curriculum staging table (r17 — the
    * staging-lifetime story): the stream MERGEs staged rows forever,
    * so over a long ingest the table accumulates (a) rows for docs
    * since deleted from the corpus and (b) levels pinned to whatever
    * calibration snapshot was current when each row last arrived.
    * This op rewrites the staging table as the staged projection of
    * the CURRENT corpus under the CURRENT pinned snapshot — a
    * bucketed delete of orphan ids plus one keyed MERGE (never a flat
    * overwrite, which would force the first post-resume micro-batch
    * to re-bucket the whole table) — safe precisely because every
    * staged value is a pure function of (row, snapshot, seed):
    * re-deriving them loses nothing a redelivery would not re-create,
    * orphans of deleted docs drop (they would otherwise export
    * forever), and every surviving row re-levels against the snapshot
    * `expectSnapshot` pins. A crash-replayed micro-batch MERGing
    * AFTER the compaction rewrites byte-identical rows (idempotent
    * keys), so the stream may resume immediately; like every
    * ParquetStore maintenance op, do not run it CONCURRENTLY with a
    * batch commit on the same table — quiesce or pause the stream for
    * the compaction window (single-writer-per-table, the
    * ParquetStore.overwrite contract).
    *
    * `rows` is the current corpus view (typically
    * `store.read(docsTable)`); pass the same (idCol, textCol) the
    * stream stages with.
    */
  def compactStaged(store: graft.sources.ParquetStore,
      c: CurriculumExport, rows: DataFrame, idCol: String,
      textCol: String): Unit = {
    val cdf = graft.operators.QualityCal.loadCdf(store, c.cdfTable,
      "compactStaged", c.expectSnapshot)
    // delete-orphans + MERGE, not a flat overwrite (review r17): a
    // flat snapshot makes the FIRST post-resume micro-batch merge
    // re-bucket by rewriting the ENTIRE staging table — a hidden
    // full-table write spike on exactly the large tables compaction
    // targets. The two bucketed ops preserve touched-buckets-only
    // merges; a crash between them heals on rerun (both are keyed and
    // idempotent: delete drops only rows absent from the corpus, the
    // MERGE rewrites pure values).
    if (store.exists(c.table)) {
      val orphans = store.read(c.table).select(col(idCol))
        .join(rows.select(col(idCol)), Seq(idCol), "left_anti")
      store.delete(c.table, orphans, idCol)
    }
    store.merge(c.table, curriculumStaged(rows, idCol, textCol, cdf, c), idCol)
  }

  /** Export-time numbering of a streamed curriculum staging table
    * (the deferred half of [[CurriculumExport]]): ONE md5-bucket-
    * bounded row_number window over the narrow staged rows —
    * [[graft.operators.Export.sequenceStaged]], the same window the
    * batch shardOrderBy plans — returning (shard, `idCol`, level,
    * sort_key, seq) with seq dense from 0 per shard. Run when a
    * loader actually ships an epoch; the staging table itself stays
    * incrementally maintained by the stream.
    */
  def curriculumOrder(store: graft.sources.ParquetStore, table: String,
      idCol: String): DataFrame =
    graft.operators.Export.sequenceStaged(store.read(table), idCol)

  /** Start a streaming query with stream-lifetime `caches` released on
    * its termination — and on a FAILED start. The listener registers
    * BEFORE `start` runs: with AvailableNow over a tiny source the
    * QueryTerminatedEvent can hit the async listener bus before a
    * post-start addListener takes effect, and the caches would leak
    * for the session (the exact accumulation this exists to prevent).
    *
    * The termination handler never blocks the shared listener bus
    * (ADVICE r15 — the previous bounded `get(60s)` stalled EVERY
    * listener in the session whenever an unrelated query terminated
    * mid-start, and a failed start left already-dispatched callbacks
    * burning the full wait): events arriving before the started runId
    * resolves are stashed and re-checked the moment start() returns,
    * under one small lock. Matching is by runId, not id — a query
    * restarted from the same checkpoint keeps its id, so a late
    * terminated event from a PREVIOUS run would otherwise release the
    * new run's caches right after start (ADVICE r15). If start()
    * itself throws, the caches unpersist immediately, the listener is
    * removed, and the stashed state is marked dead so a late callback
    * does nothing.
    */
  private[graft] def startReleasing(sess: org.apache.spark.sql.SparkSession,
      caches: Seq[DataFrame])(start: => StreamingQuery): StreamingQuery = {
    if (caches.isEmpty) return start
    val streams = sess.streams
    val lock = new Object
    // guarded by lock: the started run's id (null until start()
    // returns), terminated runIds seen before it resolved, and
    // whether release/abort already happened (release is idempotent)
    var startedRunId: java.util.UUID = null
    var done = false
    val earlyTerminated = scala.collection.mutable.Set.empty[java.util.UUID]
    var listenerRef: StreamingQueryListener = null
    // caller threads and listener threads both land here; the work is
    // bounded (catalog unpersist + listener dereg), so holding the
    // lock keeps the bus callback O(1) instead of O(60s)
    def releaseOnce(): Unit = {
      caches.foreach(_.unpersist())
      streams.removeListener(listenerRef)
    }
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        lock.synchronized {
          if (!done) {
            if (startedRunId == null) earlyTerminated += e.runId
            else if (e.runId == startedRunId) { done = true; releaseOnce() }
          }
        }
    }
    listenerRef = listener
    streams.addListener(listener)
    val query =
      try start
      catch { case t: Throwable =>
        lock.synchronized { if (!done) { done = true; releaseOnce() } }
        throw t
      }
    lock.synchronized {
      if (!done) {
        startedRunId = query.runId
        // the AvailableNow fast path: our run terminated before
        // start() returned and the event already came and went
        if (earlyTerminated.contains(startedRunId)) {
          done = true; releaseOnce()
        }
        earlyTerminated.clear()
      }
    }
    query
  }

  /** Windowed event-stream aggregation with watermarking — the
    * streaming-analytics shape (late data dropped after the
    * watermark; event-time tumbling windows). Works identically on a
    * batch DataFrame (watermark is a no-op there), which is how the
    * oracle checks it.
    */
  def windowedEventCounts(events: DataFrame, tsCol: String, keyCol: String,
      windowDur: String, watermark: String = "10 minutes",
      valueCol: String = "value"): DataFrame = {
    val maybeWatermarked =
      if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    maybeWatermarked
      .groupBy(window(col(tsCol), windowDur).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total_value"))
      .select(col("w.start").as("window_start"), col(keyCol),
        col("n"), col("total_value"))
  }

  /** Stream-stream interval join with watermarks — the streaming
    * sibling of RangeJoin.pointInInterval / AsOf.join: each left
    * event pairs with same-key right events at most `lookback` older
    * (r.ts ∈ [l.ts − lookback, l.ts]). The time-range join condition
    * plus both-side watermarks is what lets Spark EXPIRE join state:
    * right rows older than watermark + lookback leave the state
    * store, so state is bounded by rate × lookback, not by stream
    * history. Inner-join matches emit immediately (no watermark
    * latency). Exact latest-only as-of on streams needs
    * flatMapGroupsWithState ordering state; this bounded interval
    * join is the backpressure-safe shape (Flink's interval join), and
    * a downstream max_by per left event recovers as-of semantics.
    * Right-side columns return prefixed `r_`. Works identically on
    * batch frames (watermarks no-op), which is how the spec checks it.
    */
  def intervalEnrich(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, lookback: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val prefixed = right.columns.foldLeft(right)(
      (d, c) => d.withColumnRenamed(c, s"r_$c"))
    val l = if (left.isStreaming) left.withWatermark(tsCol, watermark) else left
    val r = if (prefixed.isStreaming)
      prefixed.withWatermark(s"r_$tsCol", watermark) else prefixed
    l.join(r,
      col(keyCol) === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(tsCol) - expr(s"INTERVAL $lookback") &&
        col(s"r_$tsCol") <= col(tsCol))
  }

  /** Streaming first-seen document dedup — [[graft.operators.Dedup
    * .exactCanonical]]'s streaming counterpart for a continuously
    * ingested corpus: a document is emitted iff its normalized-text
    * hash has not been seen within the watermark horizon; later
    * duplicates (same batch, later batch, or after a checkpointed
    * restart) are dropped. State is one compact row per distinct hash
    * in the state store, EXPIRED past the event-time watermark via
    * dropDuplicatesWithinWatermark — memory is bounded by
    * distinct-rate × horizon, not stream history. Without `tsCol` the
    * state never expires (exact global dedup; unbounded — pass a time
    * column in production). On a batch frame this degenerates to
    * dropDuplicates(hash), whose surviving row is arbitrary — batch
    * pipelines should use exactCanonical's deterministic min-id pick;
    * under streaming, first ARRIVAL is the deterministic choice.
    */
  def streamDedup(docs: DataFrame, textCol: String,
      tsCol: Option[String] = None, horizon: String = "1 hour"): DataFrame = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val hashed = docs.withColumn("__norm_hash", md5(norm))
    (tsCol match {
      case Some(t) if docs.isStreaming =>
        hashed.withWatermark(t, horizon)
          .dropDuplicatesWithinWatermark("__norm_hash")
      case _ => hashed.dropDuplicates("__norm_hash")
    }).drop("__norm_hash")
  }

  /** Per-band-key custom state for [[streamDedupNearPairs]]: the
    * signatures seen in this bucket inside the watermark horizon.
    * Parallel primitive arrays (id, sig, eventMs) — primitive-array
    * fields keep the state encoder inside codegen; a List of tuples
    * does not. Qualified-private, not `private`: an unqualified
    * private nested class is invisible to Janino-generated encoder
    * code (which lives outside this class), failing at runtime with
    * "no applicable constructor/method".
    */
  private[streaming] case class NearDupBucket(ids: Array[Long],
      sigs: Array[Long], eventMs: Array[Long])

  /** Streaming NEAR-duplicate pair detection — the streaming twin of
    * Dedup.simHashPairs, same banded-signature construction (shared
    * via Dedup.simHashBandKeys, so the two can never band
    * differently) and therefore the same pigeonhole recall guarantee:
    * a true near-dup (Hamming ≤ maxHamming over 64 bits, bands =
    * maxHamming+1) shares at least one EXACT band key with its
    * earlier twin, meets it in that band's state bucket, and is
    * verified there against the full stored signature — banding only
    * generates candidates, exact Hamming decides, identical to batch.
    *
    * Custom state because no built-in fits: dropDuplicates* is
    * exact-key-only, and stream-stream self-join cannot consult
    * "everything seen so far". Each band key's
    * `flatMapGroupsWithState` bucket holds (id, sig, eventMs) entries;
    * a new arrival verifies against the bucket and emits one
    * (id_a, id_b, hamming) row per earlier near-dup. Within a band a
    * pair emits once (entries enter state only after being checked);
    * ACROSS bands a pair colliding in two bands emits from each —
    * at-least-once pair delivery, `.distinct()` downstream restores
    * the batch operator's set semantics (RealtimeSpec asserts the
    * deduped stream equals batch simHashPairs exactly).
    *
    * 100 TB posture: state per bucket is bounded by that bucket's
    * distinct-signature rate × horizon — entries older than the
    * watermark evict on event-time timeout (they could only pair with
    * arrivals the watermark already rules out). Total state =
    * (maxHamming+1) × corpus-rate × horizon, the banded analogue of
    * streamDedup's bound.
    */
  def streamDedupNearPairs(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, maxHamming: Int = 3,
      horizon: String = "10 minutes"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val horizonMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(horizon))
    // months have no fixed millisecond length, so a "1 month" horizon
    // would silently under-compute the state timeout below (days +
    // micros only) and evict band state while the watermark still
    // admits pairing arrivals — missed pairs vs batch. Fail loudly.
    require(horizonMs.months == 0,
      s"streamDedupNearPairs: horizon '$horizon' contains a month " +
        "component; use days/hours/minutes (months have no fixed length)")
    val horizonMillis = horizonMs.days * 86400000L + horizonMs.microseconds / 1000L
    val banded = docs
      .withColumn("__sig", graft.functions.GraftFunctions.simHash(col(textCol)))
      .withColumn("__bk",
        explode(graft.operators.Dedup.simHashBandKeys(col("__sig"), maxHamming, lit(""))))
      .select(col("__bk"), col(idCol).cast("long").as("__id"), col("__sig"),
        col(tsCol).cast("timestamp").as("__ts"))
      // watermark AFTER the projection: casting/renaming the event-time
      // column would strip the watermark tag from the attribute, and the
      // event-time timeout below requires a watermarked column in scope
      .withWatermark("__ts", horizon)
      .as[(String, Long, Long, java.sql.Timestamp)]
    banded.groupByKey(_._1)
      .flatMapGroupsWithState[NearDupBucket, (Long, Long, Int)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout()) {
        (_, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
            val entries = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
            state.getOption.foreach { b =>
              var i = 0
              while (i < b.ids.length) {
                entries += ((b.ids(i), b.sigs(i), b.eventMs(i))); i += 1
              }
            }
            // deterministic in-batch order: event time, then id — the
            // same "earlier twin" a batch replay would see
            rows.toSeq.sortBy(r => (r._4.getTime, r._2)).foreach {
              case (_, id, sig, ts) =>
                entries.foreach { case (pid, psig, _) =>
                  if (pid != id) {
                    val h = java.lang.Long.bitCount(sig ^ psig)
                    if (h <= maxHamming)
                      out += ((math.min(pid, id), math.max(pid, id), h))
                  }
                }
                entries += ((id, sig, ts.getTime))
            }
            // evict past the watermark: those entries can only pair
            // with arrivals the watermark already drops as late
            val wm = state.getCurrentWatermarkMs()
            val kept = entries.filter(_._3 >= wm)
            if (kept.isEmpty) state.remove()
            else {
              state.update(NearDupBucket(kept.map(_._1).toArray,
                kept.map(_._2).toArray, kept.map(_._3).toArray))
              state.setTimeoutTimestamp(
                math.max(wm + 1L, kept.map(_._3).max + horizonMillis))
            }
            out.iterator
          }
      }
      .toDF("id_a", "id_b", "hamming")
  }

  /** Sessionization via session_window (gap-based) — the canonical
    * stateful-streaming operator beyond tumbling windows.
    */
  def sessionize(events: DataFrame, tsCol: String, userCol: String,
      gap: String = "30 minutes", valueCol: String = "value"): DataFrame = {
    val maybeWatermarked =
      if (events.isStreaming) events.withWatermark(tsCol, gap) else events
    maybeWatermarked
      .groupBy(session_window(col(tsCol), gap).as("s"), col(userCol))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("total_value"))
      .select(col("s.start").as("session_start"), col("s.end").as("session_end"),
        col(userCol), col("n_events"), col("total_value"))
  }
}
