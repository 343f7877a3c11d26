package graft

import graft.operators.{Ann, Hnsw, Pipeline, Search, ServingSnapshot}
import graft.providers.{ChatProvider, DeterministicChatProvider, EmbeddingProvider, Providers}
import graft.sources.ParquetStore
import graft.sources.ParquetStore.Handle
import graft.types._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}

/** The reference's default models and prompt task
  * (extension/src/api.rs:159-223), single-sourced: the Scala API
  * defaults, the SQL scalar/TVF registrations, and the oracle
  * replays all reference THESE — a default changed in one copy but
  * not another would silently diverge the surfaces with no compile
  * error and no failing test.
  */
object VectorizeEngine {
  val DefaultChatModel = "openai/gpt-4o-mini"
  val DefaultEmbedModel = "sentence-transformers/all-MiniLM-L6-v2"
  val DefaultRagTask = "question_answer"
  val DefaultRagNumContext = 2
}

/** The user-facing engine: job lifecycle + search + RAG.
  *
  * A user of pg_vectorize interacts through `vectorize.table(...)`,
  * `vectorize.search(...)`, `vectorize.hybrid_search(...)`,
  * `vectorize.rag(...)` etc. (SURVEY §2.10); this class is the Spark
  * equivalent of that API surface. Jobs bind a source DataFrame
  * (registered by name) to an embeddings + search-tokens store kept
  * in a [[ParquetStore]] warehouse; the catalog itself is persisted
  * like the reference's `vectorize.job` table
  * (core/src/query.rs:205-220).
  */
final class VectorizeEngine(
    val spark: SparkSession,
    warehouseDir: String,
    embeddingProviderOverride: Option[EmbeddingProvider] = None,
    chatProvider: ChatProvider = new DeterministicChatProvider
) {

  val store = new ParquetStore(spark, warehouseDir)

  private val sources = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private val jobs = scala.collection.concurrent.TrieMap.empty[String, VectorizeJob]

  // serializes catalog mutations against refreshCatalog's replace-all
  // reconcile (see refreshCatalog doc)
  private val catalogLock = new Object
  // task type → (sys_prompt, user_prompt); persisted like
  // vectorize.prompts (extension/sql/meta.sql:9-13) so custom RAG
  // tasks survive restart exactly as jobs do
  private val prompts = scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  // S9/R8 — catalog reload: like the reference's startup read of
  // vectorize.job (core/src/db.rs:4-19, cached server/src/cache.rs),
  // a new engine over an existing warehouse recovers every job. The
  // sources themselves are re-registered by the caller (they live
  // outside the warehouse, like the reference's user tables live in
  // Postgres); searches work immediately since the embedding/token
  // stores persist.
  locally { refreshCatalog() }

  /** R8 — live cache invalidation: re-read the persisted job and
    * prompt catalogs into memory, REPLACING the in-memory view (jobs
    * deleted by the WRITER engine over the same warehouse disappear,
    * created ones appear). The reference keeps its server/proxy caches
    * fresh with pg_notify/LISTEN (server/src/cache.rs:59-150,
    * proxy/src/cache.rs:9-57); parquet has no notification channel, so
    * the Spark analogue is poll-based — [[graft.streaming.JobScheduler]]
    * calls this once per poll tick, and any reader engine can call it
    * on demand.
    *
    * Concurrency: catalog MUTATION stays single-writer (persistCatalog
    * overwrites the table from the local view, matching ParquetStore's
    * one-writer-per-table contract); refreshCatalog is what lets any
    * number of READER engines — schedulers, search-serving sessions —
    * converge on the writer's state. Within one engine, the reconcile
    * and every mutation serialize on `catalogLock`, so a scheduler
    * tick's replace-all can never evict a job a caller thread is
    * concurrently creating (the reconcile sees either pre-put-pre-
    * persist or post-both, never the torn middle).
    */
  def refreshCatalog(): Unit = catalogLock.synchronized {
    if (store.exists("job_catalog")) {
      val loaded = store.read("job_catalog").collect().map { r =>
        VectorizeJob(
          jobName = r.getAs[String]("job_name"),
          srcTable = r.getAs[String]("src_table"),
          srcColumns = r.getAs[scala.collection.Seq[String]]("src_columns").toSeq,
          primaryKey = r.getAs[String]("primary_key"),
          updateTimeCol = Option(r.getAs[String]("update_time_col")),
          model = Model.parseUnsafe(r.getAs[String]("model")),
          tableMethod = TableMethod.parse(r.getAs[String]("table_method")),
          indexDist = IndexDist.parse(r.getAs[String]("index_dist_type")),
          schedule = r.getAs[String]("schedule"),
          params = Option(r.getAs[scala.collection.Map[String, String]]("params"))
            .map(_.toMap).getOrElse(Map.empty))
      }
      val names = loaded.map(_.jobName).toSet
      loaded.foreach(j => jobs.put(j.jobName, j))
      jobs.keys.filterNot(names).foreach(jobs.remove)
    }
    if (store.exists("prompt_catalog")) {
      val loaded = store.read("prompt_catalog").collect().map { r =>
        r.getAs[String]("prompt_type") ->
          (r.getAs[String]("sys_prompt"), r.getAs[String]("user_prompt"))
      }
      loaded.foreach { case (t, p) => prompts.put(t, p) }
      prompts.keys.filterNot(loaded.map(_._1).toSet).foreach(prompts.remove)
    }
  }

  /** Register a RAG prompt template under `promptType` and persist it
    * (vectorize.prompts analogue — users add task types as rows,
    * extension/sql/meta.sql:9-13). Overwrites an existing row like an
    * UPSERT; rag(task = promptType) resolves this catalog before the
    * process-wide [[graft.rag.PromptTemplates]] built-ins.
    */
  def registerPrompt(promptType: String, sysPrompt: String, userPrompt: String): Unit =
    catalogLock.synchronized {
      prompts.put(promptType, (sysPrompt, userPrompt))
      persistPrompts()
    }

  def listPrompts: Seq[String] = prompts.keys.toSeq.sorted

  private def persistPrompts(): Unit = {
    import spark.implicits._
    store.overwrite("prompt_catalog",
      prompts.toSeq.map { case (t, (s, u)) => (t, s, u) }
        .toDF("prompt_type", "sys_prompt", "user_prompt"))
  }

  /** Register a source DataFrame under a table name (replaces the
    * reference's information_schema introspection of an existing
    * Postgres table, core/src/init.rs:26-54).
    */
  def registerSource(name: String, df: DataFrame): Unit = {
    Identifiers.validate(name)
    sources.put(name, df)
    df.createOrReplaceTempView(name)
  }

  /** Provider for a job: job params `api_key` / `base_url` override
    * environment defaults, with `${VAR}` interpolation applied first
    * (F11, core/src/transformers/generic.rs:14-40 — the reference
    * interpolates provider config at use time so catalogs never store
    * raw secrets).
    */
  def provider(job: VectorizeJob): EmbeddingProvider =
    embeddingProviderOverride.getOrElse {
      def param(k: String): Option[String] = job.params.get(k).map { raw =>
        EnvInterpolation.interpolate(raw).fold(
          err => throw new IllegalArgumentException(err), identity)
      }
      Providers.forModel(job.model,
        baseUrl = param("base_url"), apiKey = param("api_key"))
    }

  // private[graft]: Queries reads the engine-written stores by name
  // (vz_* entries and the oracle dumps).
  private[graft] def embTable(job: String) = s"_embeddings_$job"
  private[graft] def tokTable(job: String) = s"_search_tokens_$job"
  private[graft] def appTable(job: String) = s"_append_$job"

  /** The table a job's vectors are served from, by table method. */
  private def servedTable(job: VectorizeJob): String = job.tableMethod match {
    case TableMethod.Append => appTable(job.jobName)
    case _ => embTable(job.jobName)
  }

  /** The (pkey, embeddings, updated_at) frame for a job regardless of
    * table method: join keeps a separate `_embeddings_<job>` table;
    * append stores embeddings inline in a wide `_append_<job>` table
    * (the reference ALTERs the source table itself,
    * core/src/types.rs:107-115) and projects the bookkeeping columns.
    */
  // Tables can legitimately not exist yet (zero-row backfill leaves
  // them uncreated): search over such a job returns empty results,
  // matching the reference (a query over an empty embeddings table),
  // instead of throwing "no such table".
  private def embeddingsOf(job: VectorizeJob): DataFrame =
    embeddingsFrom(job, store.readOption(servedTable(job)))

  /** [[embeddingsOf]] over a handle of the job's served table. */
  private def embeddingsFrom(job: VectorizeJob, served: Option[DataFrame]): DataFrame =
    served match {
      case None => emptyFrame(Pipeline.embeddingSchema)
      case Some(t) if job.tableMethod == TableMethod.Append =>
        t.select(col("pkey"), col("embeddings"), col("__emb_updated_at").as("updated_at"))
          .filter(col("embeddings").isNotNull)
      case Some(t) => t
    }

  private def tokensFrom(tokens: Option[DataFrame]): DataFrame =
    tokens.getOrElse(emptyFrame(Pipeline.tokenSchema))

  // a local relation: its size estimate is 0, so a missing table keeps
  // a job under the serving gate
  private def emptyFrame(schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** A job's store writes in flight, and the (served table, tokens
    * table) handles of the state before them. */
  private final class Writes {
    var inFlight = 0
    var before: (Option[Handle], Option[Handle]) = (None, None)
  }
  private val writes = scala.collection.concurrent.TrieMap.empty[String, Writes]

  private def currentHandles(job: VectorizeJob): (Option[Handle], Option[Handle]) =
    (store.readHandle(servedTable(job)), store.readHandle(tokTable(job.jobName)))

  /** Run a write to a job's stores. A read that overlaps it serves the
    * handles of the state before it ([[readHandles]]), so a read never
    * pairs the tokens of one write with the vectors of another:
    * [[upsertRows]] commits its two tables one after the other. A
    * write that starts while none is in flight records those handles;
    * no commit can land while it does, as every write goes through
    * here first.
    */
  private def writing[T](job: VectorizeJob)(body: => T): T = {
    val w = writes.getOrElseUpdate(job.jobName, new Writes)
    w.synchronized {
      if (w.inFlight == 0) w.before = currentHandles(job)
      w.inFlight += 1
    }
    try body finally w.synchronized(w.inFlight -= 1)
  }

  /** The handles a read serves from: the current ones, or while a
    * write of the job is in flight those of the state before it.
    */
  private def readHandles(job: VectorizeJob): (Option[Handle], Option[Handle]) = {
    val w = writes.getOrElseUpdate(job.jobName, new Writes)
    w.synchronized(if (w.inFlight == 0) currentHandles(job) else w.before)
  }

  /** The serving tier's state for a job: the source and store handles
    * it serves from (compared by reference), their frames' largest size
    * estimate, and the driver-local snapshot, made on first use:
    * patched from the snapshot of `basis`, an earlier state, when it
    * can be ([[patchFrom]]), else built. Once made, the reference to
    * `basis` is dropped, so no chain of old snapshots is kept.
    */
  private final class Serving(val job: VectorizeJob, val src: DataFrame,
      val emb: Option[Handle], val tok: Option[Handle], val timeZone: String,
      @volatile private var basis: Option[Serving]) {
    def servesFrom(j: VectorizeJob, s: DataFrame, e: Option[Handle],
        t: Option[Handle], tz: String): Boolean =
      j == job && (s eq src) && sameHandle(e, emb) && sameHandle(t, tok) && tz == timeZone
    private def sameHandle(a: Option[Handle], b: Option[Handle]) =
      a.isEmpty && b.isEmpty || a.nonEmpty && b.nonEmpty && (a.get eq b.get)
    private lazy val (embFrame, tokFrame) =
      (embeddingsFrom(job, emb.map(_.rows)), tokensFrom(tok.map(_.rows)))
    lazy val size: BigInt = Seq(src, embFrame, tokFrame).map(GraftColumnBridge.sizeInBytes).max
    // held softly: the collector may reclaim it under memory pressure,
    // and the next read builds it again
    @volatile private var held = new java.lang.ref.SoftReference[ServingSnapshot](null)
    /** The state a later one patches from: this one while it holds its
      * snapshot, else the one this would patch from. */
    def patchBasis: Option[Serving] = if (held.get != null) Some(this) else basis
    def snapshot: ServingSnapshot = synchronized {
      Option(held.get).getOrElse {
        val made = basis.flatMap(patchFrom).getOrElse {
          servingBuilds.incrementAndGet()
          ServingSnapshot.build(spark, src, job.primaryKey, embFrame, tokFrame)
        }
        held = new java.lang.ref.SoftReference(made)
        basis = None
        made
      }
    }
    /** This state's snapshot patched from `b`'s: the same job and time
      * zone, `b`'s snapshot still held, and each store table unchanged
      * or moved only its delta over the same base ([[deltaSince]]). The
      * source is collected again only when it was re-registered. The
      * Append method's served table holds rows with a null vector; the
      * patch removes their keys and adds no row for them, which is what
      * its null-embedding filter does.
      */
    private def patchFrom(b: Serving): Option[ServingSnapshot] = {
      val old = b.held.get
      if (old == null || b.job != job || b.timeZone != timeZone) return None
      for (e <- deltaSince(b.emb, emb); t <- deltaSince(b.tok, tok)) yield {
        servingPatches.incrementAndGet()
        ServingSnapshot.patch(old, if (b.src eq src) None else Some(src), job.primaryKey, e, t)
      }
    }
  }
  private val serving = scala.collection.mutable.HashMap.empty[String, Serving]

  /** Snapshots built whole, and snapshots patched from an earlier one. */
  private[graft] val servingBuilds, servingPatches = new java.util.concurrent.atomic.AtomicLong

  /** What a snapshot read over store handle `from` needs to serve `to`:
    * Some(None) when the rows are the same, Some(Some(delta rows)) when
    * `to` kept `from`'s base and holds a later delta keyed by `pkey`,
    * and None when the snapshot must be built (a new base, a handle
    * without a base identity, or `to` older than `from`).
    */
  private def deltaSince(from: Option[Handle], to: Option[Handle]): Option[Option[DataFrame]] =
    (from, to) match {
      case (None, None) => Some(None)
      case (Some(a), Some(b)) if a.base.nonEmpty && a.base == b.base =>
        def version(h: Handle) = h.delta.fold(-1L)(_.version)
        if (version(b) == version(a)) Some(None)
        else b.delta.filter(d => d.version > version(a) && d.key == "pkey").map(d => Some(d.rows))
      case _ => None
    }

  /** The driver-local snapshot a read over these frames is answered
    * from, when every frame is small enough that Spark would broadcast
    * it (`spark.sql.autoBroadcastJoinThreshold`; -1 turns the tier
    * off). A snapshot lives until the source is re-registered or either
    * store table commits, or until the collector reclaims it under
    * memory pressure. The first read after a commit that only moved
    * the store tables' deltas patches the last snapshot from the deltas
    * (and the source, when it was re-registered) instead of building a
    * new one: one Spark job per changed frame.
    */
  private def localSnapshot(job: VectorizeJob, src: DataFrame,
      handles: (Option[Handle], Option[Handle])): Option[ServingSnapshot] = {
    val threshold = GraftColumnBridge.broadcastThreshold(spark)
    if (threshold < 0) return None
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val s = serving.synchronized {
      val last = serving.get(job.jobName)
      last.filter(_.servesFrom(job, src, handles._1, handles._2, tz)).getOrElse {
        val fresh = new Serving(job, src, handles._1, handles._2, tz, last.flatMap(_.patchBasis))
        serving.put(job.jobName, fresh)
        fresh
      }
    }
    if (s.size > threshold) None else Some(s.snapshot)
  }

  /** `vectorize.table(...)` (extension/src/api.rs:80-114 +
    * initialize_job core/src/init.rs:122-269): validate, persist the
    * job row, create stores, run the initial backfill (embeddings +
    * search tokens).
    */
  private def validateJob(job: VectorizeJob): Unit = {
    Identifiers.validate(job.jobName)
    job.srcColumns.foreach(Identifiers.validate)
    Identifiers.validate(job.primaryKey)
    // R6 — schedule must be 'realtime', 'manual', or valid 5-field
    // cron (the reference would fail later at cron.schedule; we fail
    // at creation). Interpretation: graft.streaming.JobScheduler.
    Schedule.parse(job.schedule).left.foreach(err =>
      throw new IllegalArgumentException(s"invalid schedule: $err"))
    val src = sources.getOrElse(job.srcTable,
      throw new IllegalArgumentException(s"unknown source table: ${job.srcTable}"))
    // update_time_col type check (server/src/routes/table.rs:32-49)
    job.updateTimeCol.foreach { u =>
      val f = src.schema.fields.find(_.name == u).getOrElse(
        throw new IllegalArgumentException(s"no such column: $u"))
      require(f.dataType.typeName == "timestamp",
        s"update_time_col '$u' must be timestamp, got ${f.dataType.typeName}")
    }
  }

  /** Re-creating an existing job with any change that affects what
    * got embedded (model, table method, source table/columns, key,
    * watermark column) must not serve vectors from the old embedding
    * space — drop the old stores so the rebuild starts clean.
    * Param/schedule-only changes (API key rotation, cron tweak) keep
    * the backfill; same-config re-create stays idempotent. Applies to
    * BOTH creation paths (table and table_from).
    */
  private def dropStoresIfReconfigured(job: VectorizeJob): Unit =
    jobs.get(job.jobName).foreach { old =>
      def embeddingConfig(j: VectorizeJob) =
        (j.model, j.tableMethod, j.srcTable, j.srcColumns, j.primaryKey, j.updateTimeCol)
      if (embeddingConfig(old) != embeddingConfig(job))
        writing(old)(dropStores(job.jobName))
    }

  def createJob(job: VectorizeJob): VectorizeJob = {
    validateJob(job)
    dropStoresIfReconfigured(job)
    catalogLock.synchronized {
      jobs.put(job.jobName, job)
      persistCatalog()
    }
    refreshJob(job.jobName)
    job
  }

  /** `vectorize.job_execute` / cron target
    * (extension/src/executor.rs:43-96): incremental delta scan →
    * [[upsertRows]]. Idempotent — safe under at-least-once retries.
    * Both table methods scan for staleness against the table the job
    * serves from ([[embeddingsOf]]); a job whose table does not exist
    * yet backfills every source row.
    *
    * The delta is persisted for the duration of the refresh: the
    * tokens pass, the embedding pass, the append method's wide join
    * and the returned count all read it, and without the persist each
    * would re-run the delta scan.
    */
  def refreshJob(jobName: String): Long = {
    val j = job(jobName).getOrElse(throw new NoSuchElementException(s"no such job: $jobName"))
    val src = sources(j.srcTable)
    val delta = (
      if (store.exists(servedTable(j)))
        Pipeline.deltaScanJoin(src, embeddingsOf(j), j.primaryKey, j.updateTimeCol)
      else src
    ).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      upsertRows(j, delta)
      delta.count() // served from cache; one embedding per delta row
    } finally delta.unpersist()
  }

  /** The one write path of embedding maintenance, shared by
    * [[refreshJob]] and the streaming micro-batch
    * ([[graft.streaming.Realtime.processBatch]]): MERGE the rows'
    * search tokens, embed the rows, MERGE the vectors into the table
    * the job serves from, then keep the optional vector index fresh.
    *
    * The writes overlap, and the tokens commit first: the tokens MERGE
    * runs on a pool thread (with the caller's session and local
    * properties) while this thread renders, embeds and writes the
    * vectors, whose commit waits for the tokens'. A refresh's retry
    * delta is derived from embedding staleness, so vectors committed
    * without their tokens would leave those rows unsearchable by text
    * forever; tokens committed without their vectors are re-written by
    * the retry. If the tokens MERGE fails, the vectors commit nothing
    * and its error is rethrown. Either way this returns only once both
    * writes have finished.
    *
    * `rows` are source rows with at most one row per key; the caller
    * owns their persistence. With an index, the embedded rows are
    * persisted here so that the index upsert, which reads them after
    * the vector MERGE, does not repeat the provider calls; without
    * one, the MERGE reads them once (a compacting MERGE persists its
    * input itself). Rows on the driver (a local relation) are embedded
    * there ([[Pipeline.embed]]).
    */
  private[graft] def upsertRows(job: VectorizeJob, rows: DataFrame,
      indexPath: Option[String] = None): Unit = writing(job) {
    val tokens = GraftColumnBridge.async(rows.sparkSession)(mergeTokens(job, rows))
    try {
      val inputs = Pipeline.renderInputs(rows, job.primaryKey, job.srcColumns)
      val embedded0 = Pipeline.embed(inputs, provider(job), job.model.apiName)
      val embedded =
        if (indexPath.isEmpty) embedded0
        else embedded0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // an empty batch commits no vectors and leaves the index as it is
        if (mergeVectors(job, rows, embedded, () => GraftColumnBridge.await(tokens)))
          indexPath.foreach(p =>
            upsertVectorIndex(job.jobName, p, embedded.select(col("pkey"), col("embeddings"))))
      } finally if (indexPath.nonEmpty) embedded.unpersist()
    } catch {
      case e: Throwable =>
        // no write may outlive the call: wait for the tokens MERGE
        scala.util.Try(GraftColumnBridge.await(tokens)).failed.foreach(t => if (t ne e) e.addSuppressed(t))
        throw e
    }
    GraftColumnBridge.await(tokens)
  }

  private def mergeTokens(job: VectorizeJob, rows: DataFrame): Unit =
    store.merge(tokTable(job.jobName),
      Pipeline.renderSearchTokens(rows, job.primaryKey, job.srcColumns), "pkey")

  /** MERGE (pkey, embeddings, updated_at) vectors into the table the
    * job serves from. Append (extension/src/executor.rs:98-133): the
    * reference keeps embeddings + bookkeeping ON the source table;
    * here a wide `_append_<job>` table holds the source columns +
    * pkey + embeddings + `__emb_updated_at`, so search reads
    * embeddings without a join — the method's point. The vectors are
    * joined back to their `rows` (a superset of their keys is fine).
    */
  private def mergeVectors(job: VectorizeJob, rows: DataFrame, vectors: DataFrame,
      ready: () => Unit = () => ()): Boolean = {
    val served = job.tableMethod match {
      case TableMethod.Append =>
        rows.withColumn("pkey", col(job.primaryKey).cast("string"))
          .join(vectors.withColumnRenamed("updated_at", "__emb_updated_at"), Seq("pkey"))
      case _ => vectors
    }
    store.merge(servedTable(job), served, "pkey", ready = ready)
  }

  /** `vectorize.import_embeddings` (extension/src/api.rs:250-326):
    * copy precomputed vectors for rows not already embedded.
    */
  def importEmbeddings(jobName: String, external: DataFrame,
      extPk: String, extVecCol: String): Unit = {
    val j = jobs(jobName)
    val incoming = external.select(
      col(extPk).cast("string").as("pkey"),
      col(extVecCol).cast("array<float>").as("embeddings"),
      current_timestamp().as("updated_at"))
    // Reject dimension mismatches AT IMPORT, not at first search:
    // with the strict dimension check in VectorBinaryExpression a
    // mis-sized imported vector would otherwise make every subsequent
    // query over the job throw.
    val dims = incoming.filter(col("embeddings").isNotNull)
      .select(size(col("embeddings")).as("d")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (dims.nonEmpty) {
      require(dims.length == 1,
        s"imported embeddings have mixed dimensions: ${dims.mkString(", ")}")
      // the job model's dimension; a provider whose dim probe needs
      // network (e.g. a live model server) falls back to accepting the
      // uniform incoming dim
      val expected = try provider(j).modelDim(j.model.apiName)
        catch { case _: Exception => dims.head }
      require(dims.head == expected,
        s"imported embedding dimension ${dims.head} != model dimension " +
          s"$expected for ${j.model.fullname}")
    }
    // Imported rows must be lexically searchable too: the refresh
    // delta skips them (they have embeddings), so their search
    // tokens are rendered here from the source rows.
    val src = sources(j.srcTable)
    writing(j) {
      mergeTokens(j, src.join(incoming.select("pkey"),
        col(j.primaryKey).cast("string") === col("pkey"), "left_semi"))
      // Vectors land where the job serves from: vectors imported into
      // `_embeddings_` for an append job would be dead data AND the next
      // refresh would re-embed (and re-pay for) every row.
      mergeVectors(j, src,
        incoming.join(embeddingsOf(j).select("pkey"), Seq("pkey"), "left_anti"))
    }
  }

  /** `vectorize.table_from` (extension/src/api.rs:328-390). */
  def createJobFromExisting(job: VectorizeJob, external: DataFrame,
      extPk: String, extVecCol: String): VectorizeJob = {
    validateJob(job)
    // same reconfiguration rule as createJob: a table_from with a
    // changed embedding config must not mix old-space vectors with
    // the imported ones
    dropStoresIfReconfigured(job)
    catalogLock.synchronized {
      jobs.put(job.jobName, job)
      persistCatalog()
    }
    importEmbeddings(job.jobName, external, extPk, extVecCol)
    // tokens + any rows the import missed
    refreshJob(job.jobName)
    job
  }

  /** `DELETE /api/v1/table/{job}` → cleanup_job
    * (core/src/init.rs:317-395). Failure-tolerant like the reference.
    */
  def deleteJob(jobName: String): Unit = {
    jobs.get(jobName).fold(dropStores(jobName))(j => writing(j)(dropStores(jobName)))
    serving.synchronized(serving.remove(jobName))
    catalogLock.synchronized {
      jobs.remove(jobName)
      persistCatalog()
    }
  }

  private def dropStores(jobName: String): Unit = {
    store.drop(embTable(jobName))
    store.drop(tokTable(jobName))
    store.drop(appTable(jobName))
  }

  /** `vectorize.chunk_table` (extension/src/api.rs:17-78): chunk one
    * text column of a registered source and WRITE the result as a
    * warehouse table of (original_id, chunk_index, chunk) — the
    * reference's output_table shape. Rows with a null key or null
    * text are skipped like the reference's `if let (Some, Some)`.
    * Overwrite (idempotent re-chunk) instead of the reference's
    * CREATE-IF-NOT-EXISTS + INSERT, which duplicates rows on re-run.
    * Returns the written table's DataFrame.
    */
  def chunkTable(inputTable: String, columnName: String, primaryKey: String,
      maxChunkSize: Int = 1000, outputTable: String = "chunked_data"): DataFrame = {
    Identifiers.validate(columnName)
    Identifiers.validate(primaryKey)
    Identifiers.validate(outputTable)
    require(maxChunkSize > 0, s"max_chunk_size must be positive, got $maxChunkSize")
    val src = sources.getOrElse(inputTable,
      throw new IllegalArgumentException(s"unknown source table: $inputTable"))
    val chunked = src
      .filter(col(primaryKey).isNotNull && col(columnName).isNotNull)
      .select(col(primaryKey).as("original_id"),
        posexplode(graft.functions.GraftFunctions.chunkText(
          col(columnName), lit(maxChunkSize))).as(Seq("chunk_index", "chunk")))
    store.overwrite(outputTable, chunked)
    store.read(outputTable)
  }

  /** `vectorize.encode` (extension/src/api.rs:159-177). */
  def encode(jobOrModel: String, text: String): Array[Float] = {
    val model = jobs.get(jobOrModel).map(_.model)
      .getOrElse(Model.parseUnsafe(jobOrModel))
    val p = jobs.get(jobOrModel).map(provider)
      .getOrElse(embeddingProviderOverride.getOrElse(Providers.forModel(model)))
    p.generateEmbeddings(model.apiName, Seq(text)).head
  }

  /** `vectorize.search` (extension/src/api.rs:116-134): embed the
    * query on the driver (the reference's network boundary #1), then
    * exact cosine top-k — on the driver from the job's serving
    * snapshot when the job's frames are under the broadcast threshold
    * (see [[localSnapshot]]), else distributed on executors. `preFilter`
    * and `whereSql` always take the Spark plan.
    */
  def search(jobName: String, query: String, limit: Int = 10,
      filters: Map[String, FilterValue] = Map.empty,
      returnCols: Seq[String] = Seq("*"),
      preFilter: Boolean = false,
      whereSql: Option[String] = None): DataFrame = {
    val job = jobs(jobName)
    val qv = encode(jobName, query)
    val src = sources(job.srcTable)
    val handles = readHandles(job)
    val local =
      if (preFilter || whereSql.nonEmpty || limit < 1 || limit > Int.MaxValue / 5) None
      else localSnapshot(job, src, handles).filter(_.supports(filters, returnCols))
    local.fold(
      // P5 — raw where_sql predicate: applied post-join over the full
      // ranking like the typed filters (reference placement,
      // core/src/query.rs:669-700 WHERE on the joined result).
      // Caller-supplied SQL, same trust model as the reference.
      Search.semanticSearch(src, embeddingsFrom(job, handles._1.map(_.rows)),
        job.primaryKey, qv, limit, filters, returnCols, preFilter, whereSql))(
      _.semanticSearch(qv, limit, filters, returnCols))
  }

  /** P8 — JSON row encoding: the reference returns `SETOF jsonb` from
    * its search functions via `to_jsonb(t)` (core/src/query.rs:688,
    * 735; per-column assembly extension/src/search.rs:227-261). One
    * `results` string column per hit.
    */
  def searchJson(jobName: String, query: String, limit: Int = 10,
      filters: Map[String, FilterValue] = Map.empty,
      returnCols: Seq[String] = Seq("*"),
      whereSql: Option[String] = None): DataFrame =
    search(jobName, query, limit, filters, returnCols, whereSql = whereSql)
      .select(to_json(struct(col("*"))).as("results"))

  def hybridSearchJson(jobName: String, query: String, limit: Int = 10,
      filters: Map[String, FilterValue] = Map.empty,
      returnCols: Seq[String] = Seq("*"),
      whereSql: Option[String] = None): DataFrame =
    hybridSearch(jobName, query, limit, filters = filters,
        returnCols = returnCols, whereSql = whereSql)
      .select(to_json(struct(col("*"))).as("results"))

  /** `vectorize.hybrid_search` (extension/src/api.rs:136-157).
    * `bm25 = true` swaps the lexical leg's ts_rank_cd scoring for
    * BM25 over the same token store — a capability the reference
    * lacks; RRF fusion, weights, and windowing are unchanged. Served
    * from the job's snapshot like [[search]]; `bm25` and `whereSql`
    * always take the Spark plan.
    */
  def hybridSearch(jobName: String, query: String, limit: Int = 10,
      windowSize: Option[Int] = None, rrfK: Double = 60.0,
      semanticWt: Double = 1.0, ftsWt: Double = 1.0,
      filters: Map[String, FilterValue] = Map.empty,
      returnCols: Seq[String] = Seq("*"),
      bm25: Boolean = false,
      whereSql: Option[String] = None): DataFrame = {
    val job = jobs(jobName)
    val qv = encode(jobName, query)
    val src = sources(job.srcTable)
    val handles = readHandles(job)
    val window = windowSize.getOrElse(if (limit > Int.MaxValue / 5) 0 else limit * 5)
    // rrfK > -1 keeps every k + rank positive, as the plan's division needs
    val local =
      if (bm25 || whereSql.nonEmpty || limit < 1 || window < 1 || !(rrfK > -1.0)) None
      else localSnapshot(job, src, handles).filter(_.supports(filters, returnCols))
    local.fold(
      Search.hybridSearch(src, embeddingsFrom(job, handles._1.map(_.rows)),
        tokensFrom(handles._2.map(_.rows)), job.primaryKey, qv, query, limit,
        windowSize, rrfK, semanticWt, ftsWt, filters, returnCols, bm25,
        whereSql))(
      _.hybridSearch(qv, query, limit, window, rrfK, semanticWt, ftsWt, filters, returnCols))
  }

  /** `vectorize.rag` (extension/src/api.rs:179-205): retrieve top
    * `numContext` rows, render the prompt template, trim to the model
    * context window, call the chat provider. Chat jobs require
    * exactly one content column (extension/src/chat/ops.rs:56-58).
    */
  def rag(jobName: String, query: String,
      chatModel: String = VectorizeEngine.DefaultChatModel,
      task: String = VectorizeEngine.DefaultRagTask,
      numContext: Int = VectorizeEngine.DefaultRagNumContext,
      forceTrim: Boolean = false): DataFrame = {
    val trimmed = ragPrompt(jobName, query, chatModel, task, numContext, forceTrim)
    val answer = chatProvider.generateResponse(chatModel, trimmed.sysPrompt, trimmed.userPrompt)
    import spark.implicits._
    Seq((query, answer)).toDF("query", "chat_response")
  }

  /** The deterministic prefix of [[rag]] — retrieve, render, trim —
    * without the chat call, exposed so the rendered prompt can be
    * DuckDB-oracled (the chat response itself is JVM-only and stays
    * EngineSpec-covered).
    */
  def ragPrompt(jobName: String, query: String,
      chatModel: String = VectorizeEngine.DefaultChatModel,
      task: String = VectorizeEngine.DefaultRagTask,
      numContext: Int = VectorizeEngine.DefaultRagNumContext,
      forceTrim: Boolean = false): graft.rag.RenderedPrompt = {
    val job = jobs(jobName)
    require(job.srcColumns.size == 1,
      s"chat jobs require exactly one content column, got ${job.srcColumns.size}")
    val contentCol = job.srcColumns.head
    val hits = search(jobName, query, numContext)
      .select(col(contentCol).cast("string")) // non-string content columns render, not crash
      .collect().map(_.getString(0))
      .filter(_ != null) // a null content column must not render "null" into the prompt
    // engine-persisted templates first, then the process-wide ones
    val tpl = prompts.get(task).orElse(graft.rag.PromptTemplates.resolve(task))
      .getOrElse(throw new IllegalArgumentException(s"unknown prompt task: $task"))
    val rendered = graft.rag.PromptTemplates.renderTemplate(tpl, hits.mkString("\n"), query)
    graft.rag.ContextWindow.enforce(chatModel, rendered, forceTrim)
  }

  /** `vectorize.generate` (extension/src/api.rs:207-223). */
  def generate(input: String,
      model: String = VectorizeEngine.DefaultChatModel): String =
    chatProvider.generateResponse(model, "You are a helpful assistant.", input)

  def job(name: String): Option[VectorizeJob] = jobs.get(name)
  def listJobs: Seq[VectorizeJob] = jobs.values.toSeq

  /** Install the SQL surface on this engine's session: the native
    * vector functions (cosine_similarity / dot_product / l2_distance),
    * `vectorize_embed(query, job)` with its driver-side
    * constant-folding rule — the Catalyst equivalent of the
    * reference's proxy rewrite (SURVEY §2.11,
    * proxy/src/embeddings.rs:66-182) — and the engine entry points as
    * TABLE functions (`SELECT * FROM vectorize_search(...)`, the
    * reference's pg_extern surface, extension/src/api.rs:116-157).
    * Idempotent.
    */
  def enableSqlFunctions(): Unit = {
    graft.plans.GraftSqlFunctions.registerAll(spark)
    graft.plans.SqlTableFunctions.register(this)
    // last-enabled engine owns the rule (one rule instance total)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations
        .filterNot(_.isInstanceOf[graft.plans.ResolveVectorizeEmbed]) :+
        new graft.plans.ResolveVectorizeEmbed(this)
  }

  /** CREATE INDEX analogue dispatched on the job's `IndexDist` hint
    * (extension/src/init.rs:86-146 builds the pgvector index flavor
    * the job declared; core/src/types.rs:61-68). `pgv_hnsw_*` builds
    * the per-partition HNSW graph index (operators/Hnsw.scala);
    * `vsc_diskann_cosine` builds the IVF index — SURVEY §4's
    * documented Spark-native substitution for a disk-resident graph.
    * All flavors rank by cosine, matching the search path (the
    * reference's generated queries always use the cosine operator
    * regardless of declared flavor — core/src/query.rs:653-699).
    * v1 limitation, checked loudly: pkeys must be numeric, because
    * the index stores long ids.
    */
  def buildVectorIndex(jobName: String, path: String): Unit = {
    val job = jobs(jobName)
    val emb = embeddingsOf(job)
    require(emb.filter(col("pkey").cast("long").isNull).limit(1).count() == 0,
      s"buildVectorIndex($jobName): non-numeric pkey values — " +
        "the v1 vector index requires numeric primary keys")
    job.indexDist match {
      case IndexDist.PgvHnswL2 | IndexDist.PgvHnswIp | IndexDist.PgvHnswCosine =>
        Hnsw.buildHnswIndex(emb, "pkey", "embeddings", path)
      case IndexDist.VscDiskannCos =>
        // store only what probes read — (pkey, embeddings) — so
        // refresh batches of the same shape can upsert cells directly
        Ann.buildIvfIndex(emb.select(col("pkey"), col("embeddings")),
          "pkey", "embeddings", path, nCells = 16, iterations = 3)
    }
  }

  /** Keep the job's vector index fresh after a refresh: `pgv_hnsw_*`
    * upserts at partition granularity (Hnsw.upsertHnswIndex — only
    * touched graph partitions rebuild, byte-identical to a full
    * build); `vsc_diskann_cosine` re-assigns changed rows against the
    * FROZEN trained centroids and rewrites only the touched cell
    * partitions (Ann.upsertIvfIndex — centroid drift is a rebuild
    * decision, like a native REINDEX). `changed` is the refreshed
    * embeddings subset (pkey, embeddings), e.g. the rows a refreshJob
    * batch upserted.
    */
  def upsertVectorIndex(jobName: String, path: String, changed: DataFrame): Unit =
    jobs(jobName).indexDist match {
      case IndexDist.PgvHnswL2 | IndexDist.PgvHnswIp | IndexDist.PgvHnswCosine =>
        Hnsw.upsertHnswIndex(changed, "pkey", "embeddings", path)
      case IndexDist.VscDiskannCos =>
        Ann.upsertIvfIndex(changed, "pkey", "embeddings", path)
    }

  /** Probe the index [[buildVectorIndex]] built for this job's hint:
    * same (id, cos) contract as the exact search leg, top-k merge at
    * the caller.
    */
  def probeVectorIndex(jobName: String, path: String, queryVec: Array[Float],
      k: Int): DataFrame = jobs(jobName).indexDist match {
    case IndexDist.PgvHnswL2 | IndexDist.PgvHnswIp | IndexDist.PgvHnswCosine =>
      Hnsw.probeHnswIndex(spark, path, queryVec, k)
        .orderBy(col("cos").desc, col("id").asc).limit(k)
    case IndexDist.VscDiskannCos =>
      Ann.probeIvfIndex(spark, path, "pkey", "embeddings", queryVec, k)
  }

  /** Index-backed semantic search with the reference's POST-filter
    * semantics (HNSW index scan + filter, core/src/query.rs:686-699):
    * the probe retrieves a candidate window (window_size = 5×limit
    * when filters are present — the same recall knob the scan path
    * exposes), the source join and P4 typed filters apply AFTER the
    * index scan, so an aggressively selective filter can return fewer
    * than `limit` rows — the reference's documented index-scan
    * behavior, preserved rather than silently "fixed" (the
    * better-recall pre-filter form exists on the scan path via
    * `search(preFilter = true)`). The probe output is ≤ window rows,
    * so the source join broadcasts — the big table never shuffles.
    */
  def searchIndexed(jobName: String, path: String, query: String,
      limit: Int = 10, filters: Map[String, FilterValue] = Map.empty,
      returnCols: Seq[String] = Seq("*")): DataFrame = {
    val job = jobs(jobName)
    val window = if (filters.isEmpty) limit else limit * 5
    val probe = probeVectorIndex(jobName, path, encode(jobName, query), window)
    val src = sources(job.srcTable)
    val joined = src.join(broadcast(probe),
      src(job.primaryKey).cast("long") === probe("id"), "inner")
    operators.Search.applyFilters(joined, filters)
      .select(operators.Search.projectCols(src, returnCols) ++ Seq(
        probe("cos").as("similarity_score"), probe("id").as("__id")): _*)
      .orderBy(col("similarity_score").desc, col("__id").asc)
      .limit(limit).drop("__id")
  }

  /** Project view (core/src/query.rs:311-320): source ⋈ embeddings. */
  def projectView(jobName: String): DataFrame = {
    val job = jobs(jobName)
    val src = sources(job.srcTable)
    val emb = embeddingsOf(job)
      .withColumnRenamed("updated_at", "embeddings_updated_at")
    src.join(emb, src(job.primaryKey).cast("string") === emb("pkey")).drop("pkey")
  }

  /** Persist the catalog like vectorize.job (tiny table → overwrite). */
  private def persistCatalog(): Unit = {
    import spark.implicits._
    val rows = jobs.values.toSeq.map { j =>
      (j.jobName, j.srcTable, j.srcColumns, j.primaryKey,
        j.updateTimeCol.orNull, j.model.fullname, j.tableMethod.name,
        j.indexDist.name, j.schedule, j.params)
    }
    // Written even when empty so deleting the last job persists.
    // params travel too — provider config (api_key/base_url refs)
    // must survive restart, vectorize.job.params JSONB equivalent.
    store.overwrite("job_catalog", rows.toDF(
      "job_name", "src_table", "src_columns", "primary_key",
      "update_time_col", "model", "table_method", "index_dist_type",
      "schedule", "params"))
  }
}
