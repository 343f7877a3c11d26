package perfbench

import graft.VectorizeEngine
import graft.api.{HttpApi, MiniJson}
import graft.providers.{DeterministicChatProvider, DeterministicHashProvider}
import graft.types.{FilterValue, Model, VectorizeJob}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}

import java.lang.management.ManagementFactory
import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, root: Path)

/** Everything one run measured. `e2e` holds the gated end-to-end
  * metrics, `detail` the named figures of the workload, `layers` the
  * traced per-layer metrics, `context` what the run ran under.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val context = mutable.LinkedHashMap.empty[String, String]

  /** Counts one op; a failure reason marks it failed. */
  def op(failure: Option[String], what: => String): Unit = synchronized {
    attempted += 1
    failure.foreach { r =>
      failed += 1
      if (failures.size < 20) failures += s"$what: $r"
    }
  }
}

/** The process-level readings stamped on every record. */
object Machine {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  /** CPU time of the whole process, garbage collection included, less
    * the JIT compiler's time: compilation left over from warm-up lands
    * in whichever timed op happens to trigger it.
    */
  def cpuMs: Double = os.getProcessCpuTime / 1e6 - jit.getTotalCompilationTime
  def gc: (Long, Long) = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foldLeft((0L, 0L)) { case ((n, t), b) => (n + b.getCollectionCount.max(0), t + b.getCollectionTime.max(0)) }
  def loadavg: String =
    try new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")), UTF_8)
      .split("\\s+").take(3).mkString(" ")
    catch { case _: java.io.IOException => "unavailable" }
  /** The machine's CPU time so far, from `/proc/stat`, in ticks: all
    * of it, the part spent waiting on I/O, and the part the hypervisor
    * gave to other guests (steal).
    */
  def ticks: (Long, Long, Long) =
    try {
      val f = new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/stat")), UTF_8)
        .linesIterator.next().split("\\s+").drop(1).take(8).map(_.toLong)
      (f.sum, f(4), f(7))
    } catch { case _: Exception => (0L, 0L, 0L) }
  def startMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  val nproc: Int = Runtime.getRuntime.availableProcessors
}

object Workloads {
  val Job = "docs"
  val Limit = 10
  /** Candidates per hybrid leg: the engine's default, five times the limit. */
  val Window = 5 * Limit
  val Dim = 64
  val Model0: Model = Model.parseUnsafe("deterministic/hash-64")
  /** Ops of each kind a traced run attributes; fixed so two traced
    * runs with one seed count the same ops.
    */
  val TracedPerKind = 3

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Machine.nproc}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Machine.nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val opKinds: Seq[String] = Seq("search", "search_lang", "hybrid_http", "sql_hybrid", "rag", "batch", "confirm")
  val curateQueries: Seq[String] = Seq("ingest_audit", "dedup_substrings")

  /** Per-layer metrics. Both workloads report every name; a layer a
    * workload does not exercise reads 0.
    */
  def perLayer(modules: Modules): Seq[(String, String)] =
    opKinds.flatMap(k => Seq(s"$k.spark.jobs" -> "count", s"$k.spark.tasks" -> "count",
      s"$k.spark.executor_run_ms" -> "ms", s"$k.catalyst_ms" -> "ms", s"$k.driver_ms" -> "ms")) ++
    Seq("api.overhead_ms" -> "ms", "engine.driver_ms" -> "ms", "plans.sql_overhead_ms" -> "ms",
      "providers.embed_calls" -> "count", "providers.embed_inputs" -> "count",
      "providers.embed_ms" -> "ms", "providers.chat_calls" -> "count", "providers.chat_ms" -> "ms",
      "sources.read_ms" -> "ms", "sources.read_files" -> "count", "sources.versions" -> "count",
      "sources.merge_jobs" -> "count", "sources.merge_tasks" -> "count", "sources.merge_ms" -> "ms",
      "rag.render_ms" -> "ms", "rag.trim_ms" -> "ms", "rag.prompt_tokens" -> "count",
      "streaming.batch_ms" -> "ms", "streaming.jobs" -> "count", "streaming.tasks" -> "count",
      "streaming.rows" -> "count") ++
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_run_ms" -> "ms",
      "spark.scheduler_delay_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
      "spark.input_bytes" -> "bytes") ++
    modules.all.map(m => s"spark.jobs.$m" -> "count") ++
    Seq("catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
      "catalyst.planning_ms" -> "ms", "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count") ++
    curateQueries.flatMap(q => Seq(s"curate.$q.build_ms" -> "ms", s"curate.$q.catalyst_ms" -> "ms",
      s"curate.$q.exec_ms" -> "ms", s"curate.$q.jobs" -> "count", s"curate.$q.tasks" -> "count",
      s"curate.$q.shuffle_bytes" -> "bytes"))

  def run(a: Args, res: Result): Unit = {
    res.context ++= Seq("seed" -> a.seed.toString, "nproc" -> Machine.nproc.toString,
      "loadavg_start" -> Json.str(Machine.loadavg))
    val ticks0 = Machine.ticks
    val spark = session(a.work)
    res.context("session_ready_s") = f"${(Clock.nowMs - Machine.startMs) / 1000}%.3f"
    try {
      val tracer = if (a.trace) Some(new Tracer(spark, Modules.scan(a.root))) else None
      a.workload match {
        case "serve" => new Serve(spark, a, res, tracer).run()
        case "refresh" => new Refresh(spark, a, res, tracer).run()
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
      tracer.foreach { t =>
        t.spans.write(a.work.resolve(s"trace-${a.workload}-${a.seed}.jsonl"))
        res.context("trace_spans") = t.spans.all.size.toString
      }
    } finally {
      val (n, ms) = Machine.gc
      val ticks1 = Machine.ticks
      def share(x: Long) = Json.num(100.0 * x / (ticks1._1 - ticks0._1).max(1))
      res.context ++= Seq("loadavg_end" -> Json.str(Machine.loadavg),
        "cpu_iowait_pct" -> share(ticks1._2 - ticks0._2), "cpu_steal_pct" -> share(ticks1._3 - ticks0._3),
        "jvm_gc_count_total" -> n.toString, "jvm_gc_ms_total" -> ms.toString)
      spark.stop()
    }
  }
}

/** One traced op: its wall time, the jobs and query executions inside
  * it, its provider calls, and the time no job or provider call covered.
  */
final case class OpTrace(kind: String, ms: Double, jobs: Seq[JobRec], qes: Seq[QeRec],
    prov: ProviderCounters.Snapshot, driverMs: Double)

/** What a traced run keeps: job and query-execution records, provider
  * spans, and the per-op attribution built from them.
  */
final class Tracer(spark: SparkSession, val modules: Modules) {
  val recorder: Recorder = Recorder.install(spark, modules)
  val spans = new Spans
  ProviderCounters.recordSpans = true
  private var nextOp = 0

  /** Runs `body` as one traced op of `kind` and attributes every job,
    * query execution and provider call inside its interval to it; the
    * run has one client, so nothing else runs in that interval.
    */
  def op[T](kind: String)(body: => T): (T, OpTrace, Int) = {
    nextOp += 1
    val id = nextOp
    val p0 = ProviderCounters.snapshot()
    val s = Clock.nowMs
    val out = body
    val e = Clock.nowMs
    val p1 = ProviderCounters.snapshot()
    recorder.drain()
    val jobs = recorder.jobsIn(s, e)
    val qes = recorder.qesIn(s, e)
    val embeds = ProviderCounters.embedSpans.asScala.filter(p => p._1 >= s && p._2 <= e).toSeq
    val driver = (e - s) - Recorder.covered(jobs.map(j => (j.startMs, j.endMs)) ++ embeds)
    spans.add(Span(id, kind, "", s, e, Map("jobs" -> jobs.size.toDouble)))
    jobs.foreach(j => spans.add(Span(id, s"spark:${j.module}", kind, j.startMs, j.endMs,
      Map("job" -> j.id.toDouble, "tasks" -> j.tasks.toDouble), j.callSite)))
    embeds.foreach(p => spans.add(Span(id, "providers:embed", kind, p._1, p._2, Map.empty)))
    (out, OpTrace(kind, e - s, jobs, qes, p1 - p0, driver.max(0.0)), id)
  }

  /** Times a direct call into a layer function, recorded as a span. */
  def layer[T](op: Int, name: String, parent: String)(body: => T): (T, Double) = {
    val s = Clock.nowMs
    val out = body
    val e = Clock.nowMs
    spans.add(Span(op, name, parent, s, e, Map.empty))
    (out, e - s)
  }
}

/** Accumulates traced figures and turns them into per-op means. */
final class LayerSums {
  private val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val counts = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
  def add(name: String, v: Double): Unit = sums(name) += v
  def ops(group: String): Unit = counts(group) += 1
  def mean(name: String, group: String): Double =
    if (counts(group) == 0) 0.0 else sums(name) / counts(group)

  /** Adds one op's job/catalyst/provider figures under its kind and
    * under the workload-wide totals.
    */
  def addOp(t: OpTrace): Unit = {
    ops(t.kind); ops("all")
    val k = t.kind
    add(s"$k.spark.jobs", t.jobs.size)
    add(s"$k.spark.tasks", t.jobs.map(_.tasks).sum)
    add(s"$k.spark.executor_run_ms", t.jobs.map(_.executorRunMs).sum)
    add(s"$k.catalyst_ms", t.qes.map(q => q.analysisMs + q.optimizationMs + q.planningMs).sum)
    add(s"$k.driver_ms", t.driverMs)
    add("engine.driver_ms", t.driverMs)
    add("spark.jobs", t.jobs.size)
    add("spark.tasks", t.jobs.map(_.tasks).sum)
    add("spark.executor_run_ms", t.jobs.map(_.executorRunMs).sum)
    add("spark.scheduler_delay_ms", t.jobs.map(_.schedulerDelayMs).sum)
    add("spark.shuffle_write_bytes", t.jobs.map(_.shuffleWriteBytes).sum.toDouble)
    add("spark.input_bytes", t.jobs.map(_.inputBytes).sum.toDouble)
    t.jobs.groupBy(_.module).foreach { case (m, js) => add(s"spark.jobs.$m", js.size) }
    add("catalyst.analysis_ms", t.qes.map(_.analysisMs).sum)
    add("catalyst.optimization_ms", t.qes.map(_.optimizationMs).sum)
    add("catalyst.planning_ms", t.qes.map(_.planningMs).sum)
    add("providers.embed_calls", t.prov.embedCalls)
    add("providers.embed_inputs", t.prov.embedInputs)
    add("providers.embed_ms", t.prov.embedNanos / 1e6)
    add("providers.chat_calls", t.prov.chatCalls)
    add("providers.chat_ms", t.prov.chatNanos / 1e6)
  }

  /** Writes every metric of `names`: a `<kind>.` name as the mean over
    * that kind's ops, a name in `groups` as the mean over the ops of
    * the kind it maps to, `curate.` and `jvm.` names as run totals, and
    * the rest as the mean over all traced ops.
    */
  def report(res: Result, groups: Map[String, String], modules: Modules): Unit =
    Workloads.perLayer(modules).foreach { case (name, unit) =>
      val kind = name.takeWhile(_ != '.')
      val group = groups.getOrElse(name,
        if (Workloads.opKinds.contains(kind)) kind else "all")
      res.layers(name) = (if (name.startsWith("curate.") || name.startsWith("jvm."))
        sums(name) else mean(name, group), unit)
    }
}

/** The served engine shared by `serve` and `refresh`: a file-backed
  * `documents` source, the `docs` job over its `text` column, the SQL
  * functions and the HTTP facade.
  */
final class Served(spark: SparkSession, a: Args) {
  import Checks._
  val truth = new Truth(Workloads.Dim)
  private val stamps = mutable.LongMap.empty[java.sql.Timestamp]
  private val docs = mutable.LongMap.empty[Gen.Doc]
  private var version = 0

  val engine = new VectorizeEngine(spark, a.work.resolve("warehouse").toString,
    embeddingProviderOverride = Some(new CountingEmbeddings(new DeterministicHashProvider(Workloads.Dim))),
    chatProvider = new CountingChat(new DeterministicChatProvider))
  val job = VectorizeJob(jobName = Workloads.Job, srcTable = "documents", srcColumns = Seq("text"),
    primaryKey = "doc_id", updateTimeCol = Some("updated_at"), model = Workloads.Model0)
  private var http: HttpApi = _
  private val client = java.net.http.HttpClient.newHttpClient()

  val sourceSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType),
    StructField("updated_at", TimestampType)))

  private def rows(ds: Iterable[Gen.Doc]): Seq[Row] = ds.toSeq.sortBy(_.docId).map(d =>
    Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong, stamps(d.docId)))

  /** Writes the current corpus as a new source snapshot and registers
    * it. Every changed row is stamped with wall-clock now: the engine
    * stamps embeddings with now, so an older stamp would look already
    * embedded to a refresh.
    */
  def commit(changed: Iterable[Gen.Doc]): Path = {
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    changed.foreach { d => docs(d.docId) = d; stamps(d.docId) = now }
    truth.update(changed)
    val dir = a.work.resolve(s"source/v$version")
    spark.createDataFrame(rows(docs.values).asJava, sourceSchema).coalesce(1)
      .write.mode("overwrite").parquet(dir.toString)
    engine.registerSource("documents", spark.read.parquet(dir.toString))
    val deltaDir = a.work.resolve(s"delta/v$version")
    if (version > 0)
      spark.createDataFrame(rows(changed).asJava, sourceSchema).coalesce(1)
        .write.mode("overwrite").parquet(deltaDir.toString)
    version += 1
    deltaDir
  }

  def corpusIds: IndexedSeq[Long] = docs.keys.toIndexedSeq.sorted

  def setUp(res: Result): Unit = {
    commit(Gen.corpus())
    val t0 = Clock.nowMs
    engine.createJob(job)
    res.context("backfill_s") = f"${(Clock.nowMs - t0) / 1000}%.3f"
    engine.enableSqlFunctions()
    http = new HttpApi(engine, 0)
    http.start()
  }

  def close(): Unit = if (http != null) http.stop()

  private def fromRow(r: Row, scoreCol: String): Found = Found(r.getAs[Long]("doc_id"),
    r.getAs[String]("text"), r.getAs[String]("lang"), r.getAs[Double](scoreCol),
    Option(r.getAs[java.lang.Double]("similarity_score")).map(_.doubleValue))

  private def filters(lang: Option[String]): Map[String, FilterValue] =
    lang.map(l => "lang" -> FilterValue.parse(l).fold(e => throw new IllegalArgumentException(e), identity)).toMap

  def search(q: String, lang: Option[String], limit: Int = Workloads.Limit): Seq[Found] =
    engine.search(Workloads.Job, q, limit, filters(lang)).collect().toSeq
      .map(fromRow(_, "similarity_score"))

  def engineHybrid(q: String, lang: Option[String], limit: Int = Workloads.Limit): Seq[Found] =
    engine.hybridSearch(Workloads.Job, q, limit, filters = filters(lang)).collect().toSeq
      .map(fromRow(_, "rrf_score"))

  def httpHybrid(q: String, lang: Option[String], limit: Int = Workloads.Limit): Seq[Found] = {
    def enc(s: String) = URLEncoder.encode(s, UTF_8)
    val qs = s"job_name=${Workloads.Job}&query=${enc(q)}&limit=$limit" +
      lang.fold("")(l => s"&lang=${enc(l)}")
    val req = java.net.http.HttpRequest.newBuilder(
      java.net.URI.create(s"http://127.0.0.1:${http.boundPort}/api/v1/search?$qs")).GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode != 200)
      throw new IllegalStateException(s"HTTP ${resp.statusCode}: ${resp.body.take(200)}")
    MiniJson.parse(resp.body).fold(e => throw new IllegalStateException(e), identity)
      .asArr.getOrElse(Nil).map { v =>
        val o = v.asObj.getOrElse(Map.empty)
        def num(k: String) = o.get(k).flatMap(_.asDouble)
        Found(num("doc_id").map(_.toLong).getOrElse(-1L), o.get("text").flatMap(_.asString).orNull,
          o.get("lang").flatMap(_.asString).orNull, num("rrf_score").getOrElse(Double.NaN),
          num("similarity_score"))
      }
  }

  def sqlHybrid(q: String, lang: Option[String], limit: Int = Workloads.Limit): Seq[Found] = {
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    val extra = lang.fold("")(l => s", '', ${lit("lang=" + l)}")
    spark.sql(s"SELECT * FROM vectorize_hybrid_search(${lit(Workloads.Job)}, ${lit(q)}, $limit$extra)")
      .collect().toSeq.map(fromRow(_, "rrf_score"))
  }

  def rag(q: String): String =
    engine.rag(Workloads.Job, q).collect().head.getAs[String]("chat_response")

  /** Runs one read op; the answer is checked by [[check]]. */
  def read(op: Gen.ReadOp): Either[String, Seq[Found]] = op.kind match {
    case Gen.Kind.Search | Gen.Kind.SearchLang => Right(search(op.query, op.lang))
    case Gen.Kind.HybridHttp => Right(httpHybrid(op.query, op.lang))
    case Gen.Kind.SqlHybrid => Right(sqlHybrid(op.query, op.lang))
    case Gen.Kind.Rag => Left(rag(op.query))
  }

  private def common(got: Seq[Found], lang: Option[String]): Option[String] =
    texts(got.map(f => (f.id, f.text)), truth).orElse(
      got.collectFirst { case f if lang.exists(_ != f.lang) => s"doc ${f.id} ignores the lang filter" })

  /** Checks one read answer against brute force over the corpus. */
  def check(op: Gen.ReadOp, ans: Either[String, Seq[Found]]): Option[String] = ans match {
    case Right(got) if op.kind == Gen.Kind.Search || op.kind == Gen.Kind.SearchLang =>
      topK(got.map(f => Hit(f.id, f.score)), truth.ranking(op.query, op.lang), Workloads.Limit)
        .orElse(common(got, op.lang))
    case Right(got) =>
      common(got, op.lang).orElse(hybrid(got, truth.ranking(op.query, None),
        id => op.lang.forall(l => truth.doc(id).exists(_.lang == l)), Workloads.Limit, Workloads.Window))
    case Left(answer) =>
      val top = truth.ranking(op.query, None)
      val n = graft.VectorizeEngine.DefaultRagNumContext
      if (top.size > n && math.abs(top(n - 1).score - top(n).score) <= Eps)
        if (answer.startsWith(s"[${graft.VectorizeEngine.DefaultChatModel}]")) None
        else Some("rag answer does not come from the chat model")
      else {
        val ctx = top.take(n).flatMap(h => truth.doc(h.id)).map(_.text).mkString("\n")
        val p = graft.rag.ContextWindow.enforce(graft.VectorizeEngine.DefaultChatModel,
          graft.rag.PromptTemplates.render(graft.VectorizeEngine.DefaultRagTask, ctx, op.query),
          forceTrim = false)
        val want = new DeterministicChatProvider().generateResponse(
          graft.VectorizeEngine.DefaultChatModel, p.sysPrompt, p.userPrompt)
        if (answer == want) None else Some(s"rag answer '${answer.take(80)}' != '${want.take(80)}'")
      }
  }

  /** The engine, HTTP and SQL hybrid paths must return the same rows. */
  def agreement(q: String, lang: Option[String]): Option[String] = {
    def hits(fs: Seq[Found]) = fs.map(f => Hit(f.id, f.score))
    val e = hits(engineHybrid(q, lang))
    agree(e, hits(httpHybrid(q, lang)), s"engine vs HTTP '$q'")
      .orElse(agree(e, hits(sqlHybrid(q, lang)), s"engine vs SQL '$q'"))
  }

  /** Direct timed calls into the store layer (traced runs only). */
  def storeRead(t: Tracer, op: Int, parent: String, sums: LayerSums): Unit = {
    val table = s"_embeddings_${Workloads.Job}"
    val (files, ms) = t.layer(op, "sources:read", parent)(engine.store.read(table).inputFiles.length)
    sums.add("sources.read_ms", ms)
    sums.add("sources.read_files", files)
    // versions are numbered from 0
    sums.add("sources.versions", engine.store.currentVersion(table).fold(0.0)(_ + 1.0))
  }
}
