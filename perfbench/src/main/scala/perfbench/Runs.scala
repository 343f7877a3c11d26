package perfbench

import graft.SparkEntry
import graft.streaming.Realtime
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

import java.nio.file.Files
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Shared loop helpers. */
private object Loop {
  def reason(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)}"

  def checked[T](ans: Try[T])(check: T => Option[String]): Option[String] = ans match {
    case Success(v) => check(v)
    case Failure(t) => Some(reason(t))
  }

  def p50(xs: Iterable[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs.toSeq)
}

/** `serve`: read-only. A seeded, interleaved mix of engine searches
  * (plain and `lang`-filtered), HTTP hybrid searches, SQL hybrid
  * searches and RAG calls from one closed-loop client. After a warm-up
  * from a fixed seed, the client runs whole blocks of the mix for
  * `--seconds`; every answer is checked after the timed loop. A traced
  * run times a fixed number of blocks instead, then one warm curate
  * pass (see [[CuratePass]]).
  */
final class Serve(spark: SparkSession, a: Args, res: Result, tracer: Option[Tracer]) {
  import Gen.Kind
  /** Warm-up blocks. A fresh JVM's first reads run 2–3 times as long,
    * and reads keep getting faster for about their first 30 while the
    * JIT compiles the read paths.
    */
  private val warmBlocks = 4

  private def describe(op: Gen.ReadOp) = s"${op.kind.name} '${op.query}' lang=${op.lang}"

  def run(): Unit = {
    val s = new Served(spark, a)
    try {
      s.setUp(res)
      val warm = Gen.readOps(Gen.WarmSeed, 1).take(warmBlocks * Kind.reads.size).toSeq
      warm.foreach(op => res.op(Loop.checked(Try(s.read(op)))(s.check(op, _)), s"warm-up ${describe(op)}"))
      // the engine, HTTP and SQL hybrid paths on sampled queries
      val sampled = Gen.readOps(a.seed, 0).filter(_.kind == Kind.HybridHttp).take(1).toSeq
      sampled.foreach { op =>
        res.op(Try(s.agreement(op.query, op.lang)).fold(t => Some(Loop.reason(t)), identity),
          s"agreement '${op.query}' lang=${op.lang}")
      }
      res.context("warmup_ops") = (warm.size + 3 * sampled.size).toString
      res.e2e("setup_s") = ((Clock.nowMs - Machine.startMs) / 1000, "s")
      val sums = new LayerSums
      reads(s, sums)
      tracer.foreach { t =>
        new CuratePass(spark, a, res, t).run(sums)
        sums.report(res, Serve.groups, t.modules)
      }
    } finally s.close()
  }

  private def reads(s: Served, sums: LayerSums): Unit = {
    val ops = Gen.readOps(a.seed, 1)
    val done = mutable.ArrayBuffer.empty[(Gen.ReadOp, Try[Either[String, Seq[Found]]], Double)]
    val (gc0, gcMs0) = Machine.gc
    val cpu0 = Machine.cpuMs
    val deadline = Clock.nowMs + a.seconds * 1000
    // whole blocks only, so every kind gets the same number of reads
    def more = if (tracer.nonEmpty) done.size < Workloads.TracedPerKind * Kind.reads.size
      else Clock.nowMs < deadline || done.size % Kind.reads.size != 0
    while (more) {
      val op = ops.next()
      val (ans, ms) = tracer match {
        case Some(t) =>
          val (ans, ot, id) = t.op(op.kind.name)(Try(s.read(op)))
          sums.addOp(ot)
          layerCalls(t, s, op, ot, id, sums)
          (ans, ot.ms)
        case None =>
          val t0 = Clock.nowMs
          val ans = Try(s.read(op))
          (ans, Clock.nowMs - t0)
      }
      done += ((op, ans, ms))
    }
    val cpu = (Machine.cpuMs - cpu0) / done.size
    val (gc1, gcMs1) = Machine.gc
    done.foreach { case (op, ans, _) => res.op(Loop.checked(ans)(s.check(op, _)), describe(op)) }
    Kind.reads.foreach(k =>
      res.detail(s"${k.name}_p50_ms") = (Loop.p50(done.filter(_._1.kind == k).map(_._3)), "ms"))
    res.detail("read_p50_ms") = (Stats.median(done.map(_._3).toSeq), "ms")
    res.detail("read_p95_ms") = (Stats.percentile(done.map(_._3).toSeq, 95), "ms")
    res.detail("read_cpu_ms") = (cpu, "ms")
    res.detail("reads") = (done.size.toDouble, "count")
    // a block holds one read of each kind, so its mean weighs every
    // surface alike; the median over blocks drops a block a pause hit
    val blocks = done.grouped(Kind.reads.size).map(b => Stats.mean(b.map(_._3).toSeq)).toSeq
    res.context("block_ms") = Json.arr(blocks.map(Json.num))
    res.e2e("latency_ms") = (Stats.median(blocks), "ms")
    res.e2e("cpu_ms") = (cpu, "ms")
    sums.add("jvm.gc_ms", (gcMs1 - gcMs0).toDouble)
    sums.add("jvm.gc_count", (gc1 - gc0).toDouble)
  }

  /** Direct timed calls beside a traced op, outside its interval. */
  private def layerCalls(t: Tracer, s: Served, op: Gen.ReadOp, ot: OpTrace, id: Int,
      sums: LayerSums): Unit = {
    op.kind match {
      case Kind.HybridHttp =>
        val (_, ms) = t.layer(id, "engine:hybridSearch", op.kind.name)(s.engineHybrid(op.query, op.lang))
        sums.add("api.overhead_ms", ot.ms - ms)
      case Kind.SqlHybrid =>
        val (_, ms) = t.layer(id, "engine:hybridSearch", op.kind.name)(s.engineHybrid(op.query, op.lang))
        sums.add("plans.sql_overhead_ms", ot.ms - ms)
      case Kind.Rag =>
        val ctx = s.truth.ranking(op.query, None).take(graft.VectorizeEngine.DefaultRagNumContext)
          .flatMap(h => s.truth.doc(h.id)).map(_.text).mkString("\n")
        val tpl = graft.rag.PromptTemplates.resolve(graft.VectorizeEngine.DefaultRagTask).get
        val (p, renderMs) = t.layer(id, "rag:renderTemplate", "rag")(
          graft.rag.PromptTemplates.renderTemplate(tpl, ctx, op.query))
        val (_, trimMs) = t.layer(id, "rag:enforce", "rag")(
          graft.rag.ContextWindow.enforce(graft.VectorizeEngine.DefaultChatModel, p, forceTrim = false))
        sums.add("rag.render_ms", renderMs)
        sums.add("rag.trim_ms", trimMs)
        sums.add("rag.prompt_tokens", graft.rag.ContextWindow.tokenEstimate(p.sysPrompt) +
          graft.rag.ContextWindow.tokenEstimate(p.userPrompt))
      case _ =>
    }
    s.storeRead(t, id, op.kind.name, sums)
  }
}

object Serve {
  val groups: Map[String, String] = Map("api.overhead_ms" -> "hybrid_http",
    "plans.sql_overhead_ms" -> "sql_hybrid", "rag.render_ms" -> "rag", "rag.trim_ms" -> "rag",
    "rag.prompt_tokens" -> "rag")
}

/** `refresh`: writes beside reads. Each cycle commits a seeded delta
  * to the file-backed source, runs `Realtime.processBatch`, confirms
  * every delta row through an HTTP hybrid search for its marker, and
  * runs a plain search over the growing store.
  */
final class Refresh(spark: SparkSession, a: Args, res: Result, tracer: Option[Tracer]) {
  private val changed = 40
  private val added = 10
  private val rows = changed + added
  private val searchesPerCycle = 1
  /** An untimed cycle first: the first cycle of a fresh JVM runs twice
    * as long while the JIT compiles the merge path.
    */
  private val warmCycles = 1
  /** Timed cycles: a fixed count, one per nominal 3 s of `--seconds`.
    * Cycles still speed up as the JIT settles and slow down as store
    * versions pile up, so a count that followed the clock would move
    * the median with the machine's speed.
    */
  private val timedCycles =
    if (tracer.nonEmpty) Workloads.TracedPerKind else math.max(3, (a.seconds / 3).toInt)

  def run(): Unit = {
    val s = new Served(spark, a)
    try {
      s.setUp(res)
      var nextId = Gen.CorpusSize.toLong
      def searchOps(seed: Long) = Gen.readOps(seed, 1).filter(_.kind == Gen.Kind.Search)
      val searches = searchOps(a.seed)
      val warmSearches = searchOps(Gen.WarmSeed)
      val sums = new LayerSums
      val fresh, batch, search = mutable.ArrayBuffer.empty[Double]
      var cpu = 0.0

      // warm-up cycles draw from a fixed seed, so every run warms alike
      def cycle(c: Int, timed: Boolean): Unit = {
        val d = Gen.delta(if (timed) a.seed else Gen.WarmSeed, c, s.corpusIds, nextId, changed, added)
        nextId += added
        val deltaDir = s.commit(d.docs)
        val input = spark.read.parquet(deltaDir.toString)
        val traced = tracer.filter(_ => timed)
        val cpu0 = Machine.cpuMs
        val (batchMs, freshMs, got) = traced match {
          case Some(t) =>
            val (r, bt, _) = t.op("batch")(Try(Realtime.processBatch(s.engine, s.job, input)))
            r.get
            val (got, ct, _) = t.op("confirm")(Try(s.httpHybrid(d.marker, None, 2 * rows)))
            Seq(bt, ct).foreach(sums.addOp)
            sums.add("streaming.batch_ms", bt.ms)
            sums.add("streaming.jobs", bt.jobs.size)
            sums.add("streaming.tasks", bt.jobs.map(_.tasks).sum)
            sums.add("streaming.rows", rows)
            val merges = bt.jobs.filter(_.module == "sources")
            sums.add("sources.merge_jobs", merges.size)
            sums.add("sources.merge_tasks", merges.map(_.tasks).sum)
            sums.add("sources.merge_ms", Recorder.covered(merges.map(j => (j.startMs, j.endMs))))
            (bt.ms, bt.ms + ct.ms, got)
          case None =>
            val t0 = Clock.nowMs
            Realtime.processBatch(s.engine, s.job, input)
            val t1 = Clock.nowMs
            val got = Try(s.httpHybrid(d.marker, None, 2 * rows))
            (t1 - t0, Clock.nowMs - t0, got)
        }
        val reads = (1 to searchesPerCycle).map { _ =>
          val op = (if (timed) searches else warmSearches).next()
          traced match {
            case Some(t) =>
              val (ans, ot, id) = t.op("search")(Try(s.read(op)))
              sums.addOp(ot)
              s.storeRead(t, id, "search", sums)
              (op, ans, ot.ms)
            case None =>
              val t0 = Clock.nowMs
              val ans = Try(s.read(op))
              (op, ans, Clock.nowMs - t0)
          }
        }
        if (timed) {
          cpu += Machine.cpuMs - cpu0
          fresh += freshMs; batch += batchMs; search ++= reads.map(_._3)
        }
        res.op(Loop.checked(got)(g => Checks.markers(g.map(f => (f.id, f.text)), d)),
          s"cycle $c marker ${d.marker}")
        reads.foreach { case (op, ans, _) =>
          res.op(Loop.checked(ans)(s.check(op, _)), s"search '${op.query}' lang=${op.lang}")
        }
      }

      (1 to warmCycles).foreach(cycle(_, timed = false))
      res.context("warmup_ops") = (warmCycles * (2 + searchesPerCycle)).toString
      res.e2e("setup_s") = ((Clock.nowMs - Machine.startMs) / 1000, "s")
      val (gc0, gcMs0) = Machine.gc
      (warmCycles + 1 to warmCycles + timedCycles).foreach(cycle(_, timed = true))
      val (gc1, gcMs1) = Machine.gc
      res.context("cycle_fresh_ms") = Json.arr(fresh.toSeq.map(Json.num))
      res.detail("fresh_p50_ms") = (Loop.p50(fresh), "ms")
      res.detail("batch_p50_ms") = (Loop.p50(batch), "ms")
      res.detail("refresh_rows_per_s") = (rows * timedCycles / (batch.sum / 1000), "1/s")
      res.detail("search_p50_ms") = (Loop.p50(search), "ms")
      res.detail("cycles") = (timedCycles.toDouble, "count")
      res.e2e("latency_ms") = (Loop.p50(fresh), "ms")
      res.e2e("cpu_ms") = (cpu / timedCycles, "ms")
      sums.add("jvm.gc_ms", (gcMs1 - gcMs0).toDouble)
      sums.add("jvm.gc_count", (gc1 - gc0).toDouble)
      tracer.foreach(t => sums.report(res, Refresh.groups, t.modules))
    } finally s.close()
  }
}

object Refresh {
  val groups: Map[String, String] = Seq("streaming.batch_ms", "streaming.jobs", "streaming.tasks",
    "streaming.rows", "sources.merge_jobs", "sources.merge_tasks", "sources.merge_ms")
    .map(_ -> "batch").toMap
}

/** The `SparkEntry.queries` layer, measured in `serve`'s traced run:
  * a cold pass over the entries on the corpus writes each output (for
  * the DuckDB oracle) and fixes its fingerprint; one warm pass then
  * materializes each through the noop sink, traced per query, and must
  * give the same fingerprint. `ingest_audit` is a job-bound ingest
  * chain, `dedup_substrings` the data-bound contrast. A fresh JVM
  * spends 30–45 s on the cold pass, too long for a gated run.
  */
final class CuratePass(spark: SparkSession, a: Args, res: Result, t: Tracer) {

  /** Row count plus two order-independent hashes of every row. */
  private def observed(df: DataFrame): (DataFrame, Observation) = {
    val ob = Observation()
    val h = xxhash64(to_json(struct(df.columns.map(c => df.col(s"`$c`")): _*)))
    (df.observe(ob, count(lit(1)).as("rows"), bit_xor(h).as("xor"),
      sum(pmod(h, lit(1000000007L))).as("sum")), ob)
  }

  private def fingerprint(ob: Observation): String = {
    val m = ob.get
    Seq("rows", "xor", "sum").map(k => String.valueOf(m(k))).mkString("/")
  }

  def run(sums: LayerSums): Unit = {
    val dir = a.work.resolve("data")
    import spark.implicits._
    Gen.corpus().map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    val out = a.work.resolve("curate_out")
    val expected = mutable.LinkedHashMap.empty[String, String]
    Workloads.curateQueries.foreach { q =>
      val t0 = Clock.nowMs
      val got = Try {
        val (df, ob) = observed(SparkEntry.queries(q)(spark, dir.toString))
        df.coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
        fingerprint(ob)
      }
      res.context(s"cold_${q}_s") = f"${(Clock.nowMs - t0) / 1000}%.3f"
      got.foreach(expected(q) = _)
      res.op(got.failed.toOption.map(Loop.reason), s"cold $q")
    }
    // an oracle over the engine's store dumps (__AUX__) does not run standalone
    val oracles = SparkEntry.oracleSql.filter { case (q, sql) =>
      Workloads.curateQueries.contains(q) && !sql.contains("__AUX__") }
    Files.createDirectories(out)
    Files.write(out.resolve("oracle_sql.json"),
      Json.obj(oracles.toSeq.sortBy(_._1).map { case (q, sql) => q -> Json.str(sql) }).getBytes("UTF-8"))

    val bounds = mutable.ArrayBuffer.empty[(String, Double, Double, Double)]
    val (_, ot, id) = t.op("curate")(Workloads.curateQueries.foreach { q =>
      val t0 = Clock.nowMs
      val got = Try {
        val built = SparkEntry.queries(q)(spark, dir.toString)
        val t1 = Clock.nowMs
        val (df, ob) = observed(built)
        df.write.format("noop").mode("overwrite").save()
        bounds += ((q, t0, t1, Clock.nowMs))
        fingerprint(ob)
      }
      res.op(Loop.checked(got)(f =>
        if (expected.get(q).contains(f)) None else Some(s"fingerprint $f != cold ${expected.get(q)}")),
        s"warm $q")
    })
    bounds.foreach { case (q, t0, t1, t2) =>
      val jobs = t.recorder.jobsIn(t0, t2)
      val cat = t.recorder.qesIn(t1, t2).map(r => r.analysisMs + r.optimizationMs + r.planningMs).sum
      sums.add(s"curate.$q.build_ms", t1 - t0)
      sums.add(s"curate.$q.catalyst_ms", cat)
      sums.add(s"curate.$q.exec_ms", (t2 - t1 - cat).max(0.0))
      sums.add(s"curate.$q.jobs", jobs.size)
      sums.add(s"curate.$q.tasks", jobs.map(_.tasks).sum)
      sums.add(s"curate.$q.shuffle_bytes", jobs.map(_.shuffleWriteBytes).sum.toDouble)
      t.spans.add(Span(id, s"curate:$q", "curate", t0, t2, Map("jobs" -> jobs.size.toDouble)))
    }
    res.detail("curate_s") = (ot.ms / 1000, "s")
  }
}
