package perfbench

import graft.providers.{ChatProvider, EmbeddingProvider}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Wall-clock milliseconds with sub-millisecond digits, on the same
  * epoch as Spark's listener event times.
  */
object Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/** Provider call counters. The harness hands the engine counting
  * wrappers; Spark serializes them into tasks, and in local mode those
  * copies run in this JVM, so the counters live in a global object.
  */
object ProviderCounters {
  val embedCalls = new AtomicLong
  val embedInputs = new AtomicLong
  val embedNanos = new AtomicLong
  val chatCalls = new AtomicLong
  val chatNanos = new AtomicLong
  /** (start, end) in [[Clock.nowMs]] of every embed call, when tracing. */
  val embedSpans = new ConcurrentLinkedQueue[(Double, Double)]
  @volatile var recordSpans = false

  final case class Snapshot(embedCalls: Long, embedInputs: Long, embedNanos: Long,
      chatCalls: Long, chatNanos: Long) {
    def -(o: Snapshot): Snapshot = Snapshot(embedCalls - o.embedCalls,
      embedInputs - o.embedInputs, embedNanos - o.embedNanos,
      chatCalls - o.chatCalls, chatNanos - o.chatNanos)
  }
  def snapshot(): Snapshot = Snapshot(embedCalls.get, embedInputs.get,
    embedNanos.get, chatCalls.get, chatNanos.get)
}

final class CountingEmbeddings(inner: EmbeddingProvider) extends EmbeddingProvider {
  override def modelDim(model: String): Int = inner.modelDim(model)
  override def generateEmbeddings(model: String, inputs: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    val s0 = if (ProviderCounters.recordSpans) Clock.nowMs else 0.0
    try inner.generateEmbeddings(model, inputs)
    finally {
      ProviderCounters.embedCalls.incrementAndGet()
      ProviderCounters.embedInputs.addAndGet(inputs.size)
      ProviderCounters.embedNanos.addAndGet(System.nanoTime() - t0)
      if (ProviderCounters.recordSpans) ProviderCounters.embedSpans.add((s0, Clock.nowMs))
    }
  }
}

final class CountingChat(inner: ChatProvider) extends ChatProvider {
  override def generateResponse(model: String, sysPrompt: String, userPrompt: String): String = {
    val t0 = System.nanoTime()
    try inner.generateResponse(model, sysPrompt, userPrompt)
    finally {
      ProviderCounters.chatCalls.incrementAndGet()
      ProviderCounters.chatNanos.addAndGet(System.nanoTime() - t0)
    }
  }
}

/** Maps a Spark call site (`collect at ParquetStore.scala:560`) to the
  * program module whose source line launched the job. A module is a
  * directory under `src/main/scala/graft`; of the files at its root,
  * the engine and the query catalogue are modules of their own.
  */
final class Modules(byFile: Map[String, String]) {
  val all: Seq[String] = (byFile.values.toSeq :+ "other").distinct.sorted

  def of(callSite: String): String = callSite match {
    case Modules.site(file) => byFile.getOrElse(file, "other")
    case _ => "other"
  }
}

object Modules {
  private val site = """ at ([A-Za-z0-9_$]+\.scala):\d+""".r.unanchored
  private val rootFiles = Map("VectorizeEngine.scala" -> "engine",
    "Queries.scala" -> "queries", "Oracles.scala" -> "queries", "SparkEntry.scala" -> "queries")

  /** Reads the module layout from the source tree of a checkout. */
  def scan(root: java.nio.file.Path): Modules = {
    def files(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq finally s.close()
    }
    val program = root.resolve("src/main/scala/graft")
    val byFile = files(program).map { f =>
      val rel = program.relativize(f)
      val name = f.getFileName.toString
      name -> (if (rel.getNameCount > 1) rel.getName(0).toString else rootFiles.getOrElse(name, "other"))
    } ++ files(root.resolve("perfbench/src/main/scala")).map(_.getFileName.toString -> "harness")
    new Modules(byFile.toMap)
  }
}

/** One finished Spark job with its tasks' totals. */
final case class JobRec(id: Int, startMs: Double, endMs: Double, module: String,
    callSite: String, tasks: Int, executorRunMs: Double, schedulerDelayMs: Double,
    shuffleWriteBytes: Long, inputBytes: Long)

/** Catalyst phase times of one query execution. */
final case class QeRec(endMs: Double, analysisMs: Double, optimizationMs: Double,
    planningMs: Double)

/** Records every job and query execution of the session. Spark delivers
  * listener events asynchronously: call [[drain]] before reading.
  */
final class Recorder(spark: org.apache.spark.sql.SparkSession, modules: Modules)
    extends SparkListener with QueryExecutionListener {

  private final class Open(val id: Int, val startMs: Double, val callSite: String) {
    var tasks = 0; var runMs = 0.0; var delayMs = 0.0; var shuffle = 0L; var input = 0L
  }
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Open]
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val done = new ConcurrentLinkedQueue[JobRec]
  private val qes = new ConcurrentLinkedQueue[QeRec]

  // SQL execution id → the call site of the action that started it
  private val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSites.put(s.executionId, s.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val own = props.flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name)).getOrElse("")
    // jobs a query starts on a helper thread (broadcasts, subqueries)
    // carry that thread's call site: use their SQL execution's instead
    val site = if (modules.of(own) != "other") own else props
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execSites.get(id.toLong))).getOrElse(own)
    open.put(e.jobId, new Open(e.jobId, e.time.toDouble, site))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageToJob.get(e.stageId)).flatMap(id => Option(open.get(id)))
    j.foreach { o =>
      o.synchronized {
        o.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          o.runMs += m.executorRunTime
          o.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            e.taskInfo.gettingResultTime)
          o.shuffle += m.shuffleWriteMetrics.bytesWritten
          o.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { o =>
      done.add(JobRec(o.id, o.startMs, e.time.toDouble, modules.of(o.callSite),
        o.callSite, o.tasks, o.runMs, o.delayMs, o.shuffle, o.input))
    }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val end = if (ph.isEmpty) Clock.nowMs else ph.values.map(_.endTimeMs).max.toDouble
    qes.add(QeRec(end, ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)

  def jobsIn(startMs: Double, endMs: Double): Seq[JobRec] =
    done.asScala.filter(j => j.startMs >= startMs - 0.5 && j.startMs <= endMs + 0.5)
      .toSeq.sortBy(_.id)

  def qesIn(startMs: Double, endMs: Double): Seq[QeRec] =
    qes.asScala.filter(q => q.endMs >= startMs - 0.5 && q.endMs <= endMs + 0.5).toSeq
}

object Recorder {
  def install(spark: org.apache.spark.sql.SparkSession, modules: Modules): Recorder = {
    val r = new Recorder(spark, modules)
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }

  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** A traced span: one timed call at a layer boundary. Spans of one
  * request share `op`; `parent` names the span that caused it.
  */
final case class Span(op: Int, name: String, parent: String, startMs: Double,
    endMs: Double, attrs: Map[String, Double], site: String = "")

final class Spans {
  private val buf = new ConcurrentLinkedQueue[Span]
  def add(s: Span): Unit = buf.add(s)
  def all: Seq[Span] = buf.asScala.toSeq

  /** Writes every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      Json.obj(Seq("op" -> Json.num(s.op), "name" -> Json.str(s.name),
        "parent" -> Json.str(s.parent), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs), "site" -> Json.str(s.site),
        "attrs" -> Json.obj(s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
