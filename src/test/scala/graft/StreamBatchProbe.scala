package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{col, max}

/** Measures the everything-on streaming micro-batch
  * ([[EverythingOnStream]]): a fresh batch, the same rows delivered
  * again (`replay`: exact dedup drops the survivors whose text the
  * clean left as it was), then as many rows the store already holds
  * (`committed`: exact dedup drops every row).
  *
  * {{{
  * sbt "Test/runMain graft.StreamBatchProbe 3"
  * }}}
  * Each round builds a fresh fixture store and streams the three
  * deliveries under one checkpoint. Prints one
  * `batch <fresh|replay|committed> round=<r> ...` line per micro-batch: its
  * Spark jobs, the `addBatch` wall time from the query's progress, the
  * executor CPU and run time of its tasks, and the JVM's CPU time over
  * the whole query run (start-time checks and stream-lifetime caches
  * included), then the micro-batch's funnel from the audit table.
  */
object StreamBatchProbe {

  def main(args: Array[String]): Unit = {
    val rounds = args.headOption.map(_.toInt).getOrElse(3)
    val spark = TestSpark.spark
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val cpuNs = new AtomicLong
    val runMs = new AtomicLong
    val stages = ConcurrentHashMap.newKeySet[Int]()
    def streaming(p: java.util.Properties): Boolean =
      p != null && p.getProperty("sql.streaming.queryId") != null
    sc.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (streaming(js.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (streaming(s.properties)) stages.add(s.stageInfo.stageId)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskMetrics != null) {
          cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
          runMs.addAndGet(t.taskMetrics.executorRunTime)
        }
    })
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    for (r <- 1 to rounds) {
      val (store, batch) = EverythingOnStream.fixture(spark, "graft_sbp_")
      val n = batch.count().toInt
      val committed = store.read("docs").select("doc_id", "text")
        .join(spark.read.parquet(s"${EverythingOnStream.dir}/embeddings.parquet")
          .select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
        .orderBy("doc_id").limit(n)
        .localCheckpoint() // read now: the stream's MERGEs replace v_0
      val src = TestSpark.tempDir("graft_sbp_src_")
      val cp = TestSpark.tempDir("graft_sbp_cp_")
      for ((label, rows) <- Seq("fresh" -> batch, "replay" -> batch,
          "committed" -> committed)) {
        EverythingOnStream.deliver(rows, src)
        org.apache.spark.ListenerDrain.drain(sc)
        jobs.set(0); cpuNs.set(0); runMs.set(0); stages.clear()
        val cpu0 = os.getProcessCpuTime
        val q = EverythingOnStream.start(spark, store, src, cp)
        require(q.awaitTermination(600000), s"$label batch did not finish")
        org.apache.spark.ListenerDrain.drain(sc)
        val cpu = (os.getProcessCpuTime - cpu0) / 1000000
        val p = q.recentProgress.filter(_.numInputRows > 0).last
        println(s"batch $label round=$r rows=${p.numInputRows} " +
          s"jobs=${jobs.get} addBatch_ms=${p.durationMs.get("addBatch")} " +
          s"task_cpu_ms=${cpuNs.get / 1000000} task_run_ms=${runMs.get} " +
          s"query_cpu_ms=$cpu")
        val audit = store.read("audit")
        val last = audit.agg(max("batch_id")).head().getLong(0)
        println(s"funnel $label round=$r " + audit
          .filter(col("batch_id") === last)
          .orderBy("stage").collect()
          .map(x => s"${x.getAs[String]("stage")}=${x.getAs[Long]("n_docs")}")
          .mkString(" "))
      }
    }
  }
}
