package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs each ingest-chain registry entry starts, so a
  * change to the chain can be held to the job count it had.
  *
  * {{{
  * sbt "Test/runMain graft.ChainJobProbe /root/testdata/sf0.01"
  * }}}
  * Each entry runs four times: the first run also builds the
  * session-cached stores (signature index, calibration snapshots,
  * span-df store); the other three count the entry alone (adaptive
  * execution can vary a count by a job between runs). Prints one
  * `jobs <entry> first=.. runs=a,b,c` line per entry. Extra arguments
  * name a subset of entries.
  */
object ChainJobProbe {

  val entries: Seq[String] = Seq(
    "pipeline_ingest", "ingest_audit",
    "pipeline_ingest_decontam", "ingest_audit_decontam",
    "pipeline_ingest_ladder", "ingest_audit_ladder", "ingest_audit_gated",
    "pipeline_ingest_routed", "ingest_audit_routed",
    "pipeline_ingest_routed_boil", "ingest_audit_routed_boil",
    "pipeline_ingest_routed_boil_sem", "ingest_audit_routed_boil_sem",
    "pipeline_ingest_boil", "ingest_audit_boil")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.toSeq.tail else entries
    val spark = TestSpark.spark
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    def jobsIn(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      org.apache.spark.ListenerDrain.drain(sc)
      sc.addSparkListener(l)
      try { body; org.apache.spark.ListenerDrain.drain(sc) }
      finally sc.removeSparkListener(l)
      n.get
    }
    for (q <- names) {
      val run = () => SparkEntry.queries(q)(spark, dir).collect()
      val first = jobsIn(run())
      val runs = Seq.fill(3)(jobsIn(run()))
      println(s"jobs $q first=$first runs=${runs.mkString(",")}")
    }
  }
}
