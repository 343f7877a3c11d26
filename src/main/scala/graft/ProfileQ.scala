package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Throwaway profiling main for the optimization round: runs the named
  * queries through the noop sink with a job listener, printing per-job
  * wall times + total, and dumps .explain("formatted") next to it.
  * Usage: runMain graft.ProfileQ <sfDir> <outDir> <query1> [query2 ...]
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.localSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = new java.util.concurrent.CopyOnWriteArrayList[(Int, String, Double)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(js.jobId, (desc, System.nanoTime()))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (desc, t0) =>
          done.add((je.jobId, desc, (System.nanoTime() - t0) / 1e9))
        }
      }
    })

    // warmup
    Seq("a2_agg_summary", "dedup_clusters").foreach { q =>
      try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }
    try Queries.prepare(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"prepare failed: $e") }

    // pre-warm the session-fixture stores (sig/span/CDF/langid —
    // CREATE INDEX analogues built once per session) so attempt
    // times measure the query, not the first-touch store build
    Seq("ingest_audit_gated", "pipeline_ingest_routed_boil",
        "text_language_id_stored").foreach { q =>
      try SparkEntry.queries(q)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }

    def load1m(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+").head.toDouble
      catch { case _: Throwable => -1.0 }

    names.foreach { name =>
      // plan dump
      val df = SparkEntry.queries(name)(spark, sfDir)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_plan.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          .getBytes("UTF-8"))
      val best = scala.collection.mutable.ArrayBuffer[Double]()
      (1 to 4).foreach { attempt =>
        done.clear()
        spark.sparkContext.setJobDescription(s"$name#$attempt")
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val total = (System.nanoTime() - t0) / 1e9
        best += total
        spark.sparkContext.setJobDescription(null)
        Thread.sleep(300) // let listener drain
        println(f"== $name attempt $attempt total $total%.3f s, ${done.size} jobs, load ${load1m()}%.2f")
        if (attempt == 4) {
          import scala.jdk.CollectionConverters._
          done.asScala.toSeq.sortBy(-_._3).take(15).foreach { case (id, d, s) =>
            println(f"   job $id%4d $s%7.3f s  $d")
          }
        }
      }
      println(f"== $name BEST ${best.min}%.3f s")
    }
    spark.stop()
  }
}
