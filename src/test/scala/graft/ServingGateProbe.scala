package graft

import graft.operators.ServingSnapshot
import graft.streaming.Realtime
import graft.types._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row}

import scala.jdk.CollectionConverters._

/** Measures the serving tier near its gate: for each corpus size, the
  * three frames' size estimates against `spark.sql.autoBroadcastJoinThreshold`,
  * the snapshot's build time and driver heap, and an interleaved run of
  * 50-row `Realtime.processBatch` commits, each followed by `reads`
  * alternating search / hybrid reads, with the tier on and off. Every
  * cycle re-registers the source (a new parquet snapshot of the
  * corpus) before its batch. Each cycle prints its `processBatch` time,
  * marked `rewrite=1` when the batch rewrote base buckets of the vector
  * or token table (their `_BUCKETS` bucket lines changed), with its
  * Spark jobs and `local=1` when it embedded the batch on the driver
  * (the batch's local path), and its first read's time and Spark jobs,
  * with `snapshot=patched` when that read patched the serving snapshot
  * from the store deltas, `built` when it built one whole, and `none`
  * when it took the Spark plan.
  * Each mode ends with the median, mean and max batch time over all
  * cycles.
  *
  * {{{
  * SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.ServingGateProbe 5000 15000 30000"
  * }}}
  * Optional flags before the sizes: `--cycles n` (default 6) and
  * `--reads n` (default 4). Prints one line per figure.
  */
object ServingGateProbe {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  def main(args: Array[String]): Unit = {
    var cycles = 6
    var reads = 4
    var rest = args.toList
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (rest.nonEmpty) rest match {
      case "--cycles" :: v :: t => cycles = v.toInt; rest = t
      case "--reads" :: v :: t => reads = v.toInt; rest = t
      case v :: t => sizes += v.toInt; rest = t
      case Nil =>
    }
    val spark = TestSpark.spark
    spark.sparkContext.setLogLevel("ERROR")
    println(s"probe cpus=${Runtime.getRuntime.availableProcessors} " +
      s"threshold=${spark.conf.get(Threshold)} cycles=$cycles reads=$reads")
    sizes.foreach(n => probe(n, cycles, reads))
  }

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("updated_at", TimestampType)))

  /** A pool of 3,000 words of 3 to 10 letters, drawn with a square bias
    * towards the first ones so that queries hit shared terms. */
  private val words = {
    val rnd = new java.util.SplittableRandom(7L)
    IndexedSeq.fill(3000)(Iterator.fill(3 + rnd.nextInt(8))(('a' + rnd.nextInt(26)).toChar).mkString)
  }
  private def text(rnd: java.util.SplittableRandom): String =
    Seq.fill(10 + rnd.nextInt(91)) {
      val u = rnd.nextDouble()
      words((u * u * words.size).toInt)
    }.mkString(" ")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sorted.apply(xs.size / 2)

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Heap held by a snapshot's data: the array and map fields of its
    * parts (not the session or the orderings, which reach the snapshot
    * itself), walked once for the total (shared objects count once) and
    * one by one. */
  private def ownHeap(s: ServingSnapshot): (Long, Seq[(String, Long)]) = {
    def values(o: AnyRef) = o.getClass.getDeclaredFields.toSeq.map { f =>
      f.setAccessible(true)
      (f, f.get(o))
    }
    val fields = values(s)
      .flatMap { case (f, v) =>
        if (v != null && f.getType.getName.startsWith(classOf[ServingSnapshot].getName + "$")) values(v)
        else Seq((f, v)) }
      .filter { case (f, _) => f.getType.isArray || classOf[java.util.Map[_, _]].isAssignableFrom(f.getType) ||
        classOf[scala.collection.Seq[_]].isAssignableFrom(f.getType) }
      .map { case (f, v) => s"${f.getDeclaringClass.getSimpleName.stripSuffix("$")}.${f.getName}" -> v }
    def est(o: AnyRef) = org.apache.spark.util.SizeEstimator.estimate(o)
    (est(fields.map(_._2).toArray), fields.map { case (n, v) => n -> est(v) })
  }

  private def probe(n: Int, cycles: Int, reads: Int): Unit = {
    val spark = TestSpark.spark
    val dir = TestSpark.tempDir("graft_gate_probe_")
    val rnd = new java.util.SplittableRandom(n.toLong)
    val docs = scala.collection.mutable.LongMap.empty[(String, String, Long)]
    (0 until n).foreach(i => docs(i.toLong) = (text(rnd), Seq("en", "fr", "de")(i % 3), 1000L * i))
    var version = 0
    val engine = new VectorizeEngine(spark, s"$dir/warehouse",
      embeddingProviderOverride = Some(new SiteRecordingProvider(64, s"probe-$n")))
    def register(): DataFrame = {
      val rows = docs.toSeq.sortBy(_._1).map { case (id, (t, l, ts)) =>
        Row(id, t, l, new java.sql.Timestamp(ts)) }
      val path = s"$dir/source/v$version"
      version += 1
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(path)
      val src = spark.read.parquet(path)
      engine.registerSource("documents", src)
      src
    }
    val job = VectorizeJob(jobName = "docs", srcTable = "documents", srcColumns = Seq("text"),
      primaryKey = "doc_id", updateTimeCol = Some("updated_at"),
      model = Model.parseUnsafe("deterministic/hash-64"))
    val src0 = register()
    val (_, backfillMs) = timed(engine.createJob(job))
    val emb = engine.store.read(engine.embTable("docs"))
    val tok = engine.store.read(engine.tokTable("docs"))
    val sizes = Seq(src0, emb, tok).map(GraftColumnBridge.sizeInBytes)
    val threshold = GraftColumnBridge.broadcastThreshold(spark)
    println(f"n=$n backfill_ms=$backfillMs%.0f size_bytes src=${sizes(0)} emb=${sizes(1)} " +
      s"tok=${sizes(2)} max=${sizes.max} threshold=$threshold under_gate=${sizes.max <= threshold}")

    val builds = (0 until 3).map(_ => timed(ServingSnapshot.build(spark, src0, "doc_id", emb, tok)))
    val (heap, byField) = ownHeap(builds.last._1)
    println(f"n=$n snapshot build_ms_median=${median(builds.map(_._2))}%.0f " +
      f"heap_bytes=$heap heap_per_row=${heap.toDouble / n}%.0f " +
      f"heap_over_max_size=${heap.toDouble / sizes.max.toDouble}%.2f")
    println(s"n=$n snapshot heap_bytes_by_field " +
      byField.map { case (f, b) => s"$f=$b" }.mkString(" "))

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    /** `body`'s time, its Spark jobs, and how it came by the serving
      * snapshot. */
    def traced(body: => Unit): (Double, Int, String) = {
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      val (j0, b0, p0) = (jobs.get, engine.servingBuilds.get, engine.servingPatches.get)
      val (_, ms) = timed(body)
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      (ms, jobs.get - j0,
        if (engine.servingPatches.get > p0) "patched" else if (engine.servingBuilds.get > b0) "built"
        else "none")
    }

    def bucketLines(table: String): Seq[String] = {
      val p = java.nio.file.Paths.get(s"$dir/warehouse/$table/_BUCKETS")
      if (!java.nio.file.Files.exists(p)) Nil
      else java.nio.file.Files.readAllLines(p).asScala.toSeq.filterNot(_.startsWith("#"))
    }
    def bucketMaps() = Seq(engine.embTable("docs"), engine.tokTable("docs")).map(bucketLines)

    val queries = Seq("a", "b", "c", "d", "e", "f").map(_ => text(rnd).split(" ").take(2).mkString(" "))
    Seq("on" -> None, "off" -> Some("-1")).foreach { case (mode, conf) =>
      val old = spark.conf.get(Threshold)
      conf.foreach(spark.conf.set(Threshold, _))
      try {
        val batchMs = scala.collection.mutable.ArrayBuffer.empty[Double]
        val firstMs = scala.collection.mutable.ArrayBuffer.empty[Double]
        val laterMs = scala.collection.mutable.ArrayBuffer.empty[Double]
        val cycleMs = scala.collection.mutable.ArrayBuffer.empty[Double]
        var rewrites = 0
        (0 until cycles).foreach { c =>
          val stamp = System.currentTimeMillis()
          val changed = (0 until 50).map(_ => rnd.nextInt(n).toLong).distinct
          changed.foreach(id => docs(id) = (text(rnd), docs(id)._2, stamp))
          register()
          val batch = spark.createDataFrame(changed.map { id =>
            val (t, l, ts) = docs(id)
            Row(id, t, l, new java.sql.Timestamp(ts))
          }.asJava, schema)
          val before = bucketMaps()
          val driver0 = SiteRecordingProvider.onDriver(s"probe-$n")
          val (b, batchJobs, _) = traced(Realtime.processBatch(engine, job, batch))
          val local = if (SiteRecordingProvider.onDriver(s"probe-$n") > driver0) 1 else 0
          val rewrite = bucketMaps() != before
          batchMs += b
          if (rewrite) rewrites += 1
          println(f"n=$n tier=$mode cycle=$c batch_ms=$b%.0f batch_jobs=$batchJobs local=$local " +
            s"rewrite=${if (rewrite) 1 else 0}")
          var cycle = b
          (0 until reads).foreach { r =>
            val q = queries((c * reads + r) % queries.size)
            def read(): Unit =
              if (r % 2 == 0) engine.search("docs", q, 10).collect()
              else engine.hybridSearch("docs", q, 10).collect()
            val ms = if (r > 0) timed(read())._2 else {
              val (ms, readJobs, how) = traced(read())
              println(f"n=$n tier=$mode cycle=$c first_read_ms=$ms%.0f first_read_jobs=$readJobs " +
                s"snapshot=$how")
              ms
            }
            (if (r == 0) firstMs else laterMs) += ms
            cycle += ms
          }
          cycleMs += cycle
        }
        println(f"n=$n tier=$mode batch_ms=${median(batchMs.toSeq)}%.0f " +
          f"first_read_ms=${median(firstMs.toSeq)}%.0f later_read_ms=${median(laterMs.toSeq)}%.0f " +
          f"cycle_ms=${median(cycleMs.toSeq)}%.0f batch_ms_mean=${batchMs.sum / batchMs.size}%.0f " +
          f"batch_ms_max=${batchMs.max}%.0f rewrites=$rewrites/$cycles")
      } finally spark.conf.set(Threshold, old)
    }
    spark.sparkContext.removeSparkListener(counter)
    engine.deleteJob("docs")
  }
}
