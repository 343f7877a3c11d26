package graft

import graft.types._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{GraftColumnBridge, Row}

import scala.jdk.CollectionConverters._

/** Times `Realtime.processBatch`'s two bodies side by side: the deduped
  * batch collected to the driver (`GraftColumnBridge.collectLocal`) and
  * the same batch persisted, each handed to `VectorizeEngine.upsertRows`
  * into a Join-method job over a 5,000-row corpus. The provider sleeps
  * `latency` ms per call, so a batch that makes several provider
  * requests shows whether the local body gives up parallel embedding.
  * Per batch size it runs 8 alternating rounds, drops the first as
  * warm-up, and prints the batch's size estimate (the figure
  * `processBatch`'s gate reads) and each body's median and single times.
  *
  * {{{
  * sbt "Test/runMain graft.LocalPathProbe 50 50 500 2000 3500"
  * }}}
  * Args: provider latency in ms, then batch sizes in rows.
  */
object LocalPathProbe {
  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
    StructField("updated_at", TimestampType)))

  /** Embeds like [[providers.DeterministicHashProvider]] after `ms` ms. */
  final class SlowProvider(ms: Long) extends providers.EmbeddingProvider {
    private val inner = new providers.DeterministicHashProvider(64)
    override def modelDim(model: String): Int = inner.modelDim(model)
    override def generateEmbeddings(model: String, inputs: Seq[String]): Seq[Array[Float]] = {
      Thread.sleep(ms)
      inner.generateEmbeddings(model, inputs)
    }
  }

  def main(args: Array[String]): Unit = {
    val latency = args(0).toLong
    val sizes = args.drop(1).map(_.toInt).toSeq
    val spark = TestSpark.spark
    spark.sparkContext.setLogLevel("ERROR")
    val rnd = new java.util.SplittableRandom(7)
    val words = Array.tabulate(2000)(i => s"w$i")
    def text() = Seq.fill(80)(words(rnd.nextInt(words.length))).mkString(" ")
    val dir = TestSpark.tempDir("graft_localpath_")
    val n0 = 5000
    val srcRows = (0 until n0).map(i => Row(i.toLong, text(), new java.sql.Timestamp(1000L * i)))
    spark.createDataFrame(srcRows.asJava, schema).coalesce(1).write.parquet(s"$dir/src")
    val job = VectorizeJob(jobName = "docs", srcTable = "documents", srcColumns = Seq("text"),
      primaryKey = "doc_id", updateTimeCol = Some("updated_at"),
      model = Model.parseUnsafe("deterministic/hash-64"))
    println(s"latency_ms=$latency one_partition_bytes=${GraftColumnBridge.onePartitionBytes(spark)} " +
      s"broadcast_threshold=${GraftColumnBridge.broadcastThreshold(spark)}")
    var batchNo = 0
    for (n <- sizes) {
      val engine = new VectorizeEngine(spark, s"$dir/wh_$n",
        embeddingProviderOverride = Some(new SlowProvider(latency)))
      engine.registerSource("documents", spark.read.parquet(s"$dir/src"))
      engine.createJob(job)
      val times = Map("local" -> scala.collection.mutable.ArrayBuffer.empty[Double],
        "persisted" -> scala.collection.mutable.ArrayBuffer.empty[Double])
      var est = BigInt(0)
      for (round <- 0 until 8) {
        val order = if (round % 2 == 0) Seq("local", "persisted") else Seq("persisted", "local")
        for (mode <- order) {
          batchNo += 1
          val rows = (0 until n).map { i =>
            Row((batchNo * 7919L + i * 13L) % n0, text(), new java.sql.Timestamp(10000000L + batchNo))
          }
          val path = s"$dir/batch_$batchNo"
          spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(path)
          // processBatch's dedup: the last writer per key
          val deduped = spark.read.parquet(path)
            .withColumn("__rn", row_number().over(Window.partitionBy("doc_id").orderBy(col("updated_at").desc)))
            .filter("__rn = 1").drop("__rn")
          est = GraftColumnBridge.sizeInBytes(deduped)
          val t0 = System.nanoTime()
          if (mode == "local") engine.upsertRows(job, GraftColumnBridge.collectLocal(deduped))
          else {
            deduped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try engine.upsertRows(job, deduped) finally deduped.unpersist()
          }
          if (round > 0) times(mode) += (System.nanoTime() - t0) / 1e6
        }
      }
      def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      def all(mode: String) = times(mode).map(d => f"$d%.0f").mkString(",")
      println(f"rows=$n est_bytes=$est local_ms_median=${median(times("local").toSeq)}%.0f " +
        f"persisted_ms_median=${median(times("persisted").toSeq)}%.0f local=${all("local")} " +
        s"persisted=${all("persisted")}")
    }
  }
}
