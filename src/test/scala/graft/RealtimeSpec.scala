package graft

import graft.streaming.Realtime
import graft.types._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming proof for the realtime embedding path — mirrors the
  * reference's realtime trigger-flow integration test
  * (extension/tests/integration_tests.rs:231-325): inserted and
  * updated rows become searchable after one pass, and at-least-once
  * redelivery does not duplicate or corrupt state (R1/R5/R7:
  * idempotent MERGE is the correctness mechanism).
  */
class RealtimeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[T](v: String)(body: => T): T = {
    val old = spark.conf.get(Threshold)
    spark.conf.set(Threshold, v)
    try body finally spark.conf.set(Threshold, old)
  }

  private def writeBatch(dir: String, name: String, rows: Seq[(Int, String, Long)]): Unit = {
    import spark.implicits._
    rows.map { case (id, c, sec) => (id, c, Fixtures.ts(sec)) }
      .toDF("id", "content", "updated_at")
      .coalesce(1).write.mode("append").parquet(s"$dir/$name")
  }

  test("file-stream CDC: insert + update searchable after AvailableNow; replay-safe") {
    val inputDir = TestSpark.tempDir("graft_rt_in_")
    val checkpoint = TestSpark.tempDir("graft_rt_ckpt_")
    val wh = TestSpark.tempDir("graft_rt_wh_")

    val engine = new VectorizeEngine(spark, wh,
      embeddingProviderOverride = Some(new providers.DeterministicHashProvider(64)))
    // source registered empty at job creation — all rows arrive via CDC
    engine.registerSource("content", Fixtures.contentTable(spark, Seq.empty))
    engine.createJob(VectorizeJob("rt_job", "content", Seq("content"), "id",
      Some("updated_at"), Model.parseUnsafe("deterministic/hash-64")))

    val streamDir = s"$inputDir/stream"
    def stream = spark.readStream
      .schema("id INT, content STRING, updated_at TIMESTAMP")
      .parquet(streamDir)
    def runPass(): Unit = {
      val q = Realtime.runAvailableNow(engine, "rt_job", stream, checkpoint)
      assert(q.awaitTermination(60000), "stream did not finish in time")
    }

    // batch 1: three inserts
    writeBatch(inputDir, "stream", Seq((1, "pizza", 1L), (2, "pencil", 2L), (3, "airplane", 3L)))
    runPass()
    engine.registerSource("content", Fixtures.contentTable(spark)) // table state after inserts
    val food = engine.search("rt_job", "food", limit = 1).collect()
    assert(food.head.getAs[String]("content") == "pizza")
    assert(engine.store.read("_embeddings_rt_job").count() == 3)

    // batch 2: one insert + one update of pkey 1 (same key, new text)
    writeBatch(inputDir, "stream", Seq(
      (4, "apples and apple trees", 10L),
      (1, "a space shuttle carries astronauts to orbit", 20L)))
    runPass()
    engine.registerSource("content", Fixtures.contentTable(spark, Seq(
      (1, "a space shuttle carries astronauts to orbit", 20L),
      (2, "pencil", 2L), (3, "airplane", 3L), (4, "apples and apple trees", 10L))))
    val apples = engine.search("rt_job", "apples", limit = 1).collect()
    assert(apples.head.getAs[Int]("id") == 4)
    val astro = engine.search("rt_job", "astronauts", limit = 1).collect()
    assert(astro.head.getAs[Int]("id") == 1)
    // update MERGEd, not appended: still exactly 4 embedding rows
    assert(engine.store.read("_embeddings_rt_job").count() == 4)

    // same checkpoint, no new files → processes nothing, state unchanged
    runPass()
    assert(engine.store.read("_embeddings_rt_job").count() == 4)

    // at-least-once replay: FRESH checkpoint re-delivers every file;
    // the idempotent MERGE must leave identical state (R5)
    val snapshotBefore = engine.store.read("_embeddings_rt_job")
      .select("pkey", "embeddings").collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    val checkpoint2 = TestSpark.tempDir("graft_rt_ckpt2_")
    val q2 = Realtime.runAvailableNow(engine, "rt_job", stream, checkpoint2)
    assert(q2.awaitTermination(60000), "replay stream did not finish in time")
    val after = engine.store.read("_embeddings_rt_job")
      .select("pkey", "embeddings").collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    assert(after.size == 4, "replay must not duplicate rows")
    // full value equality: a replay that resurrected the PRE-update
    // embedding for an updated key would still pass a keySet check
    assert(after == snapshotBefore, "replay must reproduce identical embeddings")
  }

  test("streaming CDC keeps the ANN index fresh (indexPath hook)") {
    val inputDir = TestSpark.tempDir("graft_rtidx_in_")
    val checkpoint = TestSpark.tempDir("graft_rtidx_ckpt_")
    val wh = TestSpark.tempDir("graft_rtidx_wh_")
    val idxPath = TestSpark.tempDir("graft_rtidx_idx_")
    val engine = new VectorizeEngine(spark, wh,
      embeddingProviderOverride = Some(new providers.DeterministicHashProvider(64)))
    engine.registerSource("content", Fixtures.contentTable(spark, Seq.empty))
    engine.createJob(VectorizeJob("rt_idx", "content", Seq("content"), "id",
      Some("updated_at"), Model.parseUnsafe("deterministic/hash-64")))
    val streamDir = s"$inputDir/stream"
    def stream = spark.readStream
      .schema("id INT, content STRING, updated_at TIMESTAMP")
      .parquet(streamDir)

    // batch 1 seeds the store, then the index builds once
    writeBatch(inputDir, "stream", Seq((1, "pizza", 1L), (2, "pencil", 2L)))
    val q1 = Realtime.runAvailableNow(engine, "rt_idx", stream, checkpoint)
    assert(q1.awaitTermination(60000))
    engine.buildVectorIndex("rt_idx", idxPath)

    // batch 2 streams WITH the maintenance hook: a new row must be
    // probe-able without any rebuild call
    writeBatch(inputDir, "stream", Seq((7, "apples and apple trees", 10L)))
    val q2 = Realtime.runAvailableNow(engine, "rt_idx", stream, checkpoint,
      indexPath = Some(idxPath))
    assert(q2.awaitTermination(60000))
    val hit = engine.probeVectorIndex("rt_idx", idxPath,
      engine.encode("rt_idx", "apples and apple trees"), k = 1).collect()
    assert(hit.length == 1 && hit.head.getAs[Long]("id") == 7L,
      "streamed row must be live in the index")
  }

  test("CDC index maintenance survives restart + replay: blobs equal a fresh build") {
    val inputDir = TestSpark.tempDir("graft_rtix2_in_")
    val checkpoint = TestSpark.tempDir("graft_rtix2_ckpt_")
    val wh = TestSpark.tempDir("graft_rtix2_wh_")
    val idxPath = TestSpark.tempDir("graft_rtix2_idx_")
    val engine = new VectorizeEngine(spark, wh,
      embeddingProviderOverride = Some(new providers.DeterministicHashProvider(64)))
    engine.registerSource("content", Fixtures.contentTable(spark, Seq.empty))
    engine.createJob(VectorizeJob("rt_ix2", "content", Seq("content"), "id",
      Some("updated_at"), Model.parseUnsafe("deterministic/hash-64")))
    val streamDir = s"$inputDir/stream"
    def stream = spark.readStream
      .schema("id INT, content STRING, updated_at TIMESTAMP")
      .parquet(streamDir)

    // seed + initial CREATE INDEX
    writeBatch(inputDir, "stream", Seq((1, "pizza", 1L), (2, "pencil", 2L)))
    assert(Realtime.runAvailableNow(engine, "rt_ix2", stream, checkpoint)
      .awaitTermination(60000))
    engine.buildVectorIndex("rt_ix2", idxPath)

    // a maintained batch lands: new row + an UPDATE of row 1
    writeBatch(inputDir, "stream", Seq((7, "apples and apple trees", 10L),
      (1, "pineapple pizza", 11L)))
    assert(Realtime.runAvailableNow(engine, "rt_ix2", stream, checkpoint,
      indexPath = Some(idxPath)).awaitTermination(60000))

    // kill-and-resume: a crash between an index upsert and its
    // checkpoint commit means the batch REPLAYS on restart — simulate
    // the worst case deterministically by re-running the whole stream
    // from a FRESH checkpoint (every file re-delivered, every index
    // upsert re-applied over the already-maintained graphs), with one
    // genuinely new file landing mid-resume
    writeBatch(inputDir, "stream", Seq((9, "a space shuttle", 20L)))
    val checkpoint2 = TestSpark.tempDir("graft_rtix2_ckpt2_")
    assert(Realtime.runAvailableNow(engine, "rt_ix2", stream, checkpoint2,
      indexPath = Some(idxPath)).awaitTermination(60000))

    // the replayed-and-resumed index must be BYTE-IDENTICAL to a
    // from-scratch build over the final store (the HnswSpec
    // blob-equality property, here across the engine's CDC path)
    val freshPath = TestSpark.tempDir("graft_rtix2_fresh_")
    engine.buildVectorIndex("rt_ix2", freshPath)
    def blobs(p: String): Map[Int, Array[Byte]] =
      spark.read.parquet(s"$p/graph").select("part", "blob").collect()
        .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    val maintained = blobs(idxPath)
    val fresh = blobs(freshPath)
    assert(maintained.keySet == fresh.keySet)
    maintained.foreach { case (p, b) =>
      assert(java.util.Arrays.equals(b, fresh(p)),
        s"partition $p diverged from the fresh build after restart+replay")
    }
    // and the update is live: row 1 now matches its NEW content
    val hit = engine.probeVectorIndex("rt_ix2", idxPath,
      engine.encode("rt_ix2", "pineapple pizza"), k = 1).collect()
    assert(hit.length == 1 && hit.head.getAs[Long]("id") == 1L,
      "replay must serve the post-update vector for the updated key")
  }

  test("an empty batch commits no store version, calls no provider and leaves the index alone") {
    Seq(TableMethod.Join, TableMethod.Append).foreach { method =>
      val provider = new CallCountingProvider
      val engine = new VectorizeEngine(spark, TestSpark.tempDir("graft_rt_empty_"),
        embeddingProviderOverride = Some(provider))
      val job = VectorizeJob("empty_job", "content", Seq("content"), "id",
        Some("updated_at"), Model.parseUnsafe("deterministic/hash-64"), tableMethod = method)
      val empty = Fixtures.contentTable(spark, Seq.empty)
      def versions = Seq(engine.embTable(job.jobName), engine.tokTable(job.jobName),
        engine.appTable(job.jobName)).map(engine.store.currentVersion)
      val idxPath = TestSpark.tempDir("graft_rt_empty_idx_")
      def indexFiles = {
        import scala.jdk.CollectionConverters._
        val root = new java.io.File(idxPath)
        if (!root.exists) Seq.empty[(String, Long)]
        else java.nio.file.Files.walk(root.toPath).iterator().asScala
          .map(p => p.toString -> p.toFile.lastModified).toSeq.sorted
      }
      // fresh: the zero-row backfill leaves every table uncreated, and
      // no index exists yet
      engine.registerSource("content", empty)
      engine.createJob(job)
      val calls0 = CallCountingProvider.calls.get
      Realtime.processBatch(engine, job, empty, indexPath = Some(idxPath))
      assert(versions == Seq(None, None, None), s"$method: an empty batch must not create a table")
      assert(CallCountingProvider.calls.get == calls0, s"$method: an empty batch must not call the provider")
      // existing tables and index keep their version and files
      engine.registerSource("content", Fixtures.contentTable(spark))
      engine.refreshJob(job.jobName)
      engine.buildVectorIndex(job.jobName, idxPath)
      val existing = versions
      val files = indexFiles
      assert(existing.count(_.isDefined) == 2 && files.nonEmpty)
      val calls1 = CallCountingProvider.calls.get
      assert(calls1 > calls0, "the refresh embeds through the counted provider")
      Realtime.processBatch(engine, job, empty, indexPath = Some(idxPath))
      assert(versions == existing, s"$method: an empty batch must not commit a version")
      assert(indexFiles == files, s"$method: an empty batch must not rewrite the index")
      assert(CallCountingProvider.calls.get == calls1, s"$method: an empty batch must not call the provider")
    }
  }

  test("stream ≡ batch: processBatch and refreshJob write identical stores") {
    import spark.implicits._
    val base = Seq((1, "pizza", 1L), (2, "pencil", 2L), (3, "airplane", 3L))
    // an update (1), an insert (4) and two versions of one key (5);
    // future-stamped so the batch refresh sees them as newer than
    // their embeddings' wall-clock write time
    val delta = Seq(
      (1, "apples and apple trees", Fixtures.futureTs(1)),
      (4, "a space shuttle carries astronauts to orbit", Fixtures.futureTs(2)),
      (5, "an early draft of the fifth row", Fixtures.futureTs(3)),
      (5, "the latest version of the fifth row", Fixtures.futureTs(4)))
      .toDF("id", "content", "updated_at")
    val after = Fixtures.contentTable(spark, base.filterNot(_._1 == 1))
      .unionByName(delta.filter(!(col("id") === 5 && col("content").contains("draft"))))
    // the batch is collected to the driver and embedded there under the
    // broadcast gate, and persisted and embedded in tasks with
    // broadcasts off
    val gates = Seq(spark.conf.get(Threshold), "-1")
    for (method <- Seq(TableMethod.Join, TableMethod.Append); threshold <- gates)
    withThreshold(threshold) {
      val path = s"$method threshold=$threshold"
      val job = VectorizeJob("eq_job", "content", Seq("content"), "id",
        Some("updated_at"), Model.parseUnsafe("deterministic/hash-64"),
        tableMethod = method)
      def newEngine(provider: providers.EmbeddingProvider): VectorizeEngine = {
        val e = new VectorizeEngine(spark, TestSpark.tempDir("graft_rteq_wh_"),
          embeddingProviderOverride = Some(provider))
        e.registerSource("content", Fixtures.contentTable(spark, base))
        e.createJob(job)
        e
      }
      val streamed = newEngine(new SiteRecordingProvider(64, path))
      val (driver0, tasks0) = (SiteRecordingProvider.onDriver(path), SiteRecordingProvider.inTasks(path))
      Realtime.processBatch(streamed, job, delta)
      val (driver, tasks) =
        (SiteRecordingProvider.onDriver(path) - driver0, SiteRecordingProvider.inTasks(path) - tasks0)
      assert(if (threshold == "-1") driver == 0 && tasks > 0 else driver > 0 && tasks == 0,
        s"$path: $driver provider calls on the driver, $tasks in tasks")
      val batched = newEngine(new providers.DeterministicHashProvider(64))
      batched.registerSource("content", after)
      batched.refreshJob(job.jobName)

      def served(e: VectorizeEngine) = e.store.read(
          if (method == TableMethod.Append) e.appTable(job.jobName) else e.embTable(job.jobName))
        .collect().map(r => r.getAs[String]("pkey") ->
          r.getAs[scala.collection.Seq[Float]]("embeddings").toSeq).toMap
      def tokens(e: VectorizeEngine) = e.store.read(e.tokTable(job.jobName))
        .collect().map(r => r.getAs[String]("pkey") ->
          (r.getAs[scala.collection.Seq[String]]("search_tokens").toSeq,
            r.getAs[scala.collection.Seq[Int]]("search_token_counts").toSeq)).toMap
      assert(served(streamed).keySet == Set("1", "2", "3", "4", "5"), path)
      assert(served(streamed) == served(batched), s"$path: served vectors differ")
      assert(tokens(streamed) == tokens(batched), s"$path: search tokens differ")
      assert(tokens(streamed)("5")._1.contains("latest") &&
        !tokens(streamed)("5")._1.contains("draft"),
        s"$path: the last writer of key 5 must win")

      if (method == TableMethod.Append) {
        streamed.registerSource("content", after)
        val hits = streamed.hybridSearch(job.jobName, "astronauts", limit = 5).collect()
        assert(hits.exists(r => r.getAs[Int]("id") == 4 && !r.isNullAt(r.fieldIndex("fts_rank"))),
          "the FTS leg must find the streamed append-job row")
      }
    }
  }

  test("embed: local inputs of one provider request are embedded on the driver, " +
      "more in tasks, with the same vectors") {
    import spark.implicits._
    val inputs = (1 to 40).map(i => (s"k$i", s"text number $i about pizza", 4))
      .toDF("record_id", "text", "token_estimate")
    /** The vectors by key, whether they are a local relation, and the
      * provider calls made on the driver and in tasks. */
    def run(df: org.apache.spark.sql.DataFrame, budget: Int, tag: String) = {
      val out = graft.operators.Pipeline.embed(df, new SiteRecordingProvider(64, tag), "hash-64", budget)
      val vectors = out.collect().map(r => r.getString(0) -> r.getSeq[Float](1).toList).toMap
      (vectors, org.apache.spark.sql.GraftColumnBridge.localRelation(out).nonEmpty,
        SiteRecordingProvider.onDriver(tag), SiteRecordingProvider.inTasks(tag))
    }
    val (spread, spreadLocal, spreadDriver, spreadTasks) =
      run(spark.createDataFrame(inputs.rdd, inputs.schema), 160, "embed-rdd")
    assert(!spreadLocal && spreadDriver == 0 && spreadTasks > 0)
    // 40 inputs of 4 tokens: one request under a 160-token budget
    val (one, oneLocal, oneDriver, oneTasks) = run(inputs, 160, "embed-one")
    assert(oneLocal && oneDriver == 1 && oneTasks == 0, (oneLocal, oneDriver, oneTasks))
    // and 8 under a 20-token budget
    val (many, manyLocal, manyDriver, manyTasks) = run(inputs, 20, "embed-many")
    assert(!manyLocal && manyDriver == 0 && manyTasks >= 8, (manyLocal, manyDriver, manyTasks))
    assert(spread.size == 40 && one == spread && many == spread)
  }

  test("processBatch commits the tokens first: a failed tokens write commits no vectors") {
    import spark.implicits._
    val n = 2000
    val wh = TestSpark.tempDir("graft_rt_order_")
    val engine = new VectorizeEngine(spark, wh, embeddingProviderOverride = Some(new PoisonProvider))
    val job = VectorizeJob("order_job", "content", Seq("content"), "id",
      Some("updated_at"), Model.parseUnsafe("deterministic/hash-64"))
    val (emb, tok) = (engine.embTable(job.jobName), engine.tokTable(job.jobName))
    def source(changed: Map[Int, String]) = (1 to n).map { i =>
      changed.get(i).fold((i, s"row $i about pizza", Fixtures.ts(i)))(t => (i, t, Fixtures.futureTs(i)))
    }.toDF("id", "content", "updated_at")
    def batch(changed: Map[Int, String]) = source(changed).filter(col("id").isin(changed.keys.toSeq: _*))
    def bucketsFile(t: String) =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(wh, t, "_BUCKETS")), "UTF-8")
    def tableFiles(t: String) = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(wh, t)).iterator().asScala.map(_.toString).toSet
    }
    def tokensOf(key: String) = engine.store.read(tok).filter(col("pkey") === key)
      .collect().flatMap(_.getAs[scala.collection.Seq[String]]("search_tokens")).toSet
    engine.registerSource("content", source(Map.empty))
    engine.createJob(job)
    // a first batch: both tables get a delta, which later batches rewrite
    Realtime.processBatch(engine, job, batch((1 to 10).map(i => i -> s"zebra $i").toMap))
    assert(Seq(emb, tok).forall(engine.store.readHandle(_).get.delta.nonEmpty))

    // the tokens write fails while reading its old delta: the vectors,
    // already embedded and written, must not commit
    val tokDelta = new java.io.File(s"$wh/$tok/v_${engine.store.readHandle(tok).get.delta.get.version}")
    val part = tokDelta.listFiles().find(_.getName.endsWith(".parquet")).get
    val good = java.nio.file.Files.readAllBytes(part.toPath)
    java.nio.file.Files.write(part.toPath, Array.fill[Byte](good.length)(7))
    val (embVersion, committed) = (engine.store.currentVersion(emb), Seq(emb, tok).map(bucketsFile))
    val quokka0 = PoisonProvider.embedded("quokka")
    intercept[Exception](Realtime.processBatch(engine, job, batch(Map(7 -> "quokka seven"))))
    assert(PoisonProvider.embedded("quokka") > quokka0, "the vectors were embedded alongside")
    assert(engine.store.currentVersion(emb) == embVersion, "the vectors must not commit")
    assert(Seq(emb, tok).map(bucketsFile) == committed, "no _BUCKETS may move")
    val files = Seq(emb, tok).map(tableFiles)
    Thread.sleep(300)
    assert(Seq(emb, tok).map(tableFiles) == files, "no write may run on after the call")
    java.nio.file.Files.write(part.toPath, good)
    // the refresh finds the row stale, and embeds and tokenizes it again
    engine.registerSource("content", source(Map(7 -> "quokka seven")))
    assert(engine.refreshJob(job.jobName) == 1L)
    assert(PoisonProvider.embedded("quokka") > quokka0 + 1)
    assert(tokensOf("7").contains("quokka"), tokensOf("7"))
    assert(engine.hybridSearch(job.jobName, "quokka", 3).collect()
      .exists(r => r.getAs[Int]("id") == 7 && !r.isNullAt(r.fieldIndex("fts_rank"))))

    // a failed embed: the tokens may commit, and have finished on return
    val tokVersion = engine.store.currentVersion(tok).get
    val embCommit = bucketsFile(emb)
    intercept[Exception](Realtime.processBatch(engine, job, batch(Map(9 -> "poison nine"))))
    assert(engine.store.currentVersion(tok).contains(tokVersion + 1), "the tokens commit")
    assert(bucketsFile(emb) == embCommit, "the vectors do not")
    val after = Seq(emb, tok).map(tableFiles)
    Thread.sleep(300)
    assert(Seq(emb, tok).map(tableFiles) == after, "no write may run on after the call")
  }

  test("append-method job: streamed rows land in the wide table and are searchable") {
    val inputDir = TestSpark.tempDir("graft_rta_in_")
    val checkpoint = TestSpark.tempDir("graft_rta_ckpt_")
    val wh = TestSpark.tempDir("graft_rta_wh_")

    val engine = new VectorizeEngine(spark, wh,
      embeddingProviderOverride = Some(new providers.DeterministicHashProvider(64)))
    engine.registerSource("content", Fixtures.contentTable(spark, Seq(
      (1, "pizza", 1L), (2, "pencil", 2L))))
    engine.createJob(VectorizeJob("rta_job", "content", Seq("content"), "id",
      Some("updated_at"), Model.parseUnsafe("deterministic/hash-64"),
      tableMethod = TableMethod.Append))

    val streamDir = s"$inputDir/stream"
    writeBatch(inputDir, "stream", Seq(
      (3, "a space shuttle carries astronauts to orbit", 10L),
      (1, "apples and apple trees", 20L)))
    val q = Realtime.runAvailableNow(engine, "rta_job",
      spark.readStream.schema("id INT, content STRING, updated_at TIMESTAMP")
        .parquet(streamDir), checkpoint)
    assert(q.awaitTermination(60000), "append stream did not finish in time")

    engine.registerSource("content", Fixtures.contentTable(spark, Seq(
      (1, "apples and apple trees", 20L), (2, "pencil", 2L),
      (3, "a space shuttle carries astronauts to orbit", 10L))))
    // streamed insert (3) and update (1) must be served from _append_
    val astro = engine.search("rta_job", "astronauts", limit = 1).collect()
    assert(astro.head.getAs[Int]("id") == 3)
    val apples = engine.search("rta_job", "apples", limit = 1).collect()
    assert(apples.head.getAs[Int]("id") == 1)
    // and no orphan _embeddings_ table was created for an append job
    assert(!engine.store.exists("_embeddings_rta_job"))
  }

  test("windowed counts and sessionize run in streaming mode (smoke)") {
    import spark.implicits._
    val events = Seq(
      (1, Fixtures.ts(0), 1.0), (1, Fixtures.ts(60), 2.0),
      (2, Fixtures.ts(4000), 3.0)).toDF("user_id", "ts", "value")
    val windowed = Realtime.windowedEventCounts(events, "ts", "user_id", "1 hour")
    assert(windowed.count() == 2)
    val sessions = Realtime.sessionize(events, "ts", "user_id")
    assert(sessions.count() == 2)
  }

  test("streaming interval enrich equals the batch result (one code path)") {
    import spark.implicits._
    val purchases = (0 until 60).map(i =>
      (i % 5, Fixtures.ts(i * 120L), i.toDouble)).toDF("user_id", "ts", "amount")
    val clicks = (0 until 80).map(i =>
      (i % 5, Fixtures.ts(i * 90L), s"src$i")).toDF("user_id", "ts", "page")
    val dir = TestSpark.tempDir("graft_ie_")
    purchases.coalesce(1).write.mode("overwrite").parquet(s"$dir/p")
    clicks.coalesce(1).write.mode("overwrite").parquet(s"$dir/c")
    val pStream = spark.readStream
      .schema("user_id INT, ts TIMESTAMP, amount DOUBLE").parquet(s"$dir/p")
    val cStream = spark.readStream
      .schema("user_id INT, ts TIMESTAMP, page STRING").parquet(s"$dir/c")
    val q = Realtime.intervalEnrich(pStream, cStream, "user_id", "ts",
        lookback = "10 minutes")
      .writeStream.format("memory").queryName("ie_eq")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val got = canon(spark.table("ie_eq"))
    val want = canon(Realtime.intervalEnrich(purchases, clicks, "user_id", "ts",
      lookback = "10 minutes"))
    assert(want.nonEmpty && got == want,
      "streaming and batch interval enrich must agree")
  }

  test("streaming first-seen dedup drops duplicates across batches and restarts") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_sdd_")
    val cp = TestSpark.tempDir("graft_sdd_cp_")
    def write(rows: Seq[(Long, String, java.sql.Timestamp)], f: String): Unit =
      rows.toDF("doc_id", "text", "ts")
        .coalesce(1).write.mode("append").parquet(s"$dir/docs")
    def stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .parquet(s"$dir/docs")
    val out = TestSpark.tempDir("graft_sdd_out_")
    // file sink (memory sink cannot recover from a checkpoint): each
    // run APPENDS only post-checkpoint rows; reads below are cumulative
    def runOnce(): Unit = {
      val q = Realtime.streamDedup(stream, "text", tsCol = Some("ts"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    def survivors(): Seq[Long] = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // batch 1: 10 distinct docs + one IN-BATCH duplicate (id 20 = doc 0's
    // text, later arrival by event time)
    val base = (0L until 10L).map(i => (i, s"doc text $i", Fixtures.ts(i * 10)))
    write(base :+ ((20L, "doc text 0", Fixtures.ts(500))), "1")
    runOnce()
    assert(survivors() == (0L until 10L),
      "in-batch duplicate must be dropped")
    // batch 2 AFTER a restart from the checkpoint: one cross-run
    // duplicate (id 21 = doc 1's text) and one genuinely new doc
    write(Seq((21L, "doc text 1", Fixtures.ts(600)),
      (22L, "doc text NEW", Fixtures.ts(610))), "2")
    runOnce()
    assert(survivors() == ((0L until 10L) :+ 22L),
      "checkpointed state must drop the cross-run duplicate, keep the new doc")
  }

  test("streaming incremental ingest dedups against the store, replay-safe") {
    // the exact-dedup stream: the one-stage list [exact], whose history
    // is the signature index's norm_hash column
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_sii_")
    val cp = TestSpark.tempDir("graft_sii_cp_")
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_sii_store_"))
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(s"$dir/docs")
    def runOnce(store: graft.sources.ParquetStore, cp: String): Unit =
      assert(Realtime.streamIngestPipeline(store, "docs", "sigs",
          spark.readStream.schema("doc_id LONG, text STRING")
            .parquet(s"$dir/docs"), "doc_id", "text", cp,
          stages = Seq(Realtime.ExactDedup))
        .awaitTermination(60000), "exact stream did not finish in time")
    def stored(store: graft.sources.ParquetStore): Seq[Long] = store.read("docs")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // run 1: 5 distinct docs + an in-batch duplicate (id 20 = doc 0)
    write((0L until 5L).map(i => i -> s"doc text $i") :+ (20L -> "doc text 0"))
    runOnce(store, cp)
    assert(stored(store) == (0L until 5L), "in-batch duplicate must not ingest")
    assert(store.exists("sigs"), "the survivors must seed the signature index")
    // run 2 restarts from the checkpoint: a cross-RUN duplicate (id 21
    // = doc 1's text, folded case/whitespace) and one new doc — the
    // store, not watermarked state, carries the history
    write(Seq(21L -> "  DOC   text 1 ", 22L -> "doc text NEW"))
    runOnce(store, cp)
    assert(stored(store) == ((0L until 5L) :+ 22L),
      "store history must drop the re-crawl, keep the new doc")
    // replay the WHOLE input against a FRESH checkpoint (the
    // crash-after-merge worst case: everything redelivered): dedup
    // against the store drops every already-ingested row
    runOnce(store, TestSpark.tempDir("graft_sii_cp2_"))
    assert(stored(store) == ((0L until 5L) :+ 22L),
      "full redelivery must be a no-op against the accumulated store")
    // a docs table without an index self-heals at START: the index is
    // built from it, so the whole delivery dedups against it
    val bare = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_sii_bare_"))
    bare.merge("docs", store.read("docs"), "doc_id")
    runOnce(bare, TestSpark.tempDir("graft_sii_cp3_"))
    assert(bare.exists("sigs") && stored(bare) == stored(store),
      "a self-healed index must drop every already-held row")
  }

  test("streaming ingest: an empty delivery audits an all-zero funnel and commits no table") {
    // one body serves every delivery: an empty one runs the chain, its
    // funnel reads all zeros, and the last-stage count of 0 guards the
    // docs and signature MERGEs
    import spark.implicits._
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_sie_store_"))
    val corpus = Seq(1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "volcanic basalt columns rise over the bay").toDF("doc_id", "text")
    store.merge("docs", corpus, "doc_id")
    graft.operators.Dedup.buildNearDupStore(store, "sigs", corpus,
      "doc_id", "text")
    val versions = Seq("docs", "sigs").map(store.currentVersion)
    val src = TestSpark.tempDir("graft_sie_src_")
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val q = Realtime.streamIngestPipeline(store, "docs", "sigs",
      spark.readStream.schema("doc_id LONG, text STRING").parquet(src),
      "doc_id", "text", TestSpark.tempDir("graft_sie_cp_"),
      auditTable = Some("audit"))
    assert(q.awaitTermination(120000), "empty delivery did not finish")
    assert(q.recentProgress.exists(p => p.batchId == 0 && p.numInputRows == 0),
      "the empty file must be delivered as a micro-batch")
    val audit = store.read("audit").collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("stage"),
        r.getAs[Long]("n_docs"))).toSet
    assert(audit == Set((0L, "0_batch", 0L), (0L, "1_exact_dedup", 0L),
      (0L, "2_blocklist", 0L), (0L, "4_near_dedup", 0L)),
      s"an empty delivery audits 0_batch and every stage at 0: $audit")
    assert(Seq("docs", "sigs").map(store.currentVersion) == versions,
      "an empty delivery must commit no docs or signature version")
  }

  test("streaming ingest: a stage list out of chain order, or with a repeat, fails the START") {
    import Realtime._
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_sio_store_"))
    def startWith(stages: Seq[IngestStage]) = Realtime.streamIngestPipeline(
      store, "docs", "sigs", spark.readStream.schema("doc_id LONG, text STRING")
        .parquet(TestSpark.tempDir("graft_sio_src_")), "doc_id", "text",
      TestSpark.tempDir("graft_sio_cp_"), stages = stages)
    for (bad <- Seq(Seq(Blocklist(), ExactDedup),
        Seq(ExactDedup, ExactDedup, NearDedup),
        Seq(ExactDedup, QualityGate(0.1), Blocklist(Seq("x"))))) {
      val e = intercept[IllegalArgumentException](startWith(bad))
      assert(e.getMessage.contains("are not a chain"), e.getMessage)
    }
    // near-dup first, or no stage at all, is not a chain either
    intercept[IllegalArgumentException](startWith(Seq(NearDedup, ExactDedup)))
    intercept[IllegalArgumentException](startWith(Nil))
    assert(!store.exists("docs") && !store.exists("sigs"),
      "a rejected list must write nothing")
  }

  test("streaming ingest pipeline equals the batch ingestion chain; restart + replay safe") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.functions.GraftFunctions
    val dir = "/root/testdata/sf0.01"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang")
    val existing = docs.filter(col("doc_id") < Queries.incrementalSplit)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // the batch chain over one snapshot, using the SAME public ops and
    // the SAME constants as the base chain of Queries.ingestSpecs
    def batchChain(corpus: org.apache.spark.sql.DataFrame,
        batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val kept1 = Dedup.incrementalExact(corpus, batch, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
      val b1 = batch.join(kept1, Seq("doc_id"), "left_semi")
      val b2 = b1.filter(GraftFunctions.blocklistClean(col("text"),
        Queries.blocklistTerms))
      val kept2 = Dedup.incrementalNearDup(corpus, b2, "doc_id", "text",
        shingleN = Queries.minHashShingleN, numHashes = Queries.minHashNumHashes,
        bands = Queries.minHashBands, threshold = Queries.minHashThreshold)
      b2.join(kept2.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_semi")
    }
    def mkStore() = {
      val s = new graft.sources.ParquetStore(
        spark, TestSpark.tempDir("graft_sip_store_"))
      s.merge("docs", existing, "doc_id")
      Dedup.buildNearDupStore(s, "sigs", existing, "doc_id", "text",
        shingleN = Queries.minHashShingleN,
        numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
      s
    }
    def runOnce(store: graft.sources.ParquetStore, src: String, cp: String): Unit = {
      val q = Realtime.streamIngestPipeline(store, "docs", "sigs",
        spark.readStream.schema("doc_id LONG, text STRING, lang STRING")
          .parquet(src),
        "doc_id", "text", cp,
        stages = Seq(Realtime.ExactDedup,
          Realtime.Blocklist(Queries.blocklistTerms),
          Realtime.NearDedup),
        shingleN = Queries.minHashShingleN,
        numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
        threshold = Queries.minHashThreshold)
      q.awaitTermination(120000)
    }
    def streamed(store: graft.sources.ParquetStore): Set[Long] =
      ids(store.read("docs").filter(col("doc_id") >= Queries.incrementalSplit))

    // 1) one micro-batch == the registered pipeline_ingest chain exactly
    val batch = docs.filter(col("doc_id") >= Queries.incrementalSplit)
    val expectFull = ids(Queries.ingestSpecs("").survivors(spark, dir))
    val s1 = mkStore()
    val src1 = TestSpark.tempDir("graft_sip_src1_")
    batch.coalesce(1).write.mode("append").parquet(src1)
    runOnce(s1, src1, TestSpark.tempDir("graft_sip_cp1_"))
    assert(streamed(s1) == expectFull,
      "one streamed micro-batch must equal the batch ingestion chain")

    // 2) chunked with a checkpointed RESTART == the batch chain applied
    // snapshot-by-snapshot (survivors of chunk 1 are chunk 2's corpus)
    val c1 = batch.filter(col("doc_id") < 375)
    val c2 = batch.filter(col("doc_id") >= 375)
    val keep1 = batchChain(existing, c1)
    val keep2 = batchChain(existing.unionByName(keep1), c2)
    val expectSeq = ids(keep1) ++ ids(keep2)
    val s2 = mkStore()
    val src2 = TestSpark.tempDir("graft_sip_src2_")
    val cp2 = TestSpark.tempDir("graft_sip_cp2_")
    c1.coalesce(1).write.mode("append").parquet(src2)
    runOnce(s2, src2, cp2)
    c2.coalesce(1).write.mode("append").parquet(src2)
    runOnce(s2, src2, cp2) // restart from the checkpoint
    assert(streamed(s2) == expectSeq,
      "chunked streaming must equal the sequential snapshot batch chain")

    // 3) full redelivery against a FRESH checkpoint: no-op (the
    // crash-after-merge worst case)
    runOnce(s2, src2, TestSpark.tempDir("graft_sip_cp3_"))
    assert(streamed(s2) == expectSeq,
      "full redelivery must be a no-op against the accumulated store")
  }

  test("streaming ingest first batch on a FRESH store: within-batch rules only") {
    import spark.implicits._
    // no docs table, no signature table — the haveSigs=false path,
    // which must still run the within-batch exact and near-dup rules
    // off the shared per-batch signature frame
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_sif_store_"))
    val src = TestSpark.tempDir("graft_sif_src_")
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 1
      (3L, "completely different words about volcanic basalt columns"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta")) // exact dup of 1
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val q = Realtime.streamIngestPipeline(store, "docs", "sigs",
      spark.readStream.schema("doc_id LONG, text STRING").parquet(src),
      "doc_id", "text", TestSpark.tempDir("graft_sif_cp_"),
      shingleN = 2, threshold = 0.5)
    q.awaitTermination(120000)
    val got = store.read("docs").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L),
      s"first batch must drop the exact dup (4) and the near-dup (2): $got")
    assert(store.exists("sigs"), "survivor signatures must seed the index")
    // the seeded index now serves the second batch's corpus-side rules
    Seq((5L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val q2 = Realtime.streamIngestPipeline(store, "docs", "sigs",
      spark.readStream.schema("doc_id LONG, text STRING").parquet(src),
      "doc_id", "text", TestSpark.tempDir("graft_sif_cp2_"),
      shingleN = 2, threshold = 0.5)
    q2.awaitTermination(120000)
    assert(store.read("docs").select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L),
      "second batch's exact dup of a stored row must drop via the index")
  }

  test("streaming ingest quality gate mirrors the batch composition; bootstrap invariant") {
    import graft.operators.Dedup
    import graft.functions.GraftFunctions
    val dir = "/root/testdata/sf0.01"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang")
    val existing = docs.filter(col("doc_id") < Queries.incrementalSplit)
    val batch = docs.filter(col("doc_id") >= Queries.incrementalSplit)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // a data-derived threshold that provably prunes some rows and
    // keeps others (the median batch quality)
    val minQ = batch.select(GraftFunctions.qualityScore(col("text")).as("q"))
      .stat.approxQuantile("q", Array(0.5), 0.0).head
    // the batch chain WITH the gate between blocklist and near-dup —
    // same shared expressions, same constants
    def batchChainQ(corpus: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val kept1 = Dedup.incrementalExact(corpus, b, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
      val b1 = b.join(kept1, Seq("doc_id"), "left_semi")
      val b2 = b1.filter(GraftFunctions.blocklistClean(col("text"),
        Queries.blocklistTerms))
        .filter(GraftFunctions.qualityScore(col("text")) >= minQ)
      val kept2 = Dedup.incrementalNearDup(corpus, b2, "doc_id", "text",
        shingleN = Queries.minHashShingleN, numHashes = Queries.minHashNumHashes,
        bands = Queries.minHashBands, threshold = Queries.minHashThreshold)
      b2.join(kept2.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_semi")
    }
    val expect = ids(batchChainQ(existing, batch))
    assert(expect.nonEmpty && expect.size < ids(batch).size,
      "gate threshold must keep some rows and prune others")
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_sipq_store_"))
    store.merge("docs", existing, "doc_id")
    Dedup.buildNearDupStore(store, "sigs", existing, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    val src = TestSpark.tempDir("graft_sipq_src_")
    batch.coalesce(1).write.mode("append").parquet(src)
    def runOnce(cp: String): Unit = {
      val q = Realtime.streamIngestPipeline(store, "docs", "sigs",
        spark.readStream.schema("doc_id LONG, text STRING, lang STRING")
          .parquet(src),
        "doc_id", "text", cp,
        stages = Seq(Realtime.ExactDedup,
          Realtime.Blocklist(Queries.blocklistTerms),
          Realtime.QualityGate(minQ),
          Realtime.NearDedup),
        shingleN = Queries.minHashShingleN,
        numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
        threshold = Queries.minHashThreshold)
      q.awaitTermination(120000)
    }
    runOnce(TestSpark.tempDir("graft_sipq_cp1_"))
    def streamed(): Set[Long] =
      ids(store.read("docs").filter(col("doc_id") >= Queries.incrementalSplit))
    assert(streamed() == expect,
      "streamed quality-gated chain must equal the batch composition")
    // redelivery against a fresh checkpoint stays a no-op with the gate
    runOnce(TestSpark.tempDir("graft_sipq_cp2_"))
    assert(streamed() == expect, "redelivery must remain a no-op")
    // bootstrap invariant: a docs table without its signature index
    // (pre-seeded corpus, or our own first-batch crash window between
    // the docs MERGE and the signature MERGE) must self-heal at
    // stream START — the index is rebuilt from the docs table, so the
    // dedup gates see the existing corpus instead of silently
    // ingesting duplicates of all of it
    val bare = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_sipq_bare_"))
    bare.merge("docs", existing, "doc_id")
    val q2 = Realtime.streamIngestPipeline(bare, "docs", "sigs",
      spark.readStream.schema("doc_id LONG, text STRING, lang STRING")
        .parquet(src),
      "doc_id", "text", TestSpark.tempDir("graft_sipq_cpbare_"),
      stages = Seq(Realtime.ExactDedup,
        Realtime.Blocklist(Queries.blocklistTerms),
        Realtime.QualityGate(minQ),
        Realtime.NearDedup),
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
      threshold = Queries.minHashThreshold)
    q2.awaitTermination(120000)
    assert(bare.exists("sigs"), "stream start must bootstrap the index")
    val bareIds = ids(bare.read("docs")
      .filter(col("doc_id") >= Queries.incrementalSplit))
    assert(bareIds == expect,
      "self-healed store must dedup against the pre-seeded corpus " +
        "exactly like an explicitly bootstrapped one")
  }

  test("streaming ingest decontamination gate drops benchmark leakage at ingest") {
    import graft.operators.Dedup
    val dir = "/root/testdata/sf0.01"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang")
    // held-out "benchmark" = the id tail the generator plants near-dup
    // pairs across (the decontam_neardup boundary), so the gate has
    // real leakage to catch
    val bench = docs.filter(col("doc_id") >= Queries.decontamNearDupSplit)
    val existing = docs.filter(col("doc_id") < Queries.incrementalSplit)
    val batch = docs.filter(col("doc_id") >= Queries.incrementalSplit &&
      col("doc_id") < Queries.decontamNearDupSplit)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // batch twin: the r12 chain + the decontam stage between blocklist
    // and near-dup, via the STORELESS sweep (DecontamSpec pins
    // gate ≡ storeless)
    val kept1 = Dedup.incrementalExact(existing, batch, "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
    val b1 = batch.join(kept1, Seq("doc_id"), "left_semi")
      .filter(graft.functions.GraftFunctions.blocklistClean(col("text"),
        Queries.blocklistTerms))
    val contaminated = Dedup.contaminatedDocsNearDup(b1, bench, "doc_id",
        "text", shingleN = Queries.minHashShingleN,
        numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
        threshold = Queries.minHashThreshold)
      .select(col("id").as("doc_id"))
    val b1d = b1.join(contaminated, Seq("doc_id"), "left_anti")
    val kept2 = Dedup.incrementalNearDup(existing, b1d, "doc_id", "text",
      shingleN = Queries.minHashShingleN, numHashes = Queries.minHashNumHashes,
      bands = Queries.minHashBands, threshold = Queries.minHashThreshold)
    val expect = ids(b1d.join(kept2.withColumnRenamed("id", "doc_id"),
      Seq("doc_id"), "left_semi"))
    val flagged = ids(batch) -- ids(b1d)
    assert(flagged.nonEmpty, "fixture must plant real benchmark leakage")
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_sid_store_"))
    store.merge("docs", existing, "doc_id")
    Dedup.buildNearDupStore(store, "sigs", existing, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    Dedup.buildNearDupStore(store, "bench_sigs", bench, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    val src = TestSpark.tempDir("graft_sid_src_")
    batch.coalesce(1).write.mode("append").parquet(src)
    val q = Realtime.streamIngestPipeline(store, "docs", "sigs",
      spark.readStream.schema("doc_id LONG, text STRING, lang STRING")
        .parquet(src),
      "doc_id", "text", TestSpark.tempDir("graft_sid_cp_"),
      stages = Seq(Realtime.ExactDedup,
        Realtime.Blocklist(Queries.blocklistTerms),
        Realtime.DecontamGate("bench_sigs"),
        Realtime.NearDedup),
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
      threshold = Queries.minHashThreshold,
      auditTable = Some("audit"))
    q.awaitTermination(120000)
    val streamed = ids(store.read("docs")
      .filter(col("doc_id") >= Queries.incrementalSplit))
    assert(streamed == expect,
      "streamed decontam-gated chain must equal the batch composition")
    assert(streamed.intersect(flagged).isEmpty,
      "no flagged leakage row may reach the corpus")
    // the per-micro-batch funnel audit must equal the batch twin's
    // stage counts (the streaming sibling of ingest_audit_decontam)
    def auditMap(): Map[String, Long] = store.read("audit").collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_docs"))).toMap
    val a1 = auditMap()
    assert(a1 == Map(
      "0_batch" -> ids(batch).size.toLong,
      "1_exact_dedup" -> kept1.count(),
      "2_blocklist" -> b1.count(),
      "3_decontam" -> b1d.count(),
      "4_near_dedup" -> expect.size.toLong),
      s"streamed funnel must equal the batch composition's stage counts: $a1")
    // full redelivery (fresh checkpoint): docs stay a no-op, and the
    // replayed batch OVERWRITES its own audit rows — last-delivery-
    // wins. The exact gate only catches rows that actually INGESTED
    // (dropped rows never entered the index), so earlier stages still
    // show survivors; the no-op shows at the funnel's END: every
    // redelivered row is re-dropped at SOME stage and zero reach the
    // corpus, while the delivery size stays visible
    val q1b = Realtime.streamIngestPipeline(store, "docs", "sigs",
      spark.readStream.schema("doc_id LONG, text STRING, lang STRING")
        .parquet(src),
      "doc_id", "text", TestSpark.tempDir("graft_sid_cp1b_"),
      stages = Seq(Realtime.ExactDedup,
        Realtime.Blocklist(Queries.blocklistTerms),
        Realtime.DecontamGate("bench_sigs"),
        Realtime.NearDedup),
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
      threshold = Queries.minHashThreshold,
      auditTable = Some("audit"))
    q1b.awaitTermination(120000)
    assert(ids(store.read("docs")
        .filter(col("doc_id") >= Queries.incrementalSplit)) == expect,
      "redelivery must remain a no-op on the corpus")
    val a2 = auditMap()
    assert(a2("0_batch") == ids(batch).size.toLong &&
      a2("1_exact_dedup") == kept1.count() - expect.size &&
      a2("4_near_dedup") == 0L,
      s"replayed batch must overwrite its funnel with the no-op view: $a2")
    // the gate's own threshold knob (ADVICE r13): decontamThreshold
    // decouples the gate from the dedup threshold — here a LOOSE gate
    // (0.999) with the dedup threshold unchanged lets the planted
    // leakage rows (near- but not exact-duplicates of benchmark items)
    // through, while the dedup stages still run at minHashThreshold.
    // Batch twin recomputed with the same split thresholds.
    val looseT = 0.999
    val contaminatedLoose = Dedup.contaminatedDocsNearDup(b1, bench, "doc_id",
        "text", shingleN = Queries.minHashShingleN,
        numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
        threshold = looseT)
      .select(col("id").as("doc_id"))
    val b1dLoose = b1.join(contaminatedLoose, Seq("doc_id"), "left_anti")
    val kept2Loose = Dedup.incrementalNearDup(existing, b1dLoose, "doc_id",
      "text", shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
      threshold = Queries.minHashThreshold)
    val expectLoose = ids(b1dLoose.join(kept2Loose
      .withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_semi"))
    val storeLoose = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_sid_store2_"))
    storeLoose.merge("docs", existing, "doc_id")
    Dedup.buildNearDupStore(storeLoose, "sigs", existing, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    Dedup.buildNearDupStore(storeLoose, "bench_sigs", bench, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    val qLoose = Realtime.streamIngestPipeline(storeLoose, "docs", "sigs",
      spark.readStream.schema("doc_id LONG, text STRING, lang STRING")
        .parquet(src),
      "doc_id", "text", TestSpark.tempDir("graft_sid_cp2_"),
      stages = Seq(Realtime.ExactDedup,
        Realtime.Blocklist(Queries.blocklistTerms),
        Realtime.DecontamGate("bench_sigs", Some(looseT)),
        Realtime.NearDedup),
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
      threshold = Queries.minHashThreshold)
    qLoose.awaitTermination(120000)
    val streamedLoose = ids(storeLoose.read("docs")
      .filter(col("doc_id") >= Queries.incrementalSplit))
    assert(streamedLoose == expectLoose,
      "decontamThreshold-split chain must equal its batch composition")
    assert(streamedLoose.intersect(flagged).nonEmpty,
      "loosening ONLY the gate must let default-threshold leakage " +
        "rows reach the corpus — otherwise the knob never reached the gate")
    // a missing benchmark index must fail at stream start, loudly
    val e = intercept[IllegalArgumentException] {
      Realtime.streamIngestPipeline(store, "docs", "sigs",
        spark.readStream.schema("doc_id LONG, text STRING, lang STRING")
          .parquet(src),
        "doc_id", "text", TestSpark.tempDir("graft_sid_cpbad_"),
        stages = Seq(Realtime.ExactDedup,
          Realtime.Blocklist(),
          Realtime.DecontamGate("missing_sigs"),
          Realtime.NearDedup))
    }
    assert(e.getMessage.contains("benchmark signature table"),
      s"must name the missing benchmark index: ${e.getMessage}")
    // a benchmark index banded with a DIFFERENT geometry than the
    // pipeline must also fail at stream start — probing it would
    // silently match near-nothing (silent eval leakage)
    Dedup.buildNearDupStore(store, "bench_sigs_g8", bench, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = 8)
    val eg = intercept[IllegalArgumentException] {
      Realtime.streamIngestPipeline(store, "docs", "sigs",
        spark.readStream.schema("doc_id LONG, text STRING, lang STRING")
          .parquet(src),
        "doc_id", "text", TestSpark.tempDir("graft_sid_cpgeo_"),
        stages = Seq(Realtime.ExactDedup,
          Realtime.Blocklist(),
          Realtime.DecontamGate("bench_sigs_g8"),
          Realtime.NearDedup),
        shingleN = Queries.minHashShingleN,
        numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    }
    assert(eg.getMessage.contains("bands"),
      s"must name the drifted geometry parameter: ${eg.getMessage}")
  }

  test("streaming semantic decontamination gate drops cosine leakage at ingest") {
    import spark.implicits._
    import graft.operators.Dedup
    // hand-planted 4-dim vectors (the DecontamSpec semantic fixture
    // convention): batch doc 103 is a meaning-preserving rewrite of
    // benchmark vector 900 (cosine ≈ 0.999 — no shared text, so only
    // the semantic rung can catch it); 104 is its NEGATION (cosine
    // ≈ -0.999, must NOT flag); 101/102 are orthogonal to the bench
    val existing = Seq(
      (1L, "existing corpus row one", Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, "existing corpus row two", Seq(0.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("doc_id", "text", "vec")
    val batch = Seq(
      (101L, "fresh batch row alpha", Seq(0.1f, 0.9f, 0.0f, 0.0f)),
      (102L, "fresh batch row beta", Seq(0.0f, 0.0f, 0.9f, 0.1f)),
      (103L, "leaked paraphrase of a benchmark item",
        Seq(0.95f, 0.05f, 0.0f, 0.0f)),
      (104L, "negated echo of a benchmark item",
        Seq(-0.95f, -0.05f, 0.0f, 0.0f)))
      .toDF("doc_id", "text", "vec")
    val benchVecs = Seq(
      (900L, Seq(1.0f, 0.1f, 0.0f, 0.0f)),
      (901L, Seq(0.0f, 0.0f, 0.0f, 1.0f))).toDF("doc_id", "vec")
    // batch twin: the same drop via the already-oracled storeless op
    val twin = Dedup.contaminatedDocsSemantic(batch, benchVecs, "doc_id",
        "vec", dim = 4, threshold = 0.9)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(twin == Set(103L), s"fixture must flag exactly the paraphrase: $twin")
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_sem_store_"))
    store.merge("docs", existing, "doc_id")
    Dedup.buildNearDupStore(store, "sigs", existing, "doc_id", "text")
    store.merge("bench_vecs", benchVecs.select("doc_id", "vec"), "doc_id")
    val src = TestSpark.tempDir("graft_sem_src_")
    batch.coalesce(1).write.mode("append").parquet(src)
    val q = Realtime.streamIngestPipeline(store, "docs", "sigs",
      spark.readStream.schema("doc_id LONG, text STRING, vec ARRAY<FLOAT>")
        .parquet(src),
      "doc_id", "text", TestSpark.tempDir("graft_sem_cp_"),
      stages = Seq(Realtime.ExactDedup,
        Realtime.Blocklist(),
        Realtime.SemanticGate("bench_vecs", "vec",
          dim = 4, threshold = 0.9),
        Realtime.NearDedup),
      auditTable = Some("audit"))
    q.awaitTermination(120000)
    val streamed = store.read("docs")
      .filter(col("doc_id") >= 100L).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(streamed == Set(101L, 102L, 104L),
      s"gate must drop exactly the paraphrase, keep the negation: $streamed")
    // the ingested rows keep their embedding column (the docs table is
    // the pipeline's corpus of record, vectors included)
    assert(store.read("docs").columns.contains("vec"))
    val a = store.read("audit").collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_docs"))).toMap
    assert(a == Map("0_batch" -> 4L, "1_exact_dedup" -> 4L,
      "2_blocklist" -> 4L, "3s_semantic" -> 3L, "4_near_dedup" -> 3L),
      s"funnel must localize the drop at the semantic rung: $a")
    // a missing benchmark vector table fails at stream start
    val e = intercept[IllegalArgumentException] {
      Realtime.streamIngestPipeline(store, "docs", "sigs",
        spark.readStream.schema("doc_id LONG, text STRING, vec ARRAY<FLOAT>")
          .parquet(src),
        "doc_id", "text", TestSpark.tempDir("graft_sem_cpbad_"),
        stages = Seq(Realtime.ExactDedup,
          Realtime.Blocklist(),
          Realtime.SemanticGate("no_such_vecs", "vec",
            dim = 4, threshold = 0.9),
          Realtime.NearDedup))
    }
    assert(e.getMessage.contains("benchmark vector table"), e.getMessage)
    // a stream without the embedding column fails at stream start
    val e2 = intercept[IllegalArgumentException] {
      Realtime.streamIngestPipeline(store, "docs", "sigs",
        spark.readStream.schema("doc_id LONG, text STRING")
          .parquet(TestSpark.tempDir("graft_sem_novec_")),
        "doc_id", "text", TestSpark.tempDir("graft_sem_cpbad2_"),
        stages = Seq(Realtime.ExactDedup,
          Realtime.Blocklist(),
          Realtime.SemanticGate("bench_vecs", "vec",
            dim = 4, threshold = 0.9),
          Realtime.NearDedup))
    }
    assert(e2.getMessage.contains("no 'vec' column"), e2.getMessage)
  }

  test("streaming percentile gate mirrors batch sample_percentile; staleness guards") {
    import graft.operators.{Dedup, QualityCal}
    val dir = "/root/testdata/sf0.01"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang")
    val existing = docs.filter(col("doc_id") < Queries.incrementalSplit)
    val batch = docs.filter(col("doc_id") >= Queries.incrementalSplit)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_spg_store_"))
    store.merge("docs", existing, "doc_id")
    Dedup.buildNearDupStore(store, "sigs", existing, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    // the calibration snapshot: the full-corpus CDF — the same frame
    // the batch sample_percentile's per-doc pct derives from
    QualityCal.buildPercentileStore(store, "quality_cdf", docs, "lang",
      "text", snapshot = "corpus-v1")
    // batch twin: exact dedup → the ORACLED batch sampler's pass set
    // (sample_percentile gates pct >= Queries.percentileGate against
    // the same snapshot) → near-dup
    val passDf = SparkEntry.queries("sample_percentile")(spark, dir)
      .select(col("doc_id"))
    val kept1 = Dedup.incrementalExact(existing, batch, "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
    val b1 = batch.join(kept1, Seq("doc_id"), "left_semi")
    val b2p = b1.join(passDf, Seq("doc_id"), "left_semi")
    val kept2 = Dedup.incrementalNearDup(existing, b2p, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
      threshold = Queries.minHashThreshold)
    val expect = ids(b2p.join(kept2.withColumnRenamed("id", "doc_id"),
      Seq("doc_id"), "left_semi"))
    assert(expect.nonEmpty && expect.size < ids(b1).size,
      "the gate must keep some rows and prune others")
    val src = TestSpark.tempDir("graft_spg_src_")
    batch.coalesce(1).write.mode("append").parquet(src)
    val q = Realtime.streamIngestPipeline(store, "docs", "sigs",
      spark.readStream.schema("doc_id LONG, text STRING, lang STRING")
        .parquet(src),
      "doc_id", "text", TestSpark.tempDir("graft_spg_cp_"),
      stages = Seq(Realtime.ExactDedup,
        Realtime.Blocklist(),
        Realtime.PercentileGate("quality_cdf",
          Queries.percentileGate, expectSnapshot = Some("corpus-v1")),
        Realtime.NearDedup),
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
      threshold = Queries.minHashThreshold,
      auditTable = Some("audit"))
    q.awaitTermination(120000)
    val streamed = ids(store.read("docs")
      .filter(col("doc_id") >= Queries.incrementalSplit))
    assert(streamed == expect,
      "streamed percentile-gated chain must equal the batch " +
        "sample_percentile composition at the same CDF snapshot")
    // the funnel localizes the drop at the gate's own stage, in
    // pipeline-positional lexical order (2_ < 2p_ < 2q_)
    val a = store.read("audit").collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_docs"))).toMap
    assert(a == Map(
      "0_batch" -> ids(batch).size.toLong,
      "1_exact_dedup" -> ids(b1).size.toLong,
      "2_blocklist" -> ids(b1).size.toLong,
      "2p_percentile" -> ids(b2p).size.toLong,
      "4_near_dedup" -> expect.size.toLong),
      s"funnel must localize the drop at the percentile stage: $a")
    // staleness/provenance guards, all at stream START:
    def startWith(g: Realtime.PercentileGate,
        schema: String = "doc_id LONG, text STRING, lang STRING") =
      Realtime.streamIngestPipeline(store, "docs", "sigs",
        spark.readStream.schema(schema).parquet(src),
        "doc_id", "text", TestSpark.tempDir("graft_spg_cpbad_"),
        stages = Seq(Realtime.ExactDedup,
          Realtime.Blocklist(),
          g,
          Realtime.NearDedup))
    val e1 = intercept[IllegalArgumentException] {
      startWith(Realtime.PercentileGate("no_such_cdf", 0.8))
    }
    assert(e1.getMessage.contains("quality CDF table"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      startWith(Realtime.PercentileGate("quality_cdf", 0.8,
        expectSnapshot = Some("corpus-v2")))
    }
    assert(e2.getMessage.contains("snapshot"), e2.getMessage)
    // a CDF table of unknown provenance (no recorded scorer version)
    store.overwrite("raw_cdf", store.read("quality_cdf"))
    val e3 = intercept[IllegalStateException] {
      startWith(Realtime.PercentileGate("raw_cdf", 0.8))
    }
    assert(e3.getMessage.contains("scorer version"), e3.getMessage)
    // a stream without the language column fails before any work
    val e4 = intercept[IllegalArgumentException] {
      startWith(Realtime.PercentileGate("quality_cdf", 0.8),
        schema = "doc_id LONG, text STRING")
    }
    assert(e4.getMessage.contains("no 'lang' column"), e4.getMessage)
  }

  test("streaming ingest with EVERY gate on equals the composed batch chain") {
    // the flagship configuration pin: exact dedup → blocklist →
    // percentile gate → raw quality gate → shingle decontamination →
    // SEMANTIC decontamination → near-dup, all against one store, one
    // stream, one funnel — each stage's drop must equal the batch
    // composition built from the already-pinned per-gate operators.
    import graft.operators.{Dedup, QualityCal}
    val dir = "/root/testdata/sf0.01"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang")
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
    val existing = docs.filter(col("doc_id") < Queries.incrementalSplit)
    val batch = docs.filter(col("doc_id") >= Queries.incrementalSplit &&
      col("doc_id") < Queries.decontamNearDupSplit)
    val benchDocs = docs.filter(col("doc_id") >= Queries.decontamNearDupSplit)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // store: corpus + its signature index, benchmark signature index,
    // benchmark vectors, quality-CDF calibration snapshot
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_all_store_"))
    store.merge("docs", existing, "doc_id")
    Dedup.buildNearDupStore(store, "sigs", existing, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    Dedup.buildNearDupStore(store, "bench_sigs", benchDocs, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    store.merge("bench_vecs",
      benchDocs.select(col("doc_id"), col("embedding")), "doc_id")
    QualityCal.buildPercentileStore(store, "quality_cdf",
      spark.read.parquet(s"$dir/documents.parquet"), "lang", "text",
      snapshot = "corpus-v1")
    // batch twin, stage by stage, from the already-pinned operators
    val kept1 = Dedup.incrementalExact(existing, batch, "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
    val b1 = batch.join(kept1, Seq("doc_id"), "left_semi")
    val b2 = b1.filter(graft.functions.GraftFunctions
      .blocklistClean(col("text"), Queries.blocklistTerms))
    // gate at the median, not the production 0.8: the planted
    // decontam/semantic leakage rows must SURVIVE the percentile stage
    // so the later stages have real work — the 0.8 path is pinned
    // against sample_percentile in the dedicated gate test above
    val gateP = 0.5
    val passDf = SparkEntry.queries("quality_percentile")(spark, dir)
      .filter(col("pct") >= gateP).select(col("doc_id"))
    val b2p = b2.join(passDf, Seq("doc_id"), "left_semi")
    val contaminated = Dedup.contaminatedDocsNearDup(b2p, benchDocs,
        "doc_id", "text", shingleN = Queries.minHashShingleN,
        numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
        threshold = Queries.minHashThreshold)
      .select(col("id").as("doc_id"))
    val b2d = b2p.join(contaminated, Seq("doc_id"), "left_anti")
    // the ladder's shared semantic flag construction (vec_id ≡ doc_id)
    val semFlagged = Queries.ladderSemanticFlags(spark, dir)
    val b2s = b2d.join(semFlagged, Seq("doc_id"), "left_anti")
    val kept2 = Dedup.incrementalNearDup(existing, b2s, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
      threshold = Queries.minHashThreshold)
    val expect = ids(b2s.join(kept2.withColumnRenamed("id", "doc_id"),
      Seq("doc_id"), "left_semi"))
    // the fixture must exercise the gates this test exists to compose
    assert(ids(b2p).size < ids(b2).size, "percentile gate must prune")
    assert(ids(b2d).size < ids(b2p).size, "decontam gate must prune")
    assert(expect.nonEmpty, "survivors must be nonempty")
    val src = TestSpark.tempDir("graft_all_src_")
    batch.coalesce(1).write.mode("append").parquet(src)
    val q = Realtime.streamIngestPipeline(store, "docs", "sigs",
      spark.readStream
        .schema("doc_id LONG, text STRING, lang STRING, embedding ARRAY<FLOAT>")
        .parquet(src),
      "doc_id", "text", TestSpark.tempDir("graft_all_cp_"),
      stages = Seq(Realtime.ExactDedup,
        Realtime.Blocklist(Queries.blocklistTerms),
        Realtime.PercentileGate("quality_cdf",
          gateP, expectSnapshot = Some("corpus-v1")),
        Realtime.QualityGate(0.0), // present (funnel row) but never pruning
        Realtime.DecontamGate("bench_sigs"),
        Realtime.SemanticGate("bench_vecs", "embedding",
          dim = 64, threshold = Queries.decontamSemThreshold,
          bits = Queries.decontamSemBits, bands = Queries.decontamSemBands),
        Realtime.NearDedup),
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
      threshold = Queries.minHashThreshold,
      auditTable = Some("audit"))
    // the heaviest streaming test in the suite: under a full
    // parallel `sbt test` the every-gate batch has blown a 180 s
    // bound once (docs committed, the trailing audit MERGE still in
    // flight — the read below then fails as a baffling missing
    // table). Assert the wait so a timeout names itself, with
    // full-suite-load headroom.
    assert(q.awaitTermination(360000),
      "every-gate stream did not finish in time")
    val streamed = ids(store.read("docs")
      .filter(col("doc_id") >= Queries.incrementalSplit))
    assert(streamed == expect,
      "the all-gates streamed chain must equal the composed batch chain")
    // the seven-stage funnel equals the twin's per-stage counts
    val a = store.read("audit").collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_docs"))).toMap
    assert(a == Map(
      "0_batch" -> ids(batch).size.toLong,
      "1_exact_dedup" -> ids(b1).size.toLong,
      "2_blocklist" -> ids(b2).size.toLong,
      "2p_percentile" -> ids(b2p).size.toLong,
      "2q_quality" -> ids(b2p).size.toLong,
      "3_decontam" -> ids(b2d).size.toLong,
      "3s_semantic" -> ids(b2s).size.toLong,
      "4_near_dedup" -> expect.size.toLong),
      s"all-gates funnel must equal the batch twin's stage counts: $a")
  }

  test("streaming boilerplate GATE mirrors the batch pipeline_ingest_boil " +
      "composition (r18)") {
    // the composed pin: exact dedup → blocklist → BOILERPLATE CLEAN
    // (text swap + all-boilerplate drop) → percentile gate scored on
    // the CLEANED text → shingle decontam signing the CLEANED text →
    // near-dup shingling the CLEANED text. The batch twin is the
    // PRODUCTION entry itself (Queries.ingestSpecs("_boil")
    // — the frame behind the DuckDB-oracled pipeline_ingest_boil /
    // ingest_audit_boil), so stream, batch chain, and oracle are one
    // triangle.
    import graft.operators.{Dedup, QualityCal}
    val dir = "/root/testdata/sf0.01"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang")
    val existing = docs.filter(col("doc_id") < Queries.incrementalSplit)
    val batch = docs.filter(col("doc_id") >= Queries.incrementalSplit &&
      col("doc_id") < Queries.decontamNearDupSplit)
    val benchDocs = docs.filter(col("doc_id") >= Queries.decontamNearDupSplit)
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_boilgate_store_"))
    store.merge("docs", existing, "doc_id")
    Dedup.buildNearDupStore(store, "sigs", existing, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    Dedup.buildNearDupStore(store, "bench_sigs", benchDocs, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    // span-df store over the FULL corpus (the calibration-cadence
    // build pipeline_ingest_boil probes) + the raw-corpus CDF
    Dedup.buildSpanDfStore(store, "span_df", docs, "doc_id", "text",
      spanTokens = Queries.spanDedupTokens)
    QualityCal.buildPercentileStore(store, "quality_cdf", docs,
      "lang", "text", snapshot = "corpus-v1")
    // the production batch twin: survivors + their CLEANED text
    val tagged = Queries.ingestSpecs("_boil").tagged(spark, dir)._2
    val expect = tagged.filter(col("__s4"))
      .select(col("doc_id"), col("__ct")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(expect.nonEmpty, "survivors must be nonempty")
    // non-vacuity: the clean must actually CHANGE some surviving
    // doc's text, or the composition pin proves nothing
    val changedSurvivor = tagged.filter(col("__s4") && col("__ct") =!= col("text"))
    assert(changedSurvivor.limit(1).count() == 1,
      "at least one survivor's text must differ from raw after cleaning")
    val src = TestSpark.tempDir("graft_boilgate_src_")
    batch.coalesce(1).write.mode("append").parquet(src)
    val cp = TestSpark.tempDir("graft_boilgate_cp_")
    def start() = Realtime.streamIngestPipeline(store, "docs", "sigs",
      spark.readStream
        .schema("doc_id LONG, text STRING, lang STRING").parquet(src),
      "doc_id", "text", cp,
      stages = Seq(Realtime.ExactDedup,
        Realtime.Blocklist(Queries.blocklistTerms),
        Realtime.BoilerplateGate("span_df",
          spanTokens = Queries.spanDedupTokens,
          minDocs = Queries.boilerplateMinDocs),
        Realtime.PercentileGate("quality_cdf",
          Queries.ingestGatePct, expectSnapshot = Some("corpus-v1")),
        Realtime.DecontamGate("bench_sigs"),
        Realtime.NearDedup),
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
      threshold = Queries.minHashThreshold,
      auditTable = Some("audit"))
    assert(start().awaitTermination(360000),
      "boil-gated stream did not finish in time")
    // survivors AND their shipped text equal the batch composition —
    // the docs table must carry the CLEANED text
    val streamed = store.read("docs")
      .filter(col("doc_id") >= Queries.incrementalSplit)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == expect,
      "the boil-gated stream must ship the batch composition's cleaned text")
    // the funnel's boil stage equals the batch tags' count
    def tagCount(c: String): Long = tagged.filter(col(c)).count()
    val a = store.read("audit").collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_docs"))).toMap
    assert(a == Map(
      "0_batch" -> batch.count(),
      "1_exact_dedup" -> tagCount("__s1"),
      "2_blocklist" -> tagCount("__s2"),
      "2b_boilerplate" -> tagCount("__s2b"),
      "2p_percentile" -> tagCount("__s2p"),
      "3_decontam" -> tagCount("__s3"),
      "4_near_dedup" -> tagCount("__s4")),
      s"boil funnel must equal the batch twin's stage counts: $a")
    // the same rows delivered again under the same checkpoint: the
    // signature index hashes the RAW text, the text exact dedup hashes,
    // so exact drops every survivor — also those whose clean changed
    // their text — and no row passes every stage again. Exact passes
    // the first delivery's exact survivors less its final survivors
    batch.coalesce(1).write.mode("append").parquet(src)
    assert(start().awaitTermination(360000),
      "boil-gated replay did not finish in time")
    val audit = store.read("audit")
    val last = audit.agg(org.apache.spark.sql.functions.max("batch_id")).head().getLong(0)
    val replay = audit.filter(col("batch_id") === last).collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_docs"))).toMap
    assert(last > 0 && replay("0_batch") == a("0_batch") &&
      replay("1_exact_dedup") == a("1_exact_dedup") - a("4_near_dedup") &&
      replay("4_near_dedup") == 0L, s"replayed boil funnel: $replay")
  }

  test("language-ID routed percentile gate mirrors the batch " +
      "withDetectedLanguage composition; drifted model geometry fails " +
      "the START (r19)") {
    // the r18 verdict's #4: production corpora don't arrive labeled —
    // the stream DETECTS each row's language with the persisted
    // trained model and the percentile gate keys its CDF lookup on
    // the detected column. The batch twin is the same chain composed
    // by hand through withDetectedLanguage with the SAME model, so
    // routed gating can never drift from the oracled batch arithmetic
    // (TextSpec separately pins scorer ≡ relational detect).
    import graft.operators.{Dedup, LangId, QualityCal}
    import graft.functions.GraftFunctions
    val dir = "/root/testdata/sf0.01"
    val docsAll = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text") // PRODUCTION SHAPE: no lang column
    val model = Queries.langIdModel(spark, dir)
    val scorer = LangId.scorer(model)
    val detectedAll = GraftFunctions.withDetectedLanguage(
      docsAll, "text", scorer = scorer)
    val existing = detectedAll.filter(col("doc_id") < Queries.incrementalSplit)
    val batch = docsAll.filter(col("doc_id") >= Queries.incrementalSplit &&
      col("doc_id") < Queries.decontamNearDupSplit)
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_lidgate_store_"))
    store.merge("docs", existing, "doc_id")
    Dedup.buildNearDupStore(store, "sigs", existing, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    // calibration CDF keyed on DETECTED language — the routed gate's
    // production calibration convention (detect, then calibrate on
    // what detection says, so serving and calibration agree)
    QualityCal.buildPercentileStore(store, "quality_cdf", detectedAll,
      "lang", "text", snapshot = "corpus-v1")
    LangId.saveModel(store, "langid_model", model)
    // the saved artifact round-trips exactly (raw doubles)
    val loaded = LangId.loadModel(store, "langid_model", "spec")
    assert(loaded.langs.toSeq == model.langs.toSeq &&
      loaded.hexLen == model.hexLen && loaded.n == model.n &&
      loaded.intercepts.toSeq == model.intercepts.toSeq &&
      loaded.weights.map(_.toSeq).toSeq == model.weights.map(_.toSeq).toSeq,
      "saveModel/loadModel must round-trip the model exactly")
    // batch twin, composed by hand with the same model + snapshot
    val cdf = QualityCal.loadCdf(store, "quality_cdf", "spec",
      expectSnapshot = Some("corpus-v1"))
    val b1 = batch.join(
      Dedup.incrementalExactStored(store, "sigs", batch, "doc_id", "text")
        .withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_semi")
    val b2 = b1.filter(GraftFunctions.blocklistClean(col("text"),
      Queries.blocklistTerms))
    val b2l = GraftFunctions.withDetectedLanguage(b2, "text", scorer = scorer)
    val b2p = QualityCal.withPercentile(b2l, cdf, "lang",
        GraftFunctions.qualityScore(col("text")))
      .filter(col("pct").isNull || col("pct") >= Queries.ingestGatePct)
      .select(b2l.columns.map(col): _*)
    val kept2 = Dedup.incrementalNearDupStored(store, "sigs", b2p,
      "doc_id", "text", shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
      threshold = Queries.minHashThreshold)
    val expect = b2p.join(kept2.withColumnRenamed("id", "doc_id"),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(expect.nonEmpty, "routed survivors must be nonempty")
    assert(expect.values.toSet.size > 1,
      "detection must route to more than one language or the per-lang " +
        "gate is vacuous")
    val src = TestSpark.tempDir("graft_lidgate_src_")
    batch.coalesce(1).write.mode("append").parquet(src)
    val q = Realtime.streamIngestPipeline(store, "docs", "sigs",
      spark.readStream.schema("doc_id LONG, text STRING").parquet(src),
      "doc_id", "text", TestSpark.tempDir("graft_lidgate_cp_"),
      stages = Seq(Realtime.ExactDedup,
        Realtime.Blocklist(Queries.blocklistTerms),
        Realtime.PercentileGate("quality_cdf",
          Queries.ingestGatePct, expectSnapshot = Some("corpus-v1")),
        Realtime.NearDedup),
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
      threshold = Queries.minHashThreshold,
      langIdGate = Some(Realtime.LangIdGate("langid_model")),
      auditTable = Some("audit"))
    assert(q.awaitTermination(360000),
      "routed-gate stream did not finish in time")
    // survivors AND their detected language equal the batch twin —
    // the docs table must carry the routed column
    val streamed = store.read("docs")
      .filter(col("doc_id") >= Queries.incrementalSplit)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == expect,
      "the routed stream must ship the batch composition's survivors " +
        "with their detected language")
    // the funnel's percentile stage equals the twin's survivor count
    val a = store.read("audit").collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_docs"))).toMap
    assert(a("2p_percentile") == b2p.count(),
      s"routed-gate funnel must equal the batch twin's stage count: $a")
    // geometry drift fails the .start(): an artifact whose properties
    // say hexLen=4 over hexLen=3 weight rows must be rejected before any
    // batch runs (the signature indexes' store-property discipline)
    store.overwrite("langid_bad",
      store.read("langid_model"),
      Map(LangId.MetaFn -> LangId.FnVersion,
        LangId.MetaLangs -> model.langs.mkString(","),
        LangId.MetaHexLen -> "4",
        LangId.MetaN -> model.n.toString,
        LangId.MetaScale -> LangId.ServingScale.toString,
        LangId.MetaFeat -> model.featKind))
    val e = intercept[IllegalArgumentException] {
      Realtime.streamIngestPipeline(store, "docs", "sigs",
        spark.readStream.schema("doc_id LONG, text STRING").parquet(src),
        "doc_id", "text", TestSpark.tempDir("graft_lidgate_cp2_"),
        stages = Seq(Realtime.ExactDedup,
          Realtime.Blocklist(),
          Realtime.PercentileGate("quality_cdf",
            Queries.ingestGatePct),
          Realtime.NearDedup),
        langIdGate = Some(Realtime.LangIdGate("langid_bad")))
    }
    assert(e.getMessage.contains("geometry drift"),
      s"drifted model geometry must fail the START: ${e.getMessage}")
    // a missing artifact fails the START too
    val e2 = intercept[IllegalArgumentException] {
      Realtime.streamIngestPipeline(store, "docs", "sigs",
        spark.readStream.schema("doc_id LONG, text STRING").parquet(src),
        "doc_id", "text", TestSpark.tempDir("graft_lidgate_cp3_"),
        stages = Seq(Realtime.ExactDedup,
          Realtime.Blocklist(),
          Realtime.PercentileGate("quality_cdf",
            Queries.ingestGatePct),
          Realtime.NearDedup),
        langIdGate = Some(Realtime.LangIdGate("langid_absent")))
    }
    assert(e2.getMessage.contains("does not exist"))
    // langCol colliding with the pipeline's text column would silently
    // overwrite every survivor's text with its language code (review
    // r19) — fails the START
    val e4 = intercept[IllegalArgumentException] {
      Realtime.streamIngestPipeline(store, "docs", "sigs",
        spark.readStream.schema("doc_id LONG, text STRING").parquet(src),
        "doc_id", "text", TestSpark.tempDir("graft_lidgate_cp5_"),
        langCol = "text", langIdGate = Some(Realtime.LangIdGate("langid_model")))
    }
    assert(e4.getMessage.contains("must be distinct"), e4.getMessage)
    // langCol colliding with the semantic gate's VECTOR column would
    // overwrite the embeddings with a language string and throw inside
    // the first micro-batch's cosine probe (review r19) — fails the
    // START (the semantic gate's own table/column checks run first,
    // so the fixture carries a real bench-vec table and emb column)
    store.merge("bench_vecs",
      spark.range(1).select(col("id").as("doc_id"),
        array((0 until 64).map(_ => lit(0.1f)): _*).as("emb")), "doc_id")
    val e4b = intercept[IllegalArgumentException] {
      Realtime.streamIngestPipeline(store, "docs", "sigs",
        spark.readStream
          .schema("doc_id LONG, text STRING, emb ARRAY<FLOAT>").parquet(src),
        "doc_id", "text", TestSpark.tempDir("graft_lidgate_cp5b_"),
        stages = Seq(Realtime.ExactDedup,
          Realtime.Blocklist(),
          Realtime.SemanticGate("bench_vecs", "emb",
            dim = 64),
          Realtime.NearDedup),
        langCol = "emb", langIdGate = Some(Realtime.LangIdGate("langid_model")))
    }
    assert(e4b.getMessage.contains("must be distinct"), e4b.getMessage)
    // the symmetric collision (review r19): the semantic gate's vecCol
    // naming the pipeline's TEXT column passes the presence checks and
    // would read a string as an embedding in the first micro-batch —
    // fails the START
    val e4c = intercept[IllegalArgumentException] {
      Realtime.streamIngestPipeline(store, "docs", "sigs",
        spark.readStream.schema("doc_id LONG, text STRING").parquet(src),
        "doc_id", "text", TestSpark.tempDir("graft_lidgate_cp5c_"),
        stages = Seq(Realtime.ExactDedup,
          Realtime.Blocklist(),
          Realtime.SemanticGate("bench_vecs", "text",
            dim = 64),
          Realtime.NearDedup))
    }
    assert(e4c.getMessage.contains("must be distinct"), e4c.getMessage)
    // langCol == the percentile lookup's reserved output (produced
    // column, absent from the stream schema) — fails the START, not
    // the first micro-batch (review r19)
    val e5 = intercept[IllegalArgumentException] {
      Realtime.streamIngestPipeline(store, "docs", "sigs",
        spark.readStream.schema("doc_id LONG, text STRING").parquet(src),
        "doc_id", "text", TestSpark.tempDir("graft_lidgate_cp6_"),
        stages = Seq(Realtime.ExactDedup,
          Realtime.Blocklist(),
          Realtime.PercentileGate("quality_cdf",
            Queries.ingestGatePct),
          Realtime.NearDedup),
        langCol = "pct", langIdGate = Some(Realtime.LangIdGate("langid_model")))
    }
    assert(e5.getMessage.toLowerCase.contains("pct"))
    // a one-language artifact is rejected by the loader (review r19:
    // the argmax would be vacuous and every per-language gate
    // downstream degenerates silently)
    import LangId.{MetaFn, MetaLangs, MetaHexLen, MetaN, MetaScale}
    store.overwrite("langid_one",
      store.read("langid_model").filter(col("lang") === model.langs.head),
      Map(MetaFn -> LangId.FnVersion, MetaLangs -> model.langs.head,
        MetaHexLen -> model.hexLen.toString, MetaN -> model.n.toString,
        MetaScale -> LangId.ServingScale.toString,
        LangId.MetaFeat -> model.featKind))
    val e6 = intercept[IllegalArgumentException] {
      LangId.loadModel(store, "langid_one", "spec")
    }
    assert(e6.getMessage.contains(">= 2 classes"))
  }

  test("boil + routed stream ≡ the batch routed+boil composition: " +
      "detection reads the CLEANED text that ships (r19)") {
    // the full production configuration — BoilerplateGate + LangIdGate
    // + PercentileGate + decontamination — against the DuckDB-oracled
    // batch twin (Queries.ingestSpecs("_routed_boil"), the frame behind
    // pipeline_ingest_routed_boil / ingest_audit_routed_boil), so
    // stream, batch chain, and oracle are one triangle. The pin's
    // point is the composition ORDER: detection runs AFTER the span
    // clean, on the text later stages consume — a nav-bar in language
    // A wrapping a body in language B must route (and gate) as B. The
    // sf0.01 corpus diverges naturally (raw-vs-cleaned detection
    // flips for some gate-input docs), asserted below so the pin can
    // never go vacuous under a data refresh.
    import graft.operators.{Dedup, LangId, QualityCal}
    import graft.functions.GraftFunctions
    val dir = "/root/testdata/sf0.01"
    val docsRaw = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text") // PRODUCTION SHAPE: no lang column
    val model = Queries.langIdModel(spark, dir)
    val existing = docsRaw.filter(col("doc_id") < Queries.incrementalSplit)
    val batch = docsRaw.filter(col("doc_id") >= Queries.incrementalSplit &&
      col("doc_id") < Queries.decontamNearDupSplit)
    val benchDocs = docsRaw.filter(
      col("doc_id") >= Queries.decontamNearDupSplit)
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_rbgate_store_"))
    store.merge("docs", existing, "doc_id")
    Dedup.buildNearDupStore(store, "sigs", existing, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    Dedup.buildNearDupStore(store, "bench_sigs", benchDocs, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    // the session fixtures' conventions exactly: span-df over the
    // FULL corpus; calibration CDF keyed on DETECTED-over-raw
    // language (the routed snapshot's build — calibrate on what
    // detection says of the calibration corpus)
    Dedup.buildSpanDfStore(store, "span_df", docsRaw, "doc_id", "text",
      spanTokens = Queries.spanDedupTokens)
    QualityCal.buildPercentileStore(store, "quality_cdf",
      GraftFunctions.withDetectedLanguage(docsRaw, "text",
        scorer = LangId.scorer(model)),
      "lang", "text", snapshot = "corpus-v1")
    LangId.saveModel(store, "langid_model", model)
    // the batch twin IS the production entry
    val tagged = Queries.ingestSpecs("_routed_boil").tagged(spark, dir)._2
      .localCheckpoint(false)
    val expect = tagged.filter(col("__s4"))
      .select(col("doc_id"), col("__ct"), col("__dl")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(expect.nonEmpty, "routed+boil survivors must be nonempty")
    // non-vacuity 1: cleaning must CHANGE some surviving doc's text
    assert(tagged.filter(col("__s4") && col("__ct") =!= col("text"))
      .limit(1).count() == 1,
      "at least one survivor's text must differ from raw after cleaning")
    // non-vacuity 2: detection must DIVERGE raw-vs-cleaned for some
    // gate-input doc, or this pin cannot tell the composition order
    // (detect-then-clean would produce identical routing)
    val gateIn = tagged.filter(col("__s2b"))
    val rawDet = LangId.detect(gateIn.select(col("doc_id"), col("text")),
        model, "doc_id", "text")
      .select(col("id").as("doc_id"), col("detected").as("__rl"))
    assert(gateIn.join(rawDet, Seq("doc_id"))
      .filter(col("__dl") =!= col("__rl")).limit(1).count() == 1,
      "raw-vs-cleaned detection must diverge for >= 1 gate-input doc " +
        "or the order pin is vacuous")
    val src = TestSpark.tempDir("graft_rbgate_src_")
    batch.coalesce(1).write.mode("append").parquet(src)
    val q = Realtime.streamIngestPipeline(store, "docs", "sigs",
      spark.readStream.schema("doc_id LONG, text STRING").parquet(src),
      "doc_id", "text", TestSpark.tempDir("graft_rbgate_cp_"),
      stages = Seq(Realtime.ExactDedup,
        Realtime.Blocklist(Queries.blocklistTerms),
        Realtime.BoilerplateGate("span_df",
          spanTokens = Queries.spanDedupTokens,
          minDocs = Queries.boilerplateMinDocs),
        Realtime.PercentileGate("quality_cdf",
          Queries.ingestGatePct, expectSnapshot = Some("corpus-v1")),
        Realtime.DecontamGate("bench_sigs"),
        Realtime.NearDedup),
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
      threshold = Queries.minHashThreshold,
      langIdGate = Some(Realtime.LangIdGate("langid_model")),
      curriculumExport = Some(Realtime.CurriculumExport("staged",
        "quality_cdf", nShards = 4, seed = "ep0",
        expectSnapshot = Some("corpus-v1"))),
      auditTable = Some("audit"))
    assert(q.awaitTermination(360000),
      "routed+boil stream did not finish in time")
    // survivors ship the CLEANED text AND its detection — doc-for-doc
    val streamed = store.read("docs")
      .filter(col("doc_id") >= Queries.incrementalSplit)
      .select(col("doc_id"), col("text"), col("lang")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(streamed == expect,
      "the routed+boil stream must ship the batch composition's cleaned " +
        "text and detected language")
    // the seven-stage funnel equals the batch tags' counts
    def tagCount(c: String): Long = tagged.filter(col(c)).count()
    val a = store.read("audit").collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_docs"))).toMap
    assert(a == Map(
      "0_batch" -> batch.count(),
      "1_exact_dedup" -> tagCount("__s1"),
      "2_blocklist" -> tagCount("__s2"),
      "2b_boilerplate" -> tagCount("__s2b"),
      "2p_percentile" -> tagCount("__s2p"),
      "3_decontam" -> tagCount("__s3"),
      "4_near_dedup" -> tagCount("__s4")),
      s"routed+boil funnel must equal the batch twin's stage counts: $a")
    // curriculum staging under the full configuration (r19): the
    // leveling of the text that SHIPS — levels key on the DETECTED
    // language and score the CLEANED text, against the same shared
    // snapshot the gate probes (exercising the shared-CDF-cache path
    // under routing). Only streamed survivors stage (no backfill ran).
    val expLevels = QualityCal.withPercentile(
        tagged.filter(col("__s4"))
          .select(col("doc_id"), col("__dl").as("lang"),
            col("__ct").as("text")),
        QualityCal.loadCdf(store, "quality_cdf", "spec",
          expectSnapshot = Some("corpus-v1")),
        "lang", GraftFunctions.qualityScore(col("text")),
        pctCol = "level")
      .select(col("doc_id"), col("level")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val staged = store.read("staged")
      .select(col("doc_id"), col("level")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(staged == expLevels,
      "curriculum staging must level the CLEANED text under the " +
        "DETECTED language")
  }

  /** Runs `body`, which runs streams to termination, and asserts that
    * the session's CacheManager and persisted RDDs then hold nothing the
    * streams persisted: the stream-lifetime frames are released when a
    * query terminates (on the listener bus, so the check polls). */
  private def leavesNothingPersisted(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    body
    def left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    val deadline = System.currentTimeMillis() + 30000
    while ((!cache.isEmpty || left.nonEmpty) &&
        System.currentTimeMillis() < deadline) { System.gc(); Thread.sleep(200) }
    assert(cache.isEmpty, "a terminated stream left a frame in the CacheManager")
    assert(left.isEmpty, s"a terminated stream left persisted RDDs: ${left.keySet}")
  }

  /** The everything-on fixture ([[EverythingOnStream.fixture]]). */
  private def everythingOnFixture(prefix: String)
      : (graft.sources.ParquetStore, org.apache.spark.sql.DataFrame) =
    EverythingOnStream.fixture(spark, prefix)

  /** Streams `batch` as one micro-batch through every gate
    * streamIngestPipeline offers, with the audit on. */
  private def everythingOnStream(store: graft.sources.ParquetStore,
      batch: org.apache.spark.sql.DataFrame, prefix: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val src = TestSpark.tempDir(prefix + "src_")
    EverythingOnStream.deliver(batch, src)
    EverythingOnStream.start(spark, store, src,
      TestSpark.tempDir(prefix + "cp_"))
  }

  test("EVERYTHING-ON micro-batch with the audit on: the funnel is ONE " +
      "aggregate — exact Spark job count") {
    // the stream evaluates the chain as one tagged frame and takes every
    // audit count from one funnel aggregate; a count() per stage would
    // show up here as extra jobs. Only the micro-batch's jobs count:
    // they carry the query's id as the streaming local property, while
    // the start-time checks run on the caller's thread.
    val (store, batch) = everythingOnFixture("graft_jobs_")
    val sc = spark.sparkContext
    val byQuery = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties)
          .flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(byQuery.add)
    }
    org.apache.spark.ListenerDrain.drain(sc)
    sc.addSparkListener(l)
    val q = try {
      val q = everythingOnStream(store, batch, "graft_jobs_")
      assert(q.awaitTermination(360000),
        "everything-on stream did not finish in time")
      org.apache.spark.ListenerDrain.drain(sc)
      q
    } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    val jobs = byQuery.asScala.count(_ == q.id.toString)
    assert(store.read("audit").count() == 8, "the funnel must be written")
    // 78, the same in every run measured (79 while an isEmpty probe
    // ran before the chain, 83 while every store MERGE rewrote its
    // touched buckets; a MERGE now writes one delta); the filter
    // cascade with a count() per audited stage ran 97 for this batch
    assert(jobs == 78, s"everything-on micro-batch ran $jobs Spark jobs")
  }

  test("EVERYTHING-ON stream (boil + routed + percentile + shingle " +
      "decontam + SEMANTIC + near-dup) ≡ the oracled batch twin (r20)") {
    // the r19 verdict's #6: the semantic rung was never enabled
    // simultaneously with routing + boil — this is the full-ladder-
    // at-ingest posture (every gate the pipeline offers, composed at
    // once) pinned against Queries.ingestSpecs("_routed_boil_sem"),
    // the frame behind the DuckDB-oracled
    // pipeline_ingest_routed_boil_sem / ingest_audit_routed_boil_sem
    // entries — stream, batch chain, and oracle are one triangle.
    // The semantic flag set is a per-doc property of the STATIC
    // vectors (deliberately independent of the boil text swap), so
    // the stream carries the embeddings column and its banded probe
    // must drop exactly the ladderSemanticFlags ids among the
    // decontam survivors.
    val dir = "/root/testdata/sf0.01"
    val (store, batch) = everythingOnFixture("graft_allrb_")
    // the batch twin IS the production everything-on entry
    val tagged = Queries.ingestSpecs("_routed_boil_sem").tagged(spark, dir)._2
      .localCheckpoint(false)
    val expect = tagged.filter(col("__s4"))
      .select(col("doc_id"), col("__ct"), col("__dl")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(expect.nonEmpty, "everything-on survivors must be nonempty")
    // non-vacuity: every gate this configuration adds must DO work —
    // the semantic rung must prune decontam survivors (or the pin
    // collapses to the already-covered routed+boil case), and the
    // clean must change some surviving doc's text
    assert(tagged.filter(col("__s3")).count() >
      tagged.filter(col("__s3s")).count(),
      "the semantic rung must prune >= 1 shingle-decontam survivor")
    assert(tagged.filter(col("__s4") && col("__ct") =!= col("text"))
      .limit(1).count() == 1,
      "at least one survivor's text must differ from raw after cleaning")
    leavesNothingPersisted {
      assert(everythingOnStream(store, batch, "graft_allrb_")
        .awaitTermination(360000), "everything-on stream did not finish in time")
    }
    // survivors ship the CLEANED text AND its detection — doc-for-doc
    val streamed = store.read("docs")
      .filter(col("doc_id") >= Queries.incrementalSplit)
      .select(col("doc_id"), col("text"), col("lang")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(streamed == expect,
      "the everything-on stream must ship the batch composition's " +
        "cleaned text and detected language")
    // the eight-stage funnel equals the batch tags' counts — the
    // ingest_audit_routed_boil_sem oracle replays these same numbers
    def tagCount(c: String): Long = tagged.filter(col(c)).count()
    val a = store.read("audit").collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_docs"))).toMap
    assert(a == Map(
      "0_batch" -> batch.count(),
      "1_exact_dedup" -> tagCount("__s1"),
      "2_blocklist" -> tagCount("__s2"),
      "2b_boilerplate" -> tagCount("__s2b"),
      "2p_percentile" -> tagCount("__s2p"),
      "3_decontam" -> tagCount("__s3"),
      "3s_semantic" -> tagCount("__s3s"),
      "4_near_dedup" -> tagCount("__s4")),
      s"everything-on funnel must equal the batch twin's stage counts: $a")
  }

  test("streaming boilerplate clean equals the batch stored probe; replay no-op; " +
      "grain drift fails the START") {
    // the cleaning stream: the one-stage list [boilerplate]. Its table
    // holds the chain's survivors — the batch columns with the cleaned
    // text, docs the clean left empty dropped — and with no dedup stage
    // no signature index is read, built or written
    import graft.operators.Dedup
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_sbc_wh_"))
    // calibration corpus: "alpha beta gamma" everywhere (boilerplate
    // at minDocs=3), per-doc unique tails
    import spark.implicits._
    val corpus = (0L until 40L)
      .map(id => (id, s"alpha beta gamma unique tail $id"))
      .toDF("doc_id", "text")
    Dedup.buildSpanDfStore(store, "span_df", corpus, "doc_id", "text", 3)
    val srcDir = TestSpark.tempDir("graft_sbc_src_")
    def delivery(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)
    def start(cp: String, textCol: String = "text",
        gate: Realtime.BoilerplateGate = Realtime.BoilerplateGate("span_df", 3, 3)) =
      Realtime.streamIngestPipeline(store, "clean", "sigs",
        spark.readStream.schema("doc_id LONG, text STRING").parquet(srcDir),
        "doc_id", textCol, cp, stages = Seq(gate), auditTable = Some("audit"))
    // 103 is boilerplate alone: the clean empties it, so it drops
    val d1 = Seq((100L, "alpha beta gamma fresh content one"),
      (101L, "no boiler here at all"), (103L, "alpha beta gamma"))
    val d2 = Seq((102L, "alpha beta gamma fresh content two"))
    delivery(d1)
    val cp = TestSpark.tempDir("graft_sbc_cp_")
    leavesNothingPersisted {
      assert(start(cp).awaitTermination(120000), "stream did not finish in time")
      delivery(d2)
      assert(start(cp).awaitTermination(120000), "second pass did not finish in time")
    }
    def snap(t: String) = store.read(t).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSet
    // streaming ≡ the batch stored probe over the union of deliveries,
    // projected to the survivors
    val batch = Dedup.boilerplateRemoveStored(store, "span_df",
        (d1 ++ d2).toDF("doc_id", "text"), "doc_id", "text", 3, 3)
      .filter(col("n_kept") > 0).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"))).toSet
    val streamed = snap("clean")
    assert(streamed == batch,
      s"streamed clean table must equal the batch probe: $streamed vs $batch")
    // the store-frequent prefix dropped, fresh content survived, and
    // the all-boilerplate doc is gone
    assert(streamed.contains(100L -> "fresh content one") &&
      !streamed.exists(_._1 == 103L))
    assert(store.read("clean").columns.toSeq == Seq("doc_id", "text"),
      "the table holds the batch columns")
    // the funnel counts the drop at the boilerplate stage
    val audit = store.read("audit").collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("stage"),
        r.getAs[Long]("n_docs"))).toSet
    assert(audit == Set((0L, "0_batch", 3L), (0L, "2b_boilerplate", 2L),
      (1L, "0_batch", 1L), (1L, "2b_boilerplate", 1L)), s"clean funnel: $audit")
    assert(!store.exists("sigs"), "a chain without dedup keeps no signature index")
    // full redelivery (fresh checkpoint) MERGEs byte-identical rows
    assert(start(TestSpark.tempDir("graft_sbc_cp2_")).awaitTermination(120000),
      "replay did not finish in time")
    assert(snap("clean") == streamed, "redelivery must be a MERGE no-op")
    // drifted span grain fails the START, not the first micro-batch
    intercept[IllegalArgumentException] {
      start(TestSpark.tempDir("graft_sbc_cp3_"),
        gate = Realtime.BoilerplateGate("span_df", spanTokens = 5, minDocs = 3))
    }
    // so do a misspelled column and a bad threshold (review r17: the
    // cheap-config-checks-first contract covers EVERY knob)
    intercept[IllegalArgumentException] {
      start(TestSpark.tempDir("graft_sbc_cp4_"), textCol = "body")
    }
    intercept[IllegalArgumentException] {
      start(TestSpark.tempDir("graft_sbc_cp5_"),
        gate = Realtime.BoilerplateGate("span_df", 3, minDocs = 1))
    }
  }

  test("span-df store refresh cadence: a restarted clean stream uses the NEW " +
      "counts, committed rows stand (r18 stretch)") {
    // the calibration-snapshot story applied to the span-df store:
    // the hash set is frozen per QUERY LIFETIME, not forever — a
    // rebuild on a grown corpus followed by a stream restart must
    // clean subsequent deliveries against the NEW counts, while rows
    // the old run committed stand untouched (they were pure functions
    // of the store THEY ran against).
    import graft.operators.Dedup
    import spark.implicits._
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_sdr_wh_"))
    // corpus v1: only "alpha beta gamma" is boilerplate (>= 3 docs);
    // "delta epsilon zeta" appears once — NOT yet boilerplate
    val corpusV1 = ((0L until 10L)
      .map(id => (id, s"alpha beta gamma unique tail number $id"))
      :+ (90L, "delta epsilon zeta rare once"))
      .toDF("doc_id", "text")
    Dedup.buildSpanDfStore(store, "span_df", corpusV1, "doc_id", "text", 3)
    val srcDir = TestSpark.tempDir("graft_sdr_src_")
    def delivery(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)
    // the cleaning stream, [boilerplate]
    def clean(cp: String) = Realtime.streamIngestPipeline(store, "clean",
      "sigs", spark.readStream.schema("doc_id LONG, text STRING").parquet(srcDir),
      "doc_id", "text", cp,
      stages = Seq(Realtime.BoilerplateGate("span_df", 3, 3)))
    val cp = TestSpark.tempDir("graft_sdr_cp_")
    // run 1: "delta epsilon zeta" SURVIVES (one vote in the v1 store)
    delivery(Seq((100L, "delta epsilon zeta fresh content one")))
    assert(clean(cp).awaitTermination(120000), "run 1 did not finish")
    def cleanOf(id: Long): String = store.read("clean")
      .filter($"doc_id" === id).collect().head.getAs[String]("text")
    assert(cleanOf(100L) == "delta epsilon zeta fresh content one",
      "under the v1 counts the rare span must survive")
    // corpus grows: "delta epsilon zeta" now fronts >= 3 docs — the
    // calibration-cadence FULL REPLACE rebuild (atomic counts+grain)
    val corpusV2 = corpusV1.unionByName(Seq(
      (91L, "delta epsilon zeta growth one"),
      (92L, "delta epsilon zeta growth two")).toDF("doc_id", "text"))
    Dedup.buildSpanDfStore(store, "span_df", corpusV2, "doc_id", "text", 3)
    // restart (same checkpoint): the new run's lifetime hash set is
    // the NEW store — the same span must now be removed
    delivery(Seq((101L, "delta epsilon zeta fresh content two")))
    assert(clean(cp).awaitTermination(120000), "run 2 did not finish")
    assert(cleanOf(101L) == "fresh content two",
      "the restarted run must clean against the REFRESHED counts")
    // the old run's committed row stands — refresh never rewrites what
    // an earlier run cleaned (last-delivery-wins only on redelivery)
    assert(cleanOf(100L) == "delta epsilon zeta fresh content one",
      "rows committed under the old store must stand after the refresh")
  }

  test("streaming curriculum export: staged increments, export order equals batch (r16)") {
    import graft.operators.{Dedup, Export, QualityCal}
    import graft.functions.GraftFunctions
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang")
    val existing = docs.filter(col("doc_id") < Queries.incrementalSplit)
    val batch = docs.filter(col("doc_id") >= Queries.incrementalSplit &&
        col("doc_id") < Queries.decontamNearDupSplit)
      // one planted language the snapshot has never seen: its level
      // must stage as NULL (calibration abstains) and sort LAST in
      // its shard, exactly like the batch window's asc_nulls_last
      .unionByName(Seq((999001L,
        "completely novel zz language document about volcanic glass " +
          "formations and obsidian knapping techniques", "zz"))
        .toDF("doc_id", "text", "lang"))
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_cur_store_"))
    store.merge("docs", existing, "doc_id")
    Dedup.buildNearDupStore(store, "sigs", existing, "doc_id", "text",
      shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    // snapshot over the ORIGINAL corpus only (no zz) so abstention
    // has something to abstain from
    QualityCal.buildPercentileStore(store, "quality_cdf", docs,
      "lang", "text", snapshot = "corpus-v1")
    val cur = Realtime.CurriculumExport("curr", "quality_cdf",
      nShards = 4, seed = "ep0", expectSnapshot = Some("corpus-v1"))
    // pre-seeded corpus rows are staged once by the backfill — the
    // stream only ever stages its own survivors
    Realtime.curriculumBackfill(store, cur, existing, "doc_id", "text")
    val src = TestSpark.tempDir("graft_cur_src_")
    batch.coalesce(1).write.mode("append").parquet(src)
    def runPass(cp: String): Unit = {
      val q = Realtime.streamIngestPipeline(store, "docs", "sigs",
        spark.readStream.schema("doc_id LONG, text STRING, lang STRING")
          .parquet(src),
        "doc_id", "text", cp,
        shingleN = Queries.minHashShingleN,
        numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands,
        threshold = Queries.minHashThreshold,
        curriculumExport = Some(cur))
      assert(q.awaitTermination(120000), "stream did not finish in time")
    }
    runPass(TestSpark.tempDir("graft_cur_cp_"))
    // staging must cover EXACTLY the corpus table (backfill + streamed
    // survivors; dropped duplicates never stage)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(store.read("curr")) == ids(store.read("docs")),
      "staging table must hold one row per corpus doc, nothing else")
    // the deferred numbering equals the BATCH curriculum over the
    // final corpus at the same snapshot: same shard, level, and seq
    // per doc — shardOrderBy is the already-oracled batch operator
    def orderTuples(df: org.apache.spark.sql.DataFrame) =
      df.select(col("shard").cast("long"), col("doc_id"),
          col("level").cast("double"), col("seq").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getLong(3)))
        .toSet
    val cdf = QualityCal.loadCdf(store, "quality_cdf", "test",
      Some("corpus-v1"))
    val scoredBatchSide = QualityCal.withPercentile(
      store.read("docs").select(col("doc_id"), col("lang"), col("text")),
      cdf, "lang", GraftFunctions.qualityScore(col("text")), pctCol = "lvl")
    val want = orderTuples(Export.shardOrderBy(
      scoredBatchSide.select(col("doc_id"), col("lvl")),
      "doc_id", 4, "ep0", col("lvl")))
    val got = orderTuples(Realtime.curriculumOrder(store, "curr", "doc_id"))
    assert(got == want,
      "streamed staging + deferred numbering must equal the batch " +
        "shardOrderBy over the final corpus at the same snapshot")
    // the unknown-language doc abstained (NULL level) and sits LAST
    // in its shard's sequence
    val zz = Realtime.curriculumOrder(store, "curr", "doc_id")
      .filter(col("doc_id") === 999001L).collect().head
    assert(zz.isNullAt(zz.fieldIndex("level")),
      "unseen language must stage a NULL (abstained) level")
    val zzShardMax = Realtime.curriculumOrder(store, "curr", "doc_id")
      .filter(col("shard") === zz.getAs[Long]("shard"))
      .agg(max(col("seq"))).head().getInt(0)
    assert(zz.getAs[Int]("seq") == zzShardMax,
      "a NULL level must order last within its shard")
    // at-least-once replay from a FRESH checkpoint: the redelivery is
    // dropped by the exact gate and the staging table is untouched —
    // the export order is byte-stable across replays
    runPass(TestSpark.tempDir("graft_cur_cp2_"))
    assert(orderTuples(Realtime.curriculumOrder(store, "curr", "doc_id")) == got,
      "a replayed delivery must not change the staged curriculum")
    // plan lock: the deferred numbering reads ONLY the narrow staging
    // table — one md5-bucket-bounded window exchange, never a corpus
    // text scan (the whole point of staging the per-row halves)
    val plan = Realtime.curriculumOrder(store, "curr", "doc_id")
      .queryExecution.executedPlan.toString
    // exactly ONE parquet scan — the staging table; a regression that
    // rejoined the corpus table (store path .../docs/) or any other
    // source to re-derive levels would add a second scan node
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"curriculumOrder must read exactly the staging table:\n$plan")
    assert(!plan.contains("/docs/"),
      s"curriculumOrder must never rescan the corpus table:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"curriculumOrder must plan exactly the one shard-window exchange:\n$plan")
    // COMPACTION (r17, the staging-lifetime story): the stream MERGEs
    // staged rows forever, so a doc deleted from the corpus would
    // otherwise export from its orphaned staging row for the rest of
    // the table's life. compactStaged rewrites staging as the staged
    // projection of the CURRENT corpus — and because every staged
    // value is a pure function of (row, snapshot, seed), surviving
    // rows come back byte-identical and a post-compaction replayed
    // MERGE is a no-op.
    def stagedHalves() = store.read("curr")
      .select(col("doc_id"), col("shard").cast("long"),
        col("level").cast("double"), col("sort_key").cast("string"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getString(3)))
      .toSet
    val victim = ids(store.read("docs")).min
    val before = stagedHalves()
    store.delete("docs", Seq(victim).toDF("doc_id"), "doc_id")
    Realtime.compactStaged(store, cur, store.read("docs"), "doc_id", "text")
    assert(ids(store.read("curr")) == ids(store.read("docs")),
      "compaction must drop staging orphans of deleted corpus docs")
    assert(stagedHalves() == before.filterNot(_._1 == victim),
      "surviving staged halves must be byte-identical after compaction " +
        "(pure functions of (row, snapshot, seed))")
    // idempotent replay against the compacted table: a backfill MERGE
    // of the whole corpus re-creates identical rows, nothing more
    Realtime.curriculumBackfill(store, cur, store.read("docs"),
      "doc_id", "text")
    assert(stagedHalves() == before.filterNot(_._1 == victim),
      "a replayed MERGE after compaction must be a no-op")
    // and the deferred numbering now equals the batch operator over
    // the COMPACTED corpus at the same snapshot
    val scoredAfter = QualityCal.withPercentile(
      store.read("docs").select(col("doc_id"), col("lang"), col("text")),
      cdf, "lang", GraftFunctions.qualityScore(col("text")), pctCol = "lvl")
    assert(orderTuples(Realtime.curriculumOrder(store, "curr", "doc_id")) ==
      orderTuples(Export.shardOrderBy(
        scoredAfter.select(col("doc_id"), col("lvl")),
        "doc_id", 4, "ep0", col("lvl"))),
      "post-compaction numbering must equal the batch shardOrderBy " +
        "over the compacted corpus")
  }

  test("streaming windowed counts equal the batch result (one code path)") {
    import spark.implicits._
    val events = (0 until 200).map { i =>
      (i % 7, Fixtures.ts(i * 137L % 7200), (i % 11).toDouble)
    }.toDF("user_id", "ts", "value")
    val dir = TestSpark.tempDir("graft_wec_")
    events.coalesce(2).write.mode("overwrite").parquet(s"$dir/events")
    val stream = spark.readStream
      .schema("user_id INT, ts TIMESTAMP, value DOUBLE")
      .parquet(s"$dir/events")
    val q = Realtime.windowedEventCounts(stream, "ts", "user_id", "30 minutes")
      .writeStream.format("memory").queryName("wec_eq")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val got = canon(spark.table("wec_eq"))
    val want = canon(Realtime.windowedEventCounts(events, "ts", "user_id", "30 minutes"))
    assert(got == want, "streaming and batch runs of the same plan must agree")
  }

  test("streaming near-dup pairs equal batch simHashPairs; cross-restart pairing") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_sdn_")
    val cp = TestSpark.tempDir("graft_sdn_cp_")
    val out = TestSpark.tempDir("graft_sdn_out_")
    def write(rows: Seq[(Long, String, java.sql.Timestamp)]): Unit =
      rows.toDF("doc_id", "text", "ts")
        .coalesce(1).write.mode("append").parquet(s"$dir/docs")
    def stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .parquet(s"$dir/docs")
    def runOnce(): Unit = {
      val q = Realtime.streamDedupNearPairs(stream, "doc_id", "text", "ts",
          maxHamming = 16)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    // pairs are at-least-once across bands: distinct AFTER the sink
    // restores the batch operator's set semantics (see scaladoc)
    def pairs(): Set[(Long, Long, Int)] = spark.read.parquet(out)
      .select("id_a", "id_b", "hamming").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def batchPairs(rows: Seq[(Long, String, java.sql.Timestamp)]) =
      graft.operators.Dedup.simHashPairs(
          rows.toDF("doc_id", "text", "ts"), "doc_id", "text", maxHamming = 16)
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Int]("hamming"))).toSet
    val base = "the distributed query engine optimizes joins aggregations and window functions across many partitions"
    val other = "gardening gloves protect hands while pruning thorny rose bushes outdoors today"
    // batch 1: an exact in-batch dup (1,2), a small-edit near-dup (1,3),
    // and an unrelated doc that must pair with nobody
    val b1 = Seq(
      (1L, base, Fixtures.ts(10)),
      (2L, base, Fixtures.ts(20)),
      (3L, base.replace("many", "all"), Fixtures.ts(30)),
      (4L, other, Fixtures.ts(40)))
    write(b1)
    runOnce()
    val want1 = batchPairs(b1)
    assert(want1.map(p => (p._1, p._2)).contains((1L, 2L)) &&
      want1.exists(p => p._1 == 1L && p._2 == 3L && p._3 > 0),
      s"fixture must contain an exact and a near pair, got $want1")
    assert(pairs() == want1,
      "streaming near-dup pairs must equal batch simHashPairs exactly")
    // batch 2 AFTER a restart from the checkpoint: a near-dup of doc 1
    // (cross-run pair via persisted band state) and a fresh unrelated doc
    val b2 = Seq(
      (21L, base.replace("joins", "scans"), Fixtures.ts(600)),
      (22L, "completely unrelated fresh document about baking sourdough bread loaves", Fixtures.ts(610)))
    write(b2)
    runOnce()
    val wantAll = batchPairs(b1 ++ b2)
    assert(wantAll.exists(p => p._1 == 1L && p._2 == 21L),
      s"fixture must contain a cross-run near pair, got $wantAll")
    assert(pairs() == wantAll,
      "checkpointed band state must pair across runs and add nothing else")
  }

  test("startReleasing: run-scoped release; unrelated terminations and failed starts (ADVICE r15)") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    def persisted(df: org.apache.spark.sql.DataFrame) =
      df.storageLevel != StorageLevel.NONE

    // failed start: caches free SYNCHRONOUSLY on the caller thread —
    // the old CompletableFuture shape left any already-dispatched
    // terminated callback blocking the session's listener bus for the
    // full 60s because nothing ever completed the future
    val cFail = Seq(1).toDF("x").persist()
    cFail.count()
    intercept[RuntimeException] {
      Realtime.startReleasing(spark, Seq(cFail))(
        throw new RuntimeException("boom"))
    }
    assert(!persisted(cFail), "failed start must release caches immediately")

    // live stream: an UNRELATED query's termination must not release
    // the stream-lifetime caches (runId-matched, non-blocking bus)
    val cLive = Seq(2).toDF("x").persist()
    cLive.count()
    val ours = Realtime.startReleasing(spark, Seq(cLive))(
      spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .writeStream.format("noop").start())
    try {
      val other = spark.readStream.format("rate")
        .option("rowsPerSecond", "1").load()
        .writeStream.format("noop").start()
      other.stop(); other.awaitTermination()
      // the bus is async; give the unrelated event time to dispatch
      Thread.sleep(2000)
      assert(persisted(cLive),
        "an unrelated query's termination must not release our caches")
    } finally { ours.stop(); ours.awaitTermination() }
    // our run's termination releases (async — poll briefly)
    val deadline = System.currentTimeMillis() + 30000
    while (persisted(cLive) && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(!persisted(cLive),
      "caches must release when OUR run terminates")
  }
}

/** Embeds like [[providers.DeterministicHashProvider]], counts the inputs
  * that mention each word, and fails a call whose inputs mention
  * "poison". */
object PoisonProvider {
  private val seen = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def embedded(word: String): Long = seen.getOrDefault(word, 0L)
  private[graft] def count(inputs: Seq[String]): Unit =
    inputs.flatMap(_.split("\\W+").distinct).foreach(w => seen.merge(w, 1L, (a, b) => a + b))
}
final class PoisonProvider extends providers.EmbeddingProvider {
  private val inner = new providers.DeterministicHashProvider(64)
  override def modelDim(model: String): Int = inner.modelDim(model)
  override def generateEmbeddings(model: String, inputs: Seq[String]): Seq[Array[Float]] = {
    PoisonProvider.count(inputs)
    if (inputs.exists(_.contains("poison"))) throw new IllegalStateException("poisoned input")
    inner.generateEmbeddings(model, inputs)
  }
}

/** Embeds like [[providers.DeterministicHashProvider]] and counts, under
  * its `tag`, the calls made on the driver and those made inside a Spark
  * task. Tasks embed with deserialized copies, so the counts are
  * JVM-wide. */
object SiteRecordingProvider {
  private val counts = new java.util.concurrent.ConcurrentHashMap[(String, Boolean), java.lang.Long]()
  def onDriver(tag: String): Long = counts.getOrDefault((tag, false), 0L)
  def inTasks(tag: String): Long = counts.getOrDefault((tag, true), 0L)
  private[graft] def record(tag: String): Unit =
    counts.merge((tag, org.apache.spark.TaskContext.get() != null), 1L, (a, b) => a + b)
}
final class SiteRecordingProvider(dim: Int, tag: String) extends providers.EmbeddingProvider {
  private val inner = new providers.DeterministicHashProvider(dim)
  override def modelDim(model: String): Int = inner.modelDim(model)
  override def generateEmbeddings(model: String, inputs: Seq[String]): Seq[Array[Float]] = {
    SiteRecordingProvider.record(tag)
    inner.generateEmbeddings(model, inputs)
  }
}

/** Counts provider calls JVM-wide (tasks embed with deserialized copies). */
object CallCountingProvider {
  val calls = new java.util.concurrent.atomic.AtomicLong(0)
}
final class CallCountingProvider extends providers.EmbeddingProvider {
  private val inner = new providers.DeterministicHashProvider(64)
  override def modelDim(model: String): Int = inner.modelDim(model)
  override def generateEmbeddings(model: String, inputs: Seq[String]): Seq[Array[Float]] = {
    CallCountingProvider.calls.incrementAndGet()
    inner.generateEmbeddings(model, inputs)
  }
}
