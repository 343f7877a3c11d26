package graft

import graft.operators.{Search, ServingSnapshot}
import graft.sources.ParquetStore
import graft.types._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The driver-local serving tier: its answers equal the Spark plans'
  * exactly (schema, rows, order, scores to the bit), it runs no Spark
  * job once built, it gives way to the plan above the broadcast
  * threshold, it leaks no persisted data, and concurrent reads see a
  * committed state, never a torn one.
  */
class ServingSnapshotSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[T](v: String)(body: => T): T = {
    val old = spark.conf.get(Threshold)
    spark.conf.set(Threshold, v)
    try body finally spark.conf.set(Threshold, old)
  }

  /** Jobs `body` starts, counted by a listener. */
  private def jobsIn(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.ListenerDrain.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  /** Equal answers: schema, the (pkey, score columns) sequence, and the
    * rows themselves. Rows tied on every sort key (duplicate source
    * keys) may come in any order within their run, and a run the limit
    * cuts may keep any of its members, as in Spark.
    */
  private def assertSame(local: DataFrame, plan: DataFrame, keyCol: String,
      scoreCols: Seq[String], limit: Int, clue: => String): Unit = {
    assert(local.schema == plan.schema, s"schema: $clue\n${local.schema}\n${plan.schema}")
    val (l, p) = (local.collect().toSeq, plan.collect().toSeq)
    def sortKey(r: Row) = (r.getAs[Any](keyCol) +: scoreCols.map(r.getAs[Any])).toList
    assert(l.map(sortKey) == p.map(sortKey), s"ids/scores: $clue\nlocal ${l.map(sortKey)}\nplan  ${p.map(sortKey)}")
    val runs = l.indices.groupBy(i => sortKey(l(i))).values.toSeq
    runs.foreach { idx =>
      val cut = l.size == limit && idx.contains(l.size - 1)
      if (!cut) assert(idx.map(l).map(_.toString).sorted == idx.map(p).map(_.toString).sorted,
        s"rows: $clue\n${idx.map(l)}\n${idx.map(p)}")
    }
  }

  // ------------------------------------------------------------------
  // property: snapshot ≡ Spark plan over random stores
  // ------------------------------------------------------------------

  private val words = Seq("alpha", "beta", "gamma", "delta", "épsilon", "zeta")
  private val lexemes = words.flatMap(graft.functions.TextAnalyzer.queryLexemes(_)).distinct

  private def randomCase(rnd: scala.util.Random, dir: String, pkType: DataType)
      : (DataFrame, DataFrame, DataFrame) = {
    val nKeys = rnd.nextInt(30)
    val strKeys = Seq("a", "b", "ab", "é", "e", "日本", "Z", "ä", "b2", "ß", "z", "zz", "", "Ω")
    def key(i: Int): Any = pkType match {
      case LongType => i.toLong
      case IntegerType => i
      case DoubleType => i / 2.0
      case StringType => strKeys(i % strKeys.size) + (i / strKeys.size)
    }
    def keyString(i: Int): String = key(i) match {
      case d: Double => d.toString
      case k => k.toString
    }
    // source: some keys twice, some missing (embedded but not in the
    // source) — in a sparse case most, so the window cap shows
    val sparse = rnd.nextInt(3) == 0
    val srcKeys = (0 until nKeys).filter(_ => if (sparse) rnd.nextInt(4) == 0 else rnd.nextInt(6) != 0)
      .flatMap(k => if (rnd.nextInt(5) == 0) Seq(k, k) else Seq(k))
    def maybe[T](v: => T): Any = if (rnd.nextInt(8) == 0) null else v
    val srcSchema = StructType(Seq(
      StructField("id", pkType), StructField("lang", StringType),
      StructField("n_i", IntegerType), StructField("n_l", LongType),
      StructField("n_d", DoubleType), StructField("flag", BooleanType),
      StructField("txt", StringType, nullable = false)))
    val srcRows = srcKeys.map(k => Row(key(k), maybe(Seq("en", "fr", "日本", "é")(rnd.nextInt(4))),
      maybe(rnd.nextInt(5)), maybe(rnd.nextInt(5).toLong - 2), maybe(rnd.nextInt(7) / 2.0),
      maybe(rnd.nextBoolean()), s"row-${rnd.nextInt(1000)}"))
    // vectors: coordinates from a small set, so cosines tie; zero and
    // null vectors; keys the source lacks
    val embKeys = (0 until nKeys + 4).filter(_ => rnd.nextInt(5) != 0)
    val dim = 4
    val embRows = embKeys.map { k =>
      val v: Any = rnd.nextInt(10) match {
        case 0 => null
        case 1 => Seq.fill(dim)(0.0f)
        case _ => Seq.fill(dim)((rnd.nextInt(4) - 1).toFloat)
      }
      Row(keyString(k), v, new java.sql.Timestamp(0L))
    } ++ (if (rnd.nextInt(4) == 0) Seq(Row(null, Seq(1.0f, 0f, 0f, 0f), new java.sql.Timestamp(0L))) else Nil)
    val tokRows = (0 until nKeys + 4).filter(_ => rnd.nextInt(4) != 0).map { k =>
      val toks: Any =
        if (rnd.nextInt(15) == 0) null
        else Seq.fill(rnd.nextInt(4))(if (rnd.nextInt(12) == 0) null else lexemes(rnd.nextInt(lexemes.size)))
      val counts: Any = toks match {
        case null => null
        case ts: Seq[_] => rnd.nextInt(10) match {
          case 0 => null
          case 1 => Seq.fill(ts.size + rnd.nextInt(3) - 1 max 0)(1 + rnd.nextInt(3))
          case 2 => ts.map(_ => if (rnd.nextInt(3) == 0) null else 1 + rnd.nextInt(3))
          case _ => ts.map(_ => 1 + rnd.nextInt(3))
        }
      }
      Row(keyString(k), toks, counts, new java.sql.Timestamp(0L))
    } ++ (if (rnd.nextInt(4) == 0) Seq(Row(null, Seq(lexemes.head), Seq(2), new java.sql.Timestamp(0L))) else Nil)
    val tokSchema = StructType(Seq(StructField("pkey", StringType),
      StructField("search_tokens", ArrayType(StringType)),
      StructField("search_token_counts", ArrayType(IntegerType)),
      StructField("updated_at", TimestampType)))
    val store = new ParquetStore(spark, dir)
    def put(t: String, rows: Seq[Row], schema: StructType) =
      store.overwrite(t, spark.createDataFrame(rows.asJava, schema))
    put("src", srcRows, srcSchema)
    put("emb", embRows, StructType(graft.operators.Pipeline.embeddingSchema.map(_.copy(nullable = true))))
    put("tok", tokRows, tokSchema)
    val tok = store.read("tok")
    (store.read("src"), store.read("emb"),
      if (rnd.nextInt(6) == 0) tok.drop("search_token_counts") else tok)
  }

  private def randomFilters(rnd: scala.util.Random): Map[String, FilterValue] =
    Seq.fill(rnd.nextInt(3)) {
      val op = FilterOperator.all(rnd.nextInt(FilterOperator.all.size))
      rnd.nextInt(6) match {
        case 0 => "lang" -> FilterValue(op, FilterScalar.S(Seq("en", "fr", "日本", "é")(rnd.nextInt(4))))
        case 1 => "n_i" -> FilterValue(op, FilterScalar.I(rnd.nextInt(5)))
        case 2 => "n_l" -> FilterValue(op, FilterScalar.F(rnd.nextInt(5) - 2.5))
        case 3 => "n_d" -> FilterValue(op, FilterScalar.F(rnd.nextInt(7) / 2.0))
        case 4 => "flag" -> FilterValue(FilterOperator.Eq, FilterScalar.B(rnd.nextBoolean()))
        case _ => "n_d" -> FilterValue(op, FilterScalar.I(rnd.nextInt(3)))
      }
    }.toMap

  test("property: the snapshot answers search and hybrid search exactly as the Spark plans") {
    val rnd = new scala.util.Random(20261019L)
    val pkTypes = Seq(LongType, StringType, IntegerType, DoubleType)
    var compared = 0
    (0 until 24).foreach { c =>
      val pkType = pkTypes(c % pkTypes.size)
      val (src, emb, tok) = randomCase(rnd, TestSpark.tempDir("graft_serve_prop_"), pkType)
      val snap = ServingSnapshot.build(spark, src, "id", emb, tok)
      (0 until 3).foreach { q =>
        val qv = Array.fill(4)((rnd.nextInt(4) - 1).toFloat)
        val text = Seq.fill(1 + rnd.nextInt(3))((words :+ "omega")(rnd.nextInt(words.size + 1))).mkString(" ")
        val limit = 1 + rnd.nextInt(if (rnd.nextBoolean()) 3 else src.count().toInt + 6)
        val filters = randomFilters(rnd)
        val cols = if (rnd.nextBoolean()) Seq("*") else Seq("txt", "ID", "lang")
        val clue = s"case $c ($pkType) query $q: qv=${qv.toSeq} text='$text' limit=$limit filters=$filters cols=$cols"
        assert(snap.supports(filters, cols), clue)
        val keyCol = if (cols == Seq("*")) "id" else "ID"
        assertSame(snap.semanticSearch(qv, limit, filters, cols),
          Search.semanticSearch(src, emb, "id", qv, limit, filters, cols),
          keyCol, Seq("similarity_score"), limit, "search " + clue)
        val window = if (rnd.nextBoolean()) None else Some(1 + rnd.nextInt(8))
        val (k, ws, wf) = (Seq(60.0, 0.0, 1.5)(rnd.nextInt(3)), rnd.nextInt(3) / 2.0, rnd.nextInt(3) / 2.0)
        assertSame(
          snap.hybridSearch(qv, text, limit, window.getOrElse(limit * 5), k, ws, wf, filters, cols),
          Search.hybridSearch(src, emb, tok, "id", qv, text, limit, window, k, ws, wf, filters, cols),
          keyCol, Seq("rrf_score", "similarity_score", "fts_score", "semantic_rank", "fts_rank"),
          limit, s"hybrid $clue window=$window k=$k ws=$ws wf=$wf")
        compared += 1
      }
    }
    assert(compared == 72)
  }

  test("the semantic window caps before the source join, as the plan does") {
    import spark.implicits._
    val store = new ParquetStore(spark, TestSpark.tempDir("graft_serve_cap_"))
    // k0..k9 rank in key order; the source holds only k9 (rank 10)
    store.overwrite("emb", (0 until 10).map(i =>
      (s"k$i", Seq(1.0f, i.toFloat / 10), new java.sql.Timestamp(0L))).toDF("pkey", "embeddings", "updated_at"))
    store.overwrite("src", Seq(("k9", "last")).toDF("id", "txt"))
    store.overwrite("tok", Seq(("k9", Seq("x"), Seq(1))).toDF("pkey", "search_tokens", "search_token_counts"))
    val (src, emb, tok) = (store.read("src"), store.read("emb"), store.read("tok"))
    val snap = ServingSnapshot.build(spark, src, "id", emb, tok)
    val q = Array(1.0f, 0.0f)
    // limit 1 caps at 5 (k9 falls out), limit 2 at 10 (k9 joins)
    Seq(1 -> 0, 2 -> 1).foreach { case (limit, n) =>
      val local = snap.semanticSearch(q, limit, Map.empty, Seq("*"))
      assertSame(local, Search.semanticSearch(src, emb, "id", q, limit), "id",
        Seq("similarity_score"), limit, s"limit $limit")
      assert(local.count() == n, s"limit $limit")
    }
  }

  test("the snapshot throws the plan's dimension-mismatch error") {
    val (src, emb, tok) = randomCase(new scala.util.Random(7L), TestSpark.tempDir("graft_serve_dim_"), LongType)
    val snap = ServingSnapshot.build(spark, src, "id", emb, tok)
    val e = intercept[IllegalArgumentException](snap.semanticSearch(Array(1f, 2f), 3, Map.empty, Seq("*")))
    assert(e.getMessage == "cosine_similarity: different vector dimensions 4 and 2")
    val planErr = intercept[Exception](
      Search.semanticSearch(src, emb, "id", Array(1f, 2f), 3).collect())
    assert(Iterator.iterate[Throwable](planErr)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains(e.getMessage)), planErr.toString)
  }

  // ------------------------------------------------------------------
  // the engine's routing
  // ------------------------------------------------------------------

  private def job(method: TableMethod) = VectorizeJob(jobName = "docs", srcTable = "docs_src",
    srcColumns = Seq("body"), primaryKey = "doc_key", updateTimeCol = Some("updated_at"),
    model = Model.parseUnsafe("deterministic/hash-32"), tableMethod = method)

  /** `n` documents; a tagged set is stamped in the future, so a
    * refresh sees every row as changed. */
  private def docs(n: Int, tag: String = ""): DataFrame = {
    val future = System.currentTimeMillis() + 3600000L
    val ws = Seq("camping", "backpack", "pencil", "airplane", "pizza", "tent", "ocean")
    val rows = (0 until n).map { i =>
      Row(docKey(i), s"${ws(i % 7)} ${ws((i * 3 + 1) % 7)} ${ws((i / 7) % 7)}$tag",
        Seq("en", "fr")(i % 2), i.toLong,
        new java.sql.Timestamp(if (tag.isEmpty) 1000L * (i + 1) else future))
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(StructField("doc_key", StringType),
      StructField("body", StringType), StructField("lang", StringType),
      StructField("n", LongType), StructField("updated_at", TimestampType))))
  }

  private def docKey(i: Int): String = Seq("ä", "a", "Ω", "日本", "b", "é", "ab")(i % 7) + i

  /** `df` written as parquet and read back: collecting it is a Spark
    * job, as a file-backed source's is. */
  private def onDisk(df: DataFrame): DataFrame = {
    val dir = TestSpark.tempDir("graft_serve_src_")
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def engineWith(method: TableMethod, n: Int = 60): VectorizeEngine = {
    val e = new VectorizeEngine(spark, TestSpark.tempDir("graft_serve_eng_"),
      embeddingProviderOverride = Some(new providers.DeterministicHashProvider(32)))
    e.registerSource("docs_src", docs(n))
    e.createJob(job(method))
    e
  }

  private val queries = Seq("camping backpack", "pencil", "ocean tent pizza", "nothing here")
  private val lang = Map("lang" -> FilterValue(FilterOperator.Eq, FilterScalar.S("fr")))
  private val nGte = Map("n" -> FilterValue(FilterOperator.Gte, FilterScalar.I(20)))

  test("engine: local and Spark answers agree for both table methods") {
    Seq(TableMethod.Join, TableMethod.Append).foreach { m =>
      val e = engineWith(m)
      for (q <- queries; limit <- Seq(1, 4, 100); f <- Seq(Map.empty[String, FilterValue], lang, nGte)) {
        val clue = s"$m '$q' limit=$limit filters=$f"
        assertSame(e.search("docs", q, limit, f), withThreshold("-1")(e.search("docs", q, limit, f)),
          "doc_key", Seq("similarity_score"), limit, "search " + clue)
        assertSame(e.hybridSearch("docs", q, limit, filters = f),
          withThreshold("-1")(e.hybridSearch("docs", q, limit, filters = f)),
          "doc_key", Seq("rrf_score"), limit, "hybrid " + clue)
      }
      assert(e.ragPrompt("docs", "camping") == withThreshold("-1")(e.ragPrompt("docs", "camping")))
    }
  }

  test("engine: an under-gate read runs no Spark job; with the tier off the plan runs") {
    val e = engineWith(TableMethod.Join)
    e.enableSqlFunctions()
    // the first read builds the snapshot (Spark jobs), the rest are local
    e.search("docs", "warm", 3).collect()
    assert(jobsIn(e.search("docs", "camping", 5).collect()) == 0)
    assert(jobsIn(e.search("docs", "camping", 5, lang).collect()) == 0)
    assert(jobsIn(e.hybridSearch("docs", "pencil tent", 5).collect()) == 0)
    assert(jobsIn(e.hybridSearchJson("docs", "pencil tent", 5, lang).collect()) == 0)
    assert(jobsIn(e.ragPrompt("docs", "ocean")) == 0)
    assert(jobsIn(spark.sql("SELECT * FROM vectorize_hybrid_search('docs', 'pizza', 4)").collect()) == 0)
    assert(jobsIn(spark.sql("SELECT * FROM vectorize_search('docs', 'pizza', 4)").collect()) == 0)
    // where_sql, pre-filtering and BM25 take the plan
    assert(jobsIn(e.search("docs", "camping", 5, whereSql = Some("n > 3")).collect()) > 0)
    assert(jobsIn(e.hybridSearch("docs", "camping", 5, bm25 = true).collect()) > 0)
    withThreshold("-1") {
      val plan = e.search("docs", "camping", 5).queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), plan)
      assert("BroadcastHashJoin [^\\n]*Inner".r.findFirstIn(plan).isDefined, plan)
      assert(jobsIn(e.search("docs", "camping", 5).collect()) > 0)
    }
  }

  test("engine: the snapshot follows source re-registration and store commits") {
    val e = engineWith(TableMethod.Join, n = 20)
    val before = e.search("docs", "zebra", 3).collect()
    e.registerSource("docs_src", docs(20, tag = " zebra"))
    // the same stores under a re-registered source: the new text joins
    assert(e.search("docs", "zebra", 3).collect().forall(_.getAs[String]("body").endsWith("zebra")))
    e.refreshJob("docs")
    val after = e.hybridSearch("docs", "zebra", 3).collect()
    assert(before.nonEmpty && before.forall(_.getAs[Any]("similarity_score") != null))
    assert(after.length == 3 && after.forall(_.getAs[Any]("fts_score") != null),
      s"refreshed tokens must serve: ${after.toSeq}")
    assert(after.toSeq == withThreshold("-1")(e.hybridSearch("docs", "zebra", 3).collect().toSeq))
  }

  test("persist leak: reads, refreshJob, processBatch and merge leave nothing persisted") {
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet
    def noLeak(what: String)(body: => Unit): Unit = {
      val before = persisted
      body
      assert((persisted -- before).isEmpty, s"$what left persisted RDDs: ${persisted -- before}")
    }
    // enough rows that the batches below write store deltas
    val e = engineWith(TableMethod.Join, n = 2000)
    noLeak("under-gate search")(e.search("docs", "camping", 5).collect())
    noLeak("above-gate search")(withThreshold("-1")(e.search("docs", "camping", 5).collect()))
    e.registerSource("docs_src", docs(2000, tag = " fresh").filter("n < 20").unionByName(
      docs(2000).filter("n >= 20")))
    noLeak("refreshJob")(e.refreshJob("docs"))
    noLeak("processBatch")(streaming.Realtime.processBatch(e, e.job("docs").get,
      docs(5, tag = " batch")))
    val patches = e.servingPatches.get
    noLeak("patched read")(e.search("docs", "camping", 5).collect())
    assert(e.servingPatches.get == patches + 1, "the read after the batch patches the snapshot")
    e.store.merge("t", docs(10), "doc_key")
    noLeak("store.merge")(e.store.merge("t", docs(12, tag = " merged"), "doc_key"))
  }

  test("engine: the first read after a delta MERGE patches the snapshot, one job per changed frame") {
    val n = 3000
    val e = new VectorizeEngine(spark, TestSpark.tempDir("graft_serve_patch_"),
      embeddingProviderOverride = Some(new providers.DeterministicHashProvider(32)))
    e.registerSource("docs_src", onDisk(docs(n)))
    e.createJob(job(TableMethod.Join))
    val j = e.job("docs").get
    def bases = Seq(e.embTable("docs"), e.tokTable("docs")).map(e.store.readHandle(_).get.base)
    def counts = (e.servingBuilds.get, e.servingPatches.get)
    def batch(from: Int) = docs(n, tag = " zebra").filter(s"n >= $from and n < ${from + 50}")
    def agrees(what: String): Unit = Seq("camping zebra", "pencil").foreach { q =>
      assertSame(e.hybridSearch("docs", q, 8), withThreshold("-1")(e.hybridSearch("docs", q, 8)),
        "doc_key", Seq("rrf_score"), 8, s"$what '$q'")
    }
    e.search("docs", "warm", 3).collect()
    val base0 = bases
    // a 50-row batch, the source unchanged: one delta collect per table
    streaming.Realtime.processBatch(e, j, batch(0))
    assert(bases == base0, "a 50-row batch writes deltas")
    var c = counts
    assert(jobsIn(e.search("docs", "camping", 5).collect()) == 2)
    assert(counts == (c._1, c._2 + 1))
    agrees("patched")
    // the source re-registered too: its collect is the third job
    e.registerSource("docs_src", onDisk(docs(n, tag = " zebra").filter("n < 100")
      .unionByName(docs(n).filter("n >= 100"))))
    streaming.Realtime.processBatch(e, j, batch(50))
    assert(bases == base0)
    c = counts
    assert(jobsIn(e.search("docs", "camping", 5).collect()) == 3)
    assert(counts == (c._1, c._2 + 1))
    agrees("patched with a new source")
    // a compaction writes new bases: the next read builds
    withThreshold("-1")(streaming.Realtime.processBatch(e, j, batch(100)))
    assert(bases.zip(base0).forall { case (now, was) => now.nonEmpty && now != was })
    c = counts
    e.search("docs", "camping", 5).collect()
    assert(counts == (c._1 + 1, c._2))
    agrees("rebuilt after a compaction")
  }

  test("engine: a 50-row processBatch into tables with deltas runs 4 Spark jobs; " +
      "with broadcasts off it keeps the old path and writes the same rows") {
    val n = 3000
    def newEngine(tag: String) = {
      val e = new VectorizeEngine(spark, TestSpark.tempDir("graft_serve_local_"),
        embeddingProviderOverride = Some(new SiteRecordingProvider(32, tag)))
      e.registerSource("docs_src", onDisk(docs(n)))
      e.createJob(job(TableMethod.Join))
      e
    }
    def batch(from: Int) = onDisk(docs(n, tag = " zebra").filter(s"n >= $from and n < ${from + 50}").coalesce(1))
    val (first, second) = (batch(0), batch(50))
    /** The batch's Spark jobs and whether it was embedded on the driver
      * (the batch collected there) rather than in tasks. */
    def process(e: VectorizeEngine, tag: String, b: DataFrame): (Int, Boolean) = {
      val (driver0, tasks0) = (SiteRecordingProvider.onDriver(tag), SiteRecordingProvider.inTasks(tag))
      val jobs = jobsIn(streaming.Realtime.processBatch(e, e.job("docs").get, b))
      val (driver, tasks) =
        (SiteRecordingProvider.onDriver(tag) - driver0, SiteRecordingProvider.inTasks(tag) - tasks0)
      assert((driver == 0) != (tasks == 0), s"$tag: $driver provider calls on the driver, $tasks in tasks")
      (jobs, driver > 0)
    }
    def stored(e: VectorizeEngine) = Seq(e.embTable("docs"), e.tokTable("docs")).map { t =>
      e.store.read(t).drop("updated_at").collect().map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.toList
        case v => v
      }).toSet
    }
    val local = newEngine("local")
    process(local, "local", first)
    assert(Seq(local.embTable("docs"), local.tokTable("docs"))
      .forall(local.store.readHandle(_).get.delta.nonEmpty), "both tables hold a delta")
    // the dedup collect (a shuffle map stage and its result) and one
    // 1-task delta write per table
    assert(process(local, "local", second) == (4, true))
    val shuffled = withThreshold("-1") {
      val e = newEngine("shuffled")
      Seq(first, second).foreach(b =>
        assert(!process(e, "shuffled", b)._2, "broadcasts off: the batch is persisted"))
      e
    }
    assert(stored(local) == stored(shuffled))
  }

  test("property: after random commits the patched snapshot answers like a fresh build and the plans") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val n = 600
    val vocab = Seq("camping", "backpack", "pencil", "airplane", "pizza", "tent", "ocean", "zebra")
      .flatMap(graft.functions.TextAnalyzer.queryLexemes(_)).distinct
    val steps = Seq("batch", "batch", "merge", "merge", "merge", "compact", "widen", "delete",
      "register", "register", "recreate", "rejob")
    Seq(TableMethod.Join -> 41L, TableMethod.Append -> 43L).foreach { case (m, seed) =>
      val rnd = new scala.util.Random(seed)
      val dir = TestSpark.tempDir("graft_serve_patchprop_")
      def newEngine() = new VectorizeEngine(spark, dir,
        embeddingProviderOverride = Some(new providers.DeterministicHashProvider(32)))
      val e = newEngine()
      var src = docs(n)
      e.registerSource("docs_src", src)
      e.createJob(job(m))
      val tok = e.tokTable("docs")
      val tables = Seq(if (m == TableMethod.Append) e.appTable("docs") else e.embTable("docs"), tok)
      var widened = false
      def handles = tables.map(e.store.readHandle)
      def counts = (e.servingBuilds.get, e.servingPatches.get)
      def randomKeys(k: Int) = Seq.fill(k)(docKey(rnd.nextInt(n))).distinct

      /** Rows for table `t` from its current ones: some keys get new
        * content, some a null vector or null tokens, some move to a key
        * the source lacks, and maybe one row gets a null key. */
      def updates(t: String): DataFrame = {
        val cur = e.store.read(t)
        val ks = randomKeys(2 + rnd.nextInt(10))
        val (changed, rest) = ks.splitAt(ks.size / 2)
        val (nulled, moved) = rest.splitAt(rest.size / 2)
        val content: Seq[(String, org.apache.spark.sql.Column)] =
          if (t == tok) {
            val ts = Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.size)))
            Seq("search_tokens" -> array(ts.map(lit): _*),
              "search_token_counts" ->
                (if (rnd.nextInt(4) == 0) lit(null).cast("array<int>")
                else array(ts.map(_ => lit(1 + rnd.nextInt(3))): _*)))
          } else {
            val salt = rnd.nextInt(1000)
            Seq("embeddings" -> array((0 until 32).map(i =>
              (pmod(hash(col("pkey"), lit(salt + i)), lit(3)) - 1).cast("float")): _*))
          }
        def pick(keys: Seq[String]) = cur.filter(col("pkey").isin(keys: _*))
        val nullKey = if (rnd.nextInt(3) == 0)
          Seq(pick(changed.take(1)).withColumn("pkey", lit(null).cast("string"))) else Nil
        (Seq(content.foldLeft(pick(changed)) { case (d, (c, v)) => d.withColumn(c, v) },
          content.foldLeft(pick(nulled)) { case (d, (c, _)) =>
            d.withColumn(c, lit(null).cast(cur.schema(c).dataType)) },
          pick(moved).withColumn("pkey", concat(col("pkey"), lit("~")))) ++ nullKey)
          .reduce(_ unionByName _)
      }
      def someTables = if (rnd.nextBoolean()) tables else Seq(tables(rnd.nextInt(2)))

      e.search("docs", "warm", 3).collect()
      var last = (src, handles)
      val seen = scala.collection.mutable.Buffer.empty[String]
      (1 to 12).foreach { step =>
        val kind = steps(rnd.nextInt(steps.size)) match {
          case "batch" if widened => "merge"
          case k => k
        }
        kind match {
          case "batch" =>
            val ids = Seq.fill(1 + rnd.nextInt(8))(rnd.nextInt(n).toLong).distinct
            streaming.Realtime.processBatch(e, e.job("docs").get,
              docs(n, tag = s" zebra$step").filter(col("n").isin(ids: _*)))
          case "merge" => someTables.foreach(t => e.store.merge(t, updates(t), "pkey"))
          case "compact" =>
            someTables.foreach(t => withThreshold("-1")(e.store.merge(t, updates(t), "pkey")))
          case "widen" =>
            val t = tables(rnd.nextInt(2))
            e.store.merge(t, updates(t).withColumn("__w", lit(step)), "pkey")
            widened = true
          case "delete" =>
            someTables.foreach(t => e.store.delete(t,
              (randomKeys(1 + rnd.nextInt(6)).map(Option(_)) ++
                (if (rnd.nextBoolean()) Seq(None) else Nil)).toDF("pkey"), "pkey"))
          case "register" =>
            val (r, d) = (rnd.nextInt(7), 3 + rnd.nextInt(5))
            src = docs(n).filter(s"n % 7 != $r").unionByName(docs(n, s" zebra$step").filter(s"n % 7 = $r"))
              .filter(s"n % $d != 1")
            e.registerSource("docs_src", src)
          case "recreate" =>
            (tables :+ e.embTable("docs")).foreach(e.store.drop)
            e.refreshJob("docs")
            widened = false
          case "rejob" =>
            e.deleteJob("docs")
            e.createJob(job(m))
            widened = false
        }
        // the engine patches exactly when some frame changed and both
        // store tables kept their bases
        val now = (src, handles)
        val expected =
          if (kind == "rejob") (1, 0)
          else if ((now._1 eq last._1) && now._2.zip(last._2).forall { case (a, b) => a == b }) (0, 0)
          else if (now._2.zip(last._2).forall { case (a, b) =>
            a.flatMap(_.base).nonEmpty && a.flatMap(_.base) == b.flatMap(_.base) }) (0, 1)
          else (1, 0)
        last = now
        val c0 = counts
        val twin = newEngine()
        twin.registerSource("docs_src", src)
        (0 until 2).foreach { q =>
          val text = (queries :+ s"zebra$step camping")(rnd.nextInt(queries.size + 1))
          val limit = 1 + rnd.nextInt(20)
          val f = Seq(Map.empty[String, FilterValue], lang, nGte)(rnd.nextInt(3))
          val clue = s"$m step $step ($kind) '$text' limit=$limit filters=$f"
          val local = e.search("docs", text, limit, f)
          assertSame(local, withThreshold("-1")(e.search("docs", text, limit, f)),
            "doc_key", Seq("similarity_score"), limit, "search vs plan " + clue)
          assertSame(local, twin.search("docs", text, limit, f),
            "doc_key", Seq("similarity_score"), limit, "search vs build " + clue)
          val hybrid = e.hybridSearch("docs", text, limit, filters = f)
          assertSame(hybrid, withThreshold("-1")(e.hybridSearch("docs", text, limit, filters = f)),
            "doc_key", Seq("rrf_score", "similarity_score", "fts_score"), limit, "hybrid vs plan " + clue)
          assertSame(hybrid, twin.hybridSearch("docs", text, limit, filters = f),
            "doc_key", Seq("rrf_score", "similarity_score", "fts_score"), limit, "hybrid vs build " + clue)
        }
        val c1 = counts
        assert((c1._1 - c0._1, c1._2 - c0._2) == expected, s"$m step $step ($kind): builds, patches")
        seen += s"$kind:${if (expected._2 == 1) "patched" else if (expected._1 == 1) "built" else "kept"}"
        assert(twin.servingBuilds.get == 1 && twin.servingPatches.get == 0)
      }
      info(s"$m: ${seen.mkString(" ")}")
      assert(e.servingPatches.get >= 3 && e.servingBuilds.get >= 3,
        s"$m: ${e.servingBuilds.get} builds, ${e.servingPatches.get} patches")
    }
  }

  test("concurrency: reads during a processBatch commit answer the state before or after it") {
    val e = engineWith(TableMethod.Join, n = 80)
    val api = new graft.api.HttpApi(e, port = 0)
    api.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def http(q: String): String = {
        val uri = java.net.URI.create(s"http://127.0.0.1:${api.boundPort}/api/v1/search?job_name=docs&query=" +
          java.net.URLEncoder.encode(q, "UTF-8") + "&limit=6")
        val resp = client.send(java.net.http.HttpRequest.newBuilder(uri).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode == 200, resp.body)
        resp.body
      }
      def engine(q: String): Seq[Row] = e.search("docs", q, 6).collect().toSeq
      val qs = Seq("camping", "zebra pencil", "ocean")
      // the batch rewrites rows the source already shows: re-register first
      val changed = docs(80, tag = " zebra").filter("n % 3 = 0")
      e.registerSource("docs_src", docs(80).filter("n % 3 != 0").unionByName(changed))
      def answers() = withThreshold("-1")(qs.map(q => q -> (engine(q), http(q))).toMap)
      val before = answers()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Row], String)]()
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val readers = (0 until 4).map { t =>
        val th = new Thread(() =>
          try {
            var i = t
            while (!stop.get) {
              val q = qs(i % qs.size)
              seen.add((q, engine(q), http(q)))
              i += 1
            }
          } catch { case x: Throwable => errors.add(x) })
        th.start()
        th
      }
      Thread.sleep(200)
      streaming.Realtime.processBatch(e, e.job("docs").get, changed)
      Thread.sleep(200)
      stop.set(true)
      readers.foreach(_.join())
      assert(errors.isEmpty, errors.asScala.map(_.toString).mkString("\n"))
      val after = answers()
      assert(before != after, "the batch must change some answer")
      assert(seen.size > 0)
      seen.asScala.foreach { case (q, rows, json) =>
        assert(rows == before(q)._1 || rows == after(q)._1, s"engine '$q' answered a torn state: $rows")
        assert(json == before(q)._2 || json == after(q)._2, s"HTTP '$q' answered a torn state: $json")
      }
    } finally api.stop()
  }

  test("concurrency: a first read during a write returns at once, with the state before it") {
    val changed = docs(40, tag = " zebra").filter("n % 3 = 0")
    def newEngine() = {
      val e = new VectorizeEngine(spark, TestSpark.tempDir("graft_serve_hold_"),
        embeddingProviderOverride = Some(new HoldingProvider))
      e.registerSource("docs_src", docs(40))
      e.createJob(job(TableMethod.Join))
      // the batch rewrites rows the source already shows: re-register first
      e.registerSource("docs_src", docs(40).filter("n % 3 != 0").unionByName(changed))
      e
    }
    def read(e: VectorizeEngine) = e.hybridSearch("docs", "camping pencil", 6).collect().toSeq
    // the state before the batch, answered by the plan of a twin engine:
    // the engine under test reads nothing before its write starts
    val before = withThreshold("-1")(read(newEngine()))
    val e = newEngine()
    HoldingProvider.hold()
    val writer = new Thread(() =>
      streaming.Realtime.processBatch(e, e.job("docs").get, changed))
    try {
      writer.start()
      assert(HoldingProvider.entered.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "the batch must reach its provider call")
      // the batch has committed its tokens and holds its vector MERGE
      val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
      val during =
        try pool.submit(() => read(e)).get(60, java.util.concurrent.TimeUnit.SECONDS)
        finally pool.shutdownNow()
      assert(writer.isAlive, "the read must return while the write is in flight")
      assert(during == before, s"a read during the write answered $during, not the state before it")
    } finally {
      HoldingProvider.release()
      writer.join()
    }
    val after = read(e)
    assert(after != before, "the batch must change the answer")
    assert(after == withThreshold("-1")(read(e)))
  }
}

/** Embeds like [[providers.DeterministicHashProvider]], and while held
  * blocks the first call whose inputs mention "zebra" until released
  * (one task: the other task slots stay free for readers). */
object HoldingProvider {
  @volatile private var gate = new java.util.concurrent.CountDownLatch(0)
  @volatile var entered = new java.util.concurrent.CountDownLatch(1)
  private val claimed = new java.util.concurrent.atomic.AtomicBoolean(true)
  def hold(): Unit = {
    entered = new java.util.concurrent.CountDownLatch(1)
    gate = new java.util.concurrent.CountDownLatch(1)
    claimed.set(false)
  }
  def release(): Unit = gate.countDown()
  private[graft] def pass(inputs: Seq[String]): Unit =
    if (inputs.exists(_.contains("zebra")) && claimed.compareAndSet(false, true)) {
      entered.countDown()
      gate.await()
    }
}

final class HoldingProvider extends providers.EmbeddingProvider {
  private val inner = new providers.DeterministicHashProvider(32)
  override def modelDim(model: String): Int = inner.modelDim(model)
  override def generateEmbeddings(model: String, inputs: Seq[String]): Seq[Array[Float]] = {
    HoldingProvider.pass(inputs)
    inner.generateEmbeddings(model, inputs)
  }
}
