package graft

import graft.sources.ParquetStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed-merge store semantics: upsert correctness AND the scale
  * properties — a MERGE into a bucketed table writes one small delta
  * and reads or rewrites no bucket, and the copy-on-write compaction
  * rewrites only the key-hash buckets it touches (per-merge I/O ∝
  * batch, not table — the property Delta MERGE has and
  * copy-on-write-the-world does not).
  */
class ParquetStoreSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** `ids` as rows Spark reads from an RDD: a delta MERGE of them takes
    * the shuffle path. */
  private def rows(ids: Range, tag: String) = distributed(localRows(ids, tag))

  /** The same rows as a local relation: a delta MERGE of them takes the
    * local path (on the driver, no shuffle). */
  private def localRows(ids: Range, tag: String) =
    ids.map(i => (i.toString, s"$tag-$i")).toDF("pkey", "payload")

  /** `df`'s rows read from an RDD instead of a local relation. */
  private def distributed(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

  /** Runs `body` with broadcasts off, which makes every MERGE take the
    * copy-on-write compaction path (a delta read needs its broadcast);
    * the shared test session gets its setting back. */
  private def copyOnWrite[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  private def contents(store: ParquetStore, table: String = "t"): Map[Option[String], String] = {
    val got = store.read(table).collect().map(r => Option(r.getString(0)) -> r.getString(1))
    assert(got.map(_._1).distinct.length == got.length, s"duplicate keys: ${got.toSeq}")
    got.toMap
  }

  /** The `_BUCKETS` header lines and bucket lines of a table. */
  private def bucketsFile(dir: String, table: String = "t"): (Seq[String], Seq[String]) =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, table, "_BUCKETS")),
      "UTF-8").split("\n").toSeq.partition(_.startsWith("#"))

  private def versionDirs(dir: String, table: String = "t"): Set[String] =
    new java.io.File(s"$dir/$table").listFiles().map(_.getName).filter(_.startsWith("v_")).toSet

  test("merge: updates replace same-key rows, new keys append") {
    val store = new ParquetStore(spark, TestSpark.tempDir("graft_ps_"))
    store.merge("t", rows(1 to 100, "v1"), "pkey")
    assert(store.read("t").count() == 100)
    store.merge("t", rows(50 to 120, "v2"), "pkey")
    val got = store.read("t").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == 120)
    assert(got("10") == "v1-10")
    assert(got("50") == "v2-50" && got("120") == "v2-120")
  }

  /** Part files in each `__bucket=<b>` dir the table is served from. */
  private def partFilesByBucket(store: ParquetStore): Map[String, Int] =
    store.read("t").inputFiles
      .map(f => new java.io.File(new java.net.URI(f)).getParentFile)
      .groupBy(_.getName).map { case (b, dirs) =>
        b -> dirs.flatMap(_.listFiles()).distinct
          .count(_.getName.endsWith(".parquet"))
      }

  test("merge bounds output files per bucket (adaptive rebalance write)") {
    // without the pre-write rebalance, every upstream task writes its
    // own file into every bucket it touches: a 32-partition merge
    // into 16 buckets left up to 512 files, and small-table probes
    // paid per-file listing/footer costs 3x the data. Below the
    // advisory partition size, adaptive execution coalesces the
    // rebalance: one file per bucket
    val store = new ParquetStore(spark, TestSpark.tempDir("graft_ps_files_"))
    store.merge("t", rows(1 to 500, "v1").repartition(32), "pkey")
    copyOnWrite(store.merge("t", rows(200 to 700, "v2").repartition(32), "pkey"))
    val small = partFilesByBucket(store)
    assert(small.size == 16)
    assert(small.values.forall(_ == 1),
      s"a sub-advisory merge must write one file per bucket, got ${small.toSeq.sorted}")
    // and a bucket larger than the advisory size must be SPREAD over
    // several writers: a one-writer-per-bucket rebalance would be the
    // 100 TB tail. The advisory size is lowered for this check only:
    // the shared test session gets its setting back
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(advisory)
    spark.conf.set(advisory, "1k")
    try {
      val big = new ParquetStore(spark, TestSpark.tempDir("graft_ps_files_"))
      big.merge("t", rows(1 to 2000, "v1").repartition(32), "pkey")
      copyOnWrite(big.merge("t", rows(1500 to 2500, "v2").repartition(32), "pkey"))
      val got = big.read("t").collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got.size == 2500 && got("10") == "v1-10" && got("2000") == "v2-2000")
      val spread = partFilesByBucket(big)
      assert(spread.values.exists(_ > 1),
        s"expected some bucket with >1 part file, got ${spread.toSeq.sorted}")
    } finally prev match {
      case Some(p) => spark.conf.set(advisory, p)
      case None => spark.conf.unset(advisory)
    }
  }

  /** (stage name, runs inside a SQL execution) of every job `body` starts. */
  private def jobsOf(body: => Unit): Seq[(String, Boolean)] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add((js.stageInfos.maxBy(_.stageId).name,
          js.properties.getProperty("spark.sql.execution.id") != null))
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  // parquet schema inference is the one job a read starts outside any
  // SQL execution; a merge's collect and write run inside one
  private def inferences(jobs: Seq[(String, Boolean)]) = jobs.filter { case (site, inSql) =>
    site.startsWith("parquet at ParquetStore.scala") && !inSql }

  /** Rewrite a table's `_BUCKETS` without its schema and token header
    * lines, the format of commits made before they existed. */
  private def stripHeader(dir: String, table: String): Unit = {
    val p = java.nio.file.Paths.get(dir, table, "_BUCKETS")
    val lines = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").split("\n")
      .filterNot(l => l.startsWith("#schema ") || l.startsWith("#token "))
    java.nio.file.Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
  }

  test("a 50-row MERGE takes its schema from the commit header, one file per bucket") {
    val dir = TestSpark.tempDir("graft_ps_jobs_")
    val store = new ParquetStore(spark, dir)
    store.merge("t", rows(1 to 800, "v1"), "pkey")
    val update = rows(1 to 50, "v2")
    // compacting: the delta MERGE's own pin is "a 50-row MERGE into a
    // 5,000-row table writes one delta ..."
    val seen = jobsOf(copyOnWrite(store.merge("t", update, "pkey")))
    assert(inferences(seen).isEmpty, s"no schema inference for a table with a header, jobs: $seen")

    val v = store.currentVersion("t").get
    val vDir = new java.io.File(s"$dir/t/v_$v")
    val perBucket = vDir.listFiles().filter(_.getName.startsWith("__bucket="))
      .map(b => b.getName -> b.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perBucket.nonEmpty)
    assert(perBucket.forall(_._2 == 1),
      s"a sub-advisory MERGE writes one file per bucket, got ${perBucket.toSeq.sorted}")
    assert(inferences(jobsOf(assert(store.read("t").count() == 800))).isEmpty)
    val keys = rows(1 to 5, "x").select("pkey")
    assert(inferences(jobsOf(store.delete("t", keys, "pkey"))).isEmpty)
    assert(store.read("t").count() == 795)
  }

  test("read: the header schema equals the inferred one, one handle per commit") {
    val dir = TestSpark.tempDir("graft_ps_handle_")
    val store = new ParquetStore(spark, dir)
    val wide = (1 to 40).map(i => (i.toString, Seq(i.toFloat, 0.5f), i.toLong,
      new java.sql.Timestamp(i * 1000L), if (i % 3 == 0) null else s"t$i"))
      .toDF("pkey", "embeddings", "n", "updated_at", "note")
    store.merge("t", wide, "pkey")
    val inferred = spark.read.option("recursiveFileLookup", "true").parquet(s"$dir/t/v_0").schema
    assert(store.read("t").schema == inferred)
    assert(store.read("t") eq store.read("t"), "an unchanged table serves one handle")
    val before = store.read("t")
    store.merge("t", wide.limit(3), "pkey")
    assert(!(store.read("t") eq before), "a commit changes the handle")
    store.overwrite("f", wide)
    assert(store.read("f").schema == spark.read.parquet(s"$dir/f/v_0").schema)
    // drop and re-create: the same bucket map at v_0, a new handle
    val first = store.read("f")
    store.drop("f")
    store.overwrite("f", wide.limit(5))
    assert(!(store.read("f") eq first))
    assert(store.read("f").count() == 5)
  }

  test("a table without the header lines or without _BUCKETS fails loudly") {
    val dir = TestSpark.tempDir("graft_ps_noheader_")
    val store = new ParquetStore(spark, dir)
    store.merge("t", rows(1 to 300, "v1"), "pkey")
    stripHeader(dir, "t")
    def failsNamingTable(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains(s"$dir/t") && e.getMessage.contains("#schema"), e.getMessage)
    }
    failsNamingTable(store.read("t"))
    failsNamingTable(store.merge("t", rows(1 to 50, "v2"), "pkey"))
    failsNamingTable(store.delete("t", rows(1 to 5, "x").select("pkey"), "pkey"))
    // the old layout: a _BUCKETS without #version beside a version
    // pointer and a property file
    def failsAsOldLayout(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains(s"$dir/u") && e.getMessage.contains("old store layout"),
        e.getMessage)
    }
    store.merge("u", rows(1 to 30, "v1"), "pkey")
    val u = java.nio.file.Paths.get(dir, "u")
    val old = new String(java.nio.file.Files.readAllBytes(u.resolve("_BUCKETS")), "UTF-8")
      .split("\n").filterNot(_.startsWith("#version ")).mkString("\n")
    java.nio.file.Files.write(u.resolve("_BUCKETS"), old.getBytes("UTF-8"))
    java.nio.file.Files.write(u.resolve("_CURRENT"), "0".getBytes("UTF-8"))
    java.nio.file.Files.write(u.resolve("_META"), "minhash.bands 16".getBytes("UTF-8"))
    failsAsOldLayout(store.read("u"))
    failsAsOldLayout(store.getMeta("u"))
    failsAsOldLayout(store.merge("u", rows(1 to 5, "v2"), "pkey"))
    failsAsOldLayout(store.overwrite("u", rows(1 to 5, "v2")))
    // without its _BUCKETS the table does not exist, and a first write
    // beside the old control files fails
    java.nio.file.Files.delete(u.resolve("_BUCKETS"))
    assert(!store.exists("u"))
    failsAsOldLayout(store.merge("u", rows(1 to 5, "v2"), "pkey"))
    failsAsOldLayout(store.overwrite("u", rows(1 to 5, "v2"), Map("label" -> "a")))
  }

  test("a read over a lost bucket dir fails instead of returning fewer rows") {
    val dir = TestSpark.tempDir("graft_ps_lost_")
    val store = new ParquetStore(spark, dir)
    store.merge("t", rows(1 to 300, "v1"), "pkey")
    val (_, map) = bucketsFile(dir)
    val lost = java.nio.file.Paths.get(dir, "t", "v_0", s"__bucket=${map.head.split(" ")(0)}")
    java.nio.file.Files.walk(lost).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    val e = intercept[org.apache.spark.sql.AnalysisException](store.read("t"))
    assert(e.getMessage.contains("__bucket="), e.getMessage)
  }

  test("readSnapshotWithMeta takes the schema from the commit header: no inference job") {
    val dir = TestSpark.tempDir("graft_ps_snapmeta_")
    val store = new ParquetStore(spark, dir)
    val wide = (1 to 20).map(i => (i.toString, i.toLong, if (i % 4 == 0) null else s"t$i"))
      .toDF("pkey", "n", "note")
    store.overwrite("cdf", wide, Map("label" -> "a"))
    var got: (org.apache.spark.sql.DataFrame, Map[String, String]) = null
    val seen = jobsOf { got = store.readSnapshotWithMeta("cdf"); got._1.schema }
    assert(inferences(seen).isEmpty, s"no schema inference on a header table, jobs: $seen")
    assert(got._2 == Map("label" -> "a"))
    assert(got._1.schema == spark.read.parquet(s"$dir/cdf/v_0").schema)
    assert(got._1.collect().map(_.toString).toSet == wide.collect().map(_.toString).toSet)
    store.overwrite("cdf", wide.limit(7), Map("label" -> "b"))
    val next = store.readSnapshotWithMeta("cdf")
    assert(next._2 == Map("label" -> "b") && next._1.count() == 7)
  }

  test("merge widens a pre-existing table with new update columns") {
    val store = new ParquetStore(spark, TestSpark.tempDir("graft_ps_evo_"))
    store.merge("t", rows(1 to 10, "v1"), "pkey")
    // render path grows a column (the search_token_counts shape):
    // updated rows carry it, kept rows surface it as null — never
    // silently dropped
    val wide = (5 to 12).map(i => (i.toString, s"v2-$i", i * 10))
      .toDF("pkey", "payload", "extra")
    store.merge("t", wide, "pkey")
    val got = store.read("t").collect()
      .map(r => r.getString(0) -> Option(r.getAs[Any]("extra"))).toMap
    assert(got.size == 12)
    assert(got("3") == None, "kept row gets null for the new column")
    assert(got("7") == Some(70) && got("12") == Some(120))
  }

  test("merge rewrites ONLY the touched buckets") {
    val dir = TestSpark.tempDir("graft_ps_")
    val store = new ParquetStore(spark, dir)
    store.merge("t", rows(1 to 200, "v1"), "pkey")

    def bucketDirs(v: Long): Set[String] = {
      val p = new Path(s"$dir/t/v_$v")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith("__bucket=")).toSet
    }
    val v0Buckets = bucketDirs(0)
    assert(v0Buckets.size > 1, "initial merge must produce multiple buckets")

    // a single-key update touches exactly ONE bucket (compacting: a
    // delta MERGE rewrites none)
    copyOnWrite(store.merge("t", Seq(("7", "v2-7")).toDF("pkey", "payload"), "pkey"))
    val v1Buckets = bucketDirs(1)
    assert(v1Buckets.size == 1,
      s"single-key merge must rewrite one bucket, rewrote: $v1Buckets")
    // untouched buckets still served from v_0 (files untouched on disk)
    assert(v0Buckets.intersect(bucketDirs(0)).size == v0Buckets.size)
    val got = store.read("t").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == 200)
    assert(got("7") == "v2-7")
    assert(got("8") == "v1-8")
  }

  test("flat overwrite is re-bucketed by the first merge without losing rows") {
    val store = new ParquetStore(spark, TestSpark.tempDir("graft_ps_"))
    store.overwrite("t", rows(1 to 50, "v1"))
    assert(store.read("t").count() == 50)
    store.merge("t", Seq(("3", "v2-3"), ("99", "v2-99")).toDF("pkey", "payload"), "pkey")
    val got = store.read("t").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == 51)
    assert(got("3") == "v2-3" && got("99") == "v2-99" && got("17") == "v1-17")
  }

  test("delete removes only the named keys, bucket-scoped") {
    val store = new ParquetStore(spark, TestSpark.tempDir("graft_ps_"))
    store.merge("t", rows(1 to 100, "v1"), "pkey")
    store.delete("t", Seq("5", "6").toDF("pkey"), "pkey")
    val got = store.read("t").collect().map(_.getString(0)).toSet
    assert(got.size == 98 && !got.contains("5") && !got.contains("6"))
  }

  test("repeated merges GC unreferenced snapshots but keep the previous one") {
    val dir = TestSpark.tempDir("graft_ps_")
    val store = new ParquetStore(spark, dir)
    store.merge("t", rows(1 to 20, "v1"), "pkey")
    // compacting merges; the delta form is pinned by "a reader holding
    // a handle across one commit ..."
    (1 to 5).foreach(i => copyOnWrite(
      store.merge("t", Seq(("1", s"u$i")).toDF("pkey", "payload"), "pkey")))
    assert(store.read("t").collect().map(r => r.getString(0) -> r.getString(1))
      .toMap.apply("1") == "u5")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new Path(s"$dir/t")).map(_.getPath.getName)
      .filter(_.startsWith("v_")).map(_.stripPrefix("v_").toLong).toSet
    // v_0 still referenced by untouched buckets; intermediate
    // single-bucket versions (superseded and older than current-1)
    // must be gone
    assert(versions.contains(0L))
    assert(versions.contains(5L))
    assert(!versions.exists(v => v >= 1 && v <= 3),
      s"superseded snapshots not GC'd: $versions")
  }

  test("bucket count is persisted: reopening with a different nBuckets stays correct") {
    val root = TestSpark.tempDir("graft_ps_")
    val store16 = new ParquetStore(spark, root, nBuckets = 16)
    store16.merge("t", rows(1 to 100, "v1"), "pkey")
    // a session with a different constructor value must honor the
    // on-disk layout, not re-hash into phantom buckets
    val store32 = new ParquetStore(spark, root, nBuckets = 32)
    store32.merge("t", rows(50 to 120, "v2"), "pkey")
    val got = store32.read("t").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == 120, "no duplicate or lost pkeys after bucket-count mismatch")
    assert(got("10") == "v1-10" && got("50") == "v2-50")
    store32.delete("t", Seq("60").toDF("pkey"), "pkey")
    assert(store32.read("t").count() == 119)
  }

  test("a copy-on-write MERGE into buckets the table does not hold yet appends its rows") {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val dir = TestSpark.tempDir("graft_ps_sparse_")
    val store = new ParquetStore(spark, dir)
    store.merge("t", rows(1 to 1, "v1"), "pkey")
    val Seq(held) = bucketsFile(dir)._2.map(_.split(" ")(0).toInt)
    // keys that hash only into buckets the table holds no dir for
    val other = rows(2 to 40, "v2").where(pmod(hash(col("pkey")), lit(16)) =!= held)
    val n = other.count().toInt
    copyOnWrite(assert(store.merge("t", other, "pkey")))
    assert(bucketsFile(dir)._2.size > 1 && bucketsFile(dir)._2.exists(_.startsWith(s"$held 0 ")),
      bucketsFile(dir)._2)
    val got = contents(store)
    assert(got.size == n + 1 && got(Some("1")) == "v1-1")
  }

  test("a delete with no keys on a table with a delta commits nothing and keeps the delta") {
    val dir = TestSpark.tempDir("graft_ps_delnone_")
    val store = new ParquetStore(spark, dir)
    store.merge("t", rows(1 to 2000, "v1"), "pkey")
    store.merge("t", rows(1 to 10, "v2"), "pkey")
    val before = bucketsFile(dir)
    assert(before._1.exists(_.startsWith("#delta ")), before._1)
    val v = store.currentVersion("t")
    store.delete("t", Seq.empty[String].toDF("pkey"), "pkey")
    assert(store.currentVersion("t") == v && bucketsFile(dir) == before)
    assert(contents(store).size == 2000)
  }

  test("a delete of a key held only in the delta removes that row") {
    val dir = TestSpark.tempDir("graft_ps_deldelta_")
    val store = new ParquetStore(spark, dir)
    store.merge("t", rows(1 to 2000, "v1"), "pkey")
    store.merge("t", rows(2001 to 2005, "v2"), "pkey")
    assert(bucketsFile(dir)._1.exists(_.startsWith("#delta ")))
    store.delete("t", Seq("2003").toDF("pkey"), "pkey")
    assert(!bucketsFile(dir)._1.exists(_.startsWith("#delta ")))
    val got = contents(store)
    assert(got.size == 2004 && !got.contains(Some("2003")) && got(Some("2004")) == "v2-2004")
  }

  test("deleting every remaining key leaves the table nonexistent, not bricked") {
    val store = new ParquetStore(spark, TestSpark.tempDir("graft_ps_"))
    store.merge("t", rows(1 to 5, "v1"), "pkey")
    store.delete("t", rows(1 to 5, "v1").select("pkey"), "pkey")
    assert(!store.exists("t"), "empty table == nonexistent table")
    store.merge("t", rows(1 to 3, "v2"), "pkey")
    assert(store.read("t").count() == 3)
  }

  test("zero-row first merge leaves the table nonexistent, not bricked") {
    val store = new ParquetStore(spark, TestSpark.tempDir("graft_ps_"))
    store.merge("t", rows(1 to 0, "v1"), "pkey")
    assert(!store.exists("t"))
    // and a later real merge works normally
    store.merge("t", rows(1 to 5, "v1"), "pkey")
    assert(store.read("t").count() == 5)
  }

  test("null-key rows upsert (replace), never accumulate duplicates") {
    import org.apache.spark.sql.functions.lit
    val store = new ParquetStore(spark, TestSpark.tempDir("graft_ps_"))
    val withNull = rows(1 to 3, "v1")
      .union(Seq((null.asInstanceOf[String], "n-1")).toDF("pkey", "payload"))
    store.merge("t", withNull, "pkey")
    store.merge("t", distributed(Seq((null.asInstanceOf[String], "n-2")).toDF("pkey", "payload")), "pkey")
    val got = store.read("t").collect()
    assert(got.length == 4, "null key must replace, not append")
    assert(got.filter(_.isNullAt(0)).map(_.getString(1)).toSeq == Seq("n-2"))
    store.delete("t", Seq(null.asInstanceOf[String]).toDF("pkey"), "pkey")
    assert(store.read("t").filter(lit(true)).collect().forall(!_.isNullAt(0)))
  }

  test("idempotent replay: merging the same batch twice is a no-op") {
    val store = new ParquetStore(spark, TestSpark.tempDir("graft_ps_"))
    val batch = rows(1 to 30, "v1")
    store.merge("t", batch, "pkey")
    val before = store.read("t").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    store.merge("t", batch, "pkey")
    val after = store.read("t").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after == before)
  }

  test("store properties: roundtrip, table and snapshot scopes, die with drop") {
    val dir = TestSpark.tempDir("graft_ps_props_")
    val store = new ParquetStore(spark, dir)
    assert(store.getMeta("t").isEmpty, "no table yet")
    store.merge("t", rows(1 to 2000, "v1"), "pkey",
      Map("minhash.bands" -> "16", "note" -> "a b c"))
    assert(store.getMeta("t") == Map("minhash.bands" -> "16", "note" -> "a b c"),
      "values may contain spaces (first-space split)")
    // table properties describe the table: a delta MERGE, a compacting
    // MERGE and a delete carry them
    store.merge("t", rows(3 to 8, "v2"), "pkey")
    assert(bucketsFile(dir)._1.exists(_.startsWith("#delta ")))
    copyOnWrite(store.merge("t", rows(5 to 9, "v3"), "pkey"))
    store.delete("t", Seq("4").toDF("pkey"), "pkey")
    assert(store.getMeta("t")("minhash.bands") == "16")
    // an empty MERGE commits nothing, so records nothing
    assert(!store.merge("t", rows(1 to 0, "x"), "pkey", Map("k" -> "v")))
    assert(store.getMeta("t")("minhash.bands") == "16")
    store.merge("t", rows(1 to 2, "v4"), "pkey", Map("minhash.bands" -> "8"))
    assert(store.getMeta("t") == Map("minhash.bands" -> "8"),
      "a write's properties replace the whole set")
    intercept[IllegalArgumentException](store.merge("t", rows(1 to 2, "x"), "pkey",
      Map("bad key" -> "x")))
    intercept[IllegalArgumentException](store.overwrite("t", rows(1 to 2, "x"),
      Map("k" -> "line1\nline2")))
    // snapshot properties name one snapshot: they replace the table
    // properties, and the next commit of any kind drops them
    store.overwrite("t", rows(1 to 5, "s1"), Map("label" -> "snap1"))
    assert(store.getMeta("t") == Map("label" -> "snap1"))
    store.overwrite("t", rows(1 to 5, "s2"))
    assert(store.getMeta("t").isEmpty && store.readSnapshotWithMeta("t")._2.isEmpty,
      "a plain overwrite never serves the superseded snapshot's label")
    store.overwrite("t", rows(1 to 5, "s3"), Map("label" -> "snap3"))
    store.merge("t", rows(2 to 3, "s4"), "pkey")
    assert(store.getMeta("t").isEmpty, "a MERGE drops the snapshot's label")
    // a plain overwrite carries table properties
    store.merge("t", rows(2 to 3, "s5"), "pkey", Map("owner" -> "x"))
    store.overwrite("t", rows(1 to 5, "s6"))
    assert(store.getMeta("t") == Map("owner" -> "x"))
    store.drop("t")
    assert(store.getMeta("t").isEmpty, "drop removes the properties with the table")
  }

  test("a failed property-setting write leaves the previous (rows, properties) pair served") {
    import org.apache.spark.sql.functions.{col, udf}
    val boom = udf((x: Long) => { if (x >= 0) throw new RuntimeException("boom"); x.toString })
    val bad = spark.range(3).select(boom(col("id")).as("pkey"), col("id").cast("string").as("payload"))
    val dir = TestSpark.tempDir("graft_ps_propfail_")
    val store = new ParquetStore(spark, dir)
    // a never-committed table stays nonexistent, with no properties
    intercept[Throwable](store.merge("m", bad, "pkey", Map("label" -> "x")))
    intercept[Throwable](store.overwrite("o", bad, Map("label" -> "x")))
    Seq("m", "o").foreach { t =>
      assert(!store.exists(t) && store.getMeta(t).isEmpty, t)
    }
    // a committed table keeps its pair through every failed write path:
    // a delta MERGE, a copy-on-write MERGE and an overwrite
    store.merge("t", rows(1 to 2000, "v1"), "pkey", Map("label" -> "a"))
    store.overwrite("s", rows(1 to 5, "v1"), Map("label" -> "a"))
    def unchanged(t: String, n: Int): Unit = {
      val (df, props) = store.readSnapshotWithMeta(t)
      assert(props == Map("label" -> "a") && df.count() == n, (t, props))
    }
    intercept[Throwable](store.merge("t", bad, "pkey", Map("label" -> "b")))
    unchanged("t", 2000)
    intercept[Throwable](copyOnWrite(store.merge("t", bad, "pkey", Map("label" -> "b"))))
    unchanged("t", 2000)
    intercept[Throwable](store.overwrite("s", bad, Map("label" -> "b")))
    unchanged("s", 5)
    intercept[Throwable](store.merge("s", bad, "pkey", Map("label" -> "b")))
    unchanged("s", 5)
  }

  test("a 50-row MERGE into a 5,000-row table writes one delta dir, reads no bucket, " +
      "keeps the bucket map") {
    val dir = TestSpark.tempDir("graft_ps_delta_")
    val store = new ParquetStore(spark, dir)
    store.merge("t", rows(1 to 5000, "v1"), "pkey")
    val (_, map0) = bucketsFile(dir)
    assert(map0.size == 16)
    // hide every base bucket file: a MERGE that read, listed or
    // rewrote a bucket would fail or change the map
    val base = java.nio.file.Paths.get(dir, "t", "v_0")
    val hidden = java.nio.file.Paths.get(dir, "hidden_v_0")
    java.nio.file.Files.move(base, hidden)
    val seen = try jobsOf(assert(store.merge("t", rows(4976 to 5025, "v2"), "pkey")))
      finally java.nio.file.Files.move(hidden, base)
    assert(inferences(seen).isEmpty, s"no schema inference, jobs: $seen")
    assert(seen.size <= 2, s"a delta MERGE is one shuffle and one write, jobs: $seen")
    assert(versionDirs(dir) == Set("v_0", "v_1"), "exactly one new version dir")
    val (header, map1) = bucketsFile(dir)
    assert(map1 == map0, "the bucket map is unchanged")
    assert(header.contains("#delta 1 pkey"), header)
    assert(!new java.io.File(s"$dir/t/v_1").listFiles().exists(_.getName.startsWith("__bucket=")))
    val got = contents(store)
    assert(got.size == 5025 && got(Some("4976")) == "v2-4976" && got(Some("4975")) == "v1-4975")
    // the next MERGE folds the old delta into its delta: still no bucket
    java.nio.file.Files.move(base, hidden)
    try assert(store.merge("t", rows(4990 to 5040, "v3"), "pkey"))
    finally java.nio.file.Files.move(hidden, base)
    assert(bucketsFile(dir)._2 == map0)
    val got2 = contents(store)
    assert(got2.size == 5040 && got2(Some("4980")) == "v2-4980" && got2(Some("5040")) == "v3-5040")
  }

  test("an empty MERGE into a table with a delta commits nothing and runs no extra job") {
    val dir = TestSpark.tempDir("graft_ps_emptydelta_")
    val store = new ParquetStore(spark, dir)
    store.merge("t", rows(1 to 2000, "v1"), "pkey", Map("owner" -> "a"))
    assert(store.merge("t", rows(3 to 8, "v2"), "pkey"))
    assert(bucketsFile(dir)._1.exists(_.startsWith("#delta ")))
    val deltaJobs = jobsOf(assert(store.merge("t", rows(20 to 23, "v4"), "pkey"))).size
    def state = (bucketsFile(dir), store.currentVersion("t"), store.getMeta("t"), versionDirs(dir))
    val before = state
    val emptyJobs = jobsOf(assert(!store.merge("t", rows(1 to 0, "x"), "pkey", Map("owner" -> "b"))))
    // `_BUCKETS` (its #token included), the version, the properties and
    // the version dirs are as they were
    assert(state == before && before._3 == Map("owner" -> "a"))
    assert(emptyJobs.size <= deltaJobs, s"empty MERGE ran ${emptyJobs.size} jobs, a delta MERGE $deltaJobs")
    assert(contents(store).size == 2000 && contents(store)(Some("20")) == "v4-20")
  }

  test("a local batch's delta MERGE: one 1-task job, null keys null-safe, empty commits nothing") {
    val dir = TestSpark.tempDir("graft_ps_localdelta_")
    val store = new ParquetStore(spark, dir)
    def local(kv: (String, String)*) = kv.toDF("pkey", "payload")
    store.merge("t", rows(1 to 2000, "v1"), "pkey", Map("owner" -> "a"))
    val map0 = bucketsFile(dir)._2
    // hide every base bucket file: a MERGE that read, listed or
    // rewrote a bucket would fail or change the map
    val base = java.nio.file.Paths.get(dir, "t", "v_0")
    val hidden = java.nio.file.Paths.get(dir, "hidden_v_0")
    def hidingBase[T](body: => T): T = {
      java.nio.file.Files.move(base, hidden)
      try body finally java.nio.file.Files.move(hidden, base)
    }
    assert(hidingBase(store.merge("t", local("1" -> "d1", (null, "n1")), "pkey")))
    // no null key in the batch: the delta's null-key row is kept
    val jobs = hidingBase(jobsOf(assert(store.merge("t", local("2" -> "d2"), "pkey"))))
    assert(jobs.size == 1, s"one write job: $jobs")
    assert(bucketsFile(dir)._2 == map0, "the bucket map is unchanged")
    val v = store.currentVersion("t").get
    assert(new java.io.File(s"$dir/t/v_$v").listFiles().count(_.getName.endsWith(".parquet")) == 1)
    var got = contents(store)
    assert(got(None) == "n1" && got(Some("1")) == "d1" && got(Some("2")) == "d2" && got.size == 2001)
    // a null key in the batch replaces it
    assert(store.merge("t", local((null, "n2"), "3" -> "d3"), "pkey"))
    got = contents(store)
    assert(got(None) == "n2" && got(Some("1")) == "d1" && got(Some("3")) == "d3" && got.size == 2001)
    // an empty batch: no job, and `_BUCKETS`, the version, the
    // properties and the version dirs are as they were
    def state = (bucketsFile(dir), store.currentVersion("t"), store.getMeta("t"), versionDirs(dir))
    val before = state
    assert(jobsOf(assert(!store.merge("t", local(), "pkey", Map("owner" -> "b")))).isEmpty)
    assert(state == before && before._3 == Map("owner" -> "a"))
  }

  test("a handle's base identity: a delta commit carries it, every base-writing commit mints one") {
    val dir = TestSpark.tempDir("graft_ps_base_")
    val store = new ParquetStore(spark, dir)
    def handle = store.readHandle("t").get
    assert(store.readHandle("t").isEmpty)
    store.merge("t", rows(1 to 2000, "v1"), "pkey")
    val b0 = handle.base
    assert(b0.nonEmpty && handle.delta.isEmpty)
    store.merge("t", rows(3 to 8, "v2"), "pkey")
    val h1 = handle
    assert(h1.base == b0 && h1.delta.map(d => (d.version, d.key)) == Some((1L, "pkey")))
    assert(h1.delta.get.rows.collect().map(_.getString(0)).sorted.toSeq == (3 to 8).map(_.toString).sorted)
    store.merge("t", rows(5 to 12, "v3"), "pkey")
    val h2 = handle
    assert(h2.base == b0 && h2.delta.get.version == 2L)
    // the later delta holds every key of the earlier one, last writer wins
    assert(h2.delta.get.rows.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      (3 to 4).map(i => i.toString -> s"v2-$i").toMap ++ (5 to 12).map(i => i.toString -> s"v3-$i"))
    assert(store.readHandle("t").get eq h2, "the same handle until the next commit")
    // compaction, delete, overwrite, and a drop + re-create whose first
    // commit is `v_0` again: each a new base
    val bases = scala.collection.mutable.Buffer(b0)
    def newBase(what: String): Unit = {
      assert(handle.delta.isEmpty && !bases.contains(handle.base), what)
      bases += handle.base
    }
    copyOnWrite(store.merge("t", rows(1 to 3, "v4"), "pkey"))
    newBase("compaction")
    store.delete("t", Seq("7").toDF("pkey"), "pkey")
    newBase("delete")
    store.overwrite("t", rows(1 to 5, "v5"))
    newBase("overwrite")
    store.merge("t", rows(1 to 2, "v6"), "pkey")
    newBase("first MERGE into a flat snapshot")
    store.drop("t")
    store.merge("t", rows(1 to 2000, "v1"), "pkey")
    assert(store.currentVersion("t") == Some(0L))
    newBase("re-created")
  }

  test("a reader holding a handle across one commit still reads it") {
    val dir = TestSpark.tempDir("graft_ps_grace_")
    val store = new ParquetStore(spark, dir)
    store.merge("t", rows(1 to 2000, "v1"), "pkey")
    store.merge("t", rows(1 to 10, "v2"), "pkey")
    val deltaHandle = store.read("t")
    val before = deltaHandle.collect().map(_.toString).toSet
    assert(before.size == 2000 && before.contains("[3,v2-3]"))
    // a delta commit: the held handle's delta dir stays for one commit
    store.merge("t", rows(5 to 20, "v3"), "pkey")
    assert(deltaHandle.collect().map(_.toString).toSet == before)
    // a compacting commit: its buckets and delta stay for one commit
    val held = store.read("t")
    val heldRows = held.collect().map(_.toString).toSet
    copyOnWrite(store.merge("t", rows(15 to 30, "v4"), "pkey"))
    assert(held.collect().map(_.toString).toSet == heldRows)
    assert(contents(store)(Some("16")) == "v4-16")
    // and GC: the delta of two commits ago is gone, the table reads on
    store.merge("t", rows(40 to 41, "v5"), "pkey")
    assert(!versionDirs(dir).contains("v_1") && !versionDirs(dir).contains("v_2"),
      s"superseded deltas not GC'd: ${versionDirs(dir)}")
    assert(contents(store).size == 2000)
  }

  test("a handle read before a delete or a widening MERGE that compacts first still reads") {
    val dir = TestSpark.tempDir("graft_ps_grace2_")
    val store = new ParquetStore(spark, dir)
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSet
    store.merge("t", rows(1 to 2000, "v1"), "pkey")
    store.merge("t", rows(1 to 10, "v2"), "pkey")
    assert(bucketsFile(dir)._1.exists(_.startsWith("#delta ")))
    // a delete compacts the delta (one commit), then commits its own
    val beforeDelete = store.read("t")
    val deleteRows = rowSet(beforeDelete)
    store.delete("t", Seq("3", "500").toDF("pkey"), "pkey")
    assert(rowSet(beforeDelete) == deleteRows)
    assert(contents(store).size == 1998 && !contents(store).contains(Some("3")))
    // a widening MERGE compacts the delta, then rewrites every bucket
    store.merge("t", rows(20 to 30, "v3"), "pkey")
    assert(bucketsFile(dir)._1.exists(_.startsWith("#delta ")))
    val beforeWiden = store.read("t")
    val widenRows = rowSet(beforeWiden)
    store.merge("t", rows(40 to 45, "v4").withColumn("extra", org.apache.spark.sql.functions.lit(1)),
      "pkey")
    assert(rowSet(beforeWiden) == widenRows)
    val widened = store.read("t")
    assert(widened.columns.toSeq == Seq("pkey", "payload", "extra") && widened.count() == 1998)
    assert(widened.where("pkey = '42'").head().getInt(2) == 1)
  }

  test("a MERGE of a narrower column type writes a delta; a wider one rewrites every bucket") {
    import org.apache.spark.sql.types.LongType
    val dir = TestSpark.tempDir("graft_ps_types_")
    val store = new ParquetStore(spark, dir)
    def longs(ids: Range, sign: Long) = ids.map(i => (i.toString, sign * i)).toDF("pkey", "n")
    def ints(ids: Range, sign: Int) = ids.map(i => (i.toString, sign * i)).toDF("pkey", "n")
    def value(table: String, k: String) = store.read(table).where(s"pkey = '$k'").head().getLong(1)
    // an int batch into a long column: the union keeps long, so a delta
    store.merge("t", longs(1 to 2000, 1L), "pkey")
    val map0 = bucketsFile(dir)._2
    store.merge("t", distributed(ints(1 to 10, -1)), "pkey")
    val (header, map1) = bucketsFile(dir)
    assert(map1 == map0 && header.exists(_.startsWith("#delta ")), header)
    assert(store.read("t").schema("n").dataType == LongType)
    assert(value("t", "3") == -3L && value("t", "30") == 30L)
    // the same through the local path, which casts on the driver
    store.merge("t", ints(11 to 20, -1), "pkey")
    val (headerLocal, mapLocal) = bucketsFile(dir)
    assert(mapLocal == map0 && headerLocal.exists(_.startsWith("#delta ")), headerLocal)
    assert(store.read("t").schema("n").dataType == LongType)
    assert(value("t", "3") == -3L && value("t", "13") == -13L && value("t", "30") == 30L)
    // a long batch into an int column widens it: every bucket rewritten
    store.merge("u", ints(1 to 2000, 1), "pkey")
    val before = bucketsFile(dir, "u")._2
    store.merge("u", longs(1 to 10, -1L), "pkey")
    val (headerU, after) = bucketsFile(dir, "u")
    assert(!headerU.exists(_.startsWith("#delta ")), headerU)
    assert(after.size == before.size && after.forall(_.split(" ")(1) == "1"),
      s"every bucket at the new version: $after")
    assert(store.read("u").schema("n").dataType == LongType)
    assert(value("u", "3") == -3L && value("u", "30") == 30L && store.read("u").count() == 2000)
  }

  test("model: seeded interleavings of merge, delete, overwrite, compaction and reopening " +
      "read as an eager upsert") {
    val ops = Seq("small", "small", "small", "small", "large", "delete", "overwrite",
      "compact", "reopen", "empty")
    Seq(11L, 23L, 37L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // a twin store takes every batch through a shuffle; this one takes
      // it as a local relation, so its delta MERGEs take the local path
      val dir = TestSpark.tempDir("graft_ps_model_")
      val twinDir = TestSpark.tempDir("graft_ps_model_twin_")
      var store = new ParquetStore(spark, dir)
      var twin = new ParquetStore(spark, twinDir)
      var model = Map.empty[Option[String], String]
      var deltas, compactions = 0
      def keys(n: Int): Seq[Option[String]] =
        Seq.fill(n)(if (rnd.nextInt(40) == 0) None else Some(s"k${rnd.nextInt(1500)}")).distinct
      def frame(kv: Seq[(Option[String], String)]) =
        kv.map { case (k, v) => (k.orNull, v) }.toDF("pkey", "payload")
      /** MERGEs `kv` into both stores; returns whether it committed. */
      def merge(kv: Seq[(Option[String], String)], props: Map[String, String]): Boolean = {
        val local = frame(kv)
        assert(org.apache.spark.sql.GraftColumnBridge.localRelation(local).nonEmpty)
        val committed = store.merge("t", local, "pkey", props)
        assert(twin.merge("t", local.repartition(2), "pkey", props) == committed, s"seed $seed")
        committed
      }
      def upsert(n: Int, step: Int): Unit = {
        val batch = keys(n).map(k => k -> s"s$seed-$step-${k.getOrElse("null")}")
        val mapBefore = if (store.exists("t")) bucketsFile(dir)._2 else Nil
        merge(batch, if (rnd.nextInt(4) == 0) Map("step" -> step.toString) else Map.empty)
        model ++= batch
        if (bucketsFile(dir)._1.exists(_.startsWith("#delta "))) deltas += 1
        else if (mapBefore.nonEmpty && bucketsFile(dir)._2 != mapBefore) compactions += 1
      }
      upsert(1200, 0)
      (1 to 30).foreach { step =>
        ops(rnd.nextInt(ops.size)) match {
          case "small" => upsert(1 + rnd.nextInt(12), step)
          case "large" => upsert(150 + rnd.nextInt(150), step)
          case "delete" =>
            val gone = keys(1 + rnd.nextInt(20)) ++ rnd.shuffle(model.keys.toSeq).take(3)
            Seq(store, twin).foreach(_.delete("t", gone.map(_.orNull).toDF("pkey"), "pkey"))
            model --= gone
          case "overwrite" if rnd.nextInt(3) == 0 =>
            val kept = rnd.shuffle(model.toSeq).take(model.size * 9 / 10)
            Seq(store, twin).foreach(_.overwrite("t", frame(kept)))
            model = kept.toMap
          case "overwrite" => upsert(4, step)
          case "compact" => copyOnWrite(upsert(1 + rnd.nextInt(5), step))
          case "reopen" =>
            store = new ParquetStore(spark, dir)
            twin = new ParquetStore(spark, twinDir)
          case "empty" =>
            val before = bucketsFile(dir)
            assert(!merge(Nil, Map("step" -> step.toString)), s"seed $seed step $step: an empty MERGE")
            assert(bucketsFile(dir) == before, s"seed $seed step $step: an empty MERGE commits nothing")
        }
        assert(contents(store) == model, s"seed $seed step $step")
        assert(contents(twin) == model, s"seed $seed step $step: the twin")
        assert(twin.currentVersion("t") == store.currentVersion("t") &&
          twin.getMeta("t") == store.getMeta("t"), s"seed $seed step $step: the twin's version and meta")
        // one control file: the table dir holds `_BUCKETS` and version
        // dirs only, and the version is the header's
        val entries = new java.io.File(s"$dir/t").listFiles().map(_.getName)
        assert(entries.forall(n => n == "_BUCKETS" || n.matches("v_[0-9]+")),
          s"seed $seed step $step: ${entries.sorted.toSeq}")
        assert(store.currentVersion("t").map(v => s"#version $v") ==
          bucketsFile(dir)._1.find(_.startsWith("#version ")), s"seed $seed step $step")
      }
      assert(deltas > 0 && compactions > 0,
        s"seed $seed exercised $deltas delta and $compactions compacting merges")
    }
  }
}
