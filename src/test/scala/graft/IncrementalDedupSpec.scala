package graft

import graft.operators.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** Pins for incremental snapshot-delta dedup
  * (Dedup.incrementalExact / the dedup_incremental entry): the
  * cross-snapshot drop, within-batch keep-first, normalization
  * equivalence, and parity with the bloom-free formulation (the bloom
  * only prunes — on any input the answer must equal the plain
  * anti-join's).
  */
class IncrementalDedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("batch rows already in the corpus drop; fresh rows survive") {
    val existing = df(Seq(1L -> "alpha beta", 2L -> "gamma"))
    val batch = df(Seq(10L -> "alpha beta", 11L -> "delta"))
    val kept = Dedup.incrementalExact(existing, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L))
  }

  test("within-batch duplicates keep the smallest id only") {
    val existing = df(Seq.empty)
    val batch = df(Seq(12L -> "same text", 10L -> "same text", 11L -> "other"))
    val kept = Dedup.incrementalExact(existing, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 11L))
  }

  test("normalization matches exactCanonical: case and whitespace fold") {
    val existing = df(Seq(1L -> "Alpha   Beta"))
    val batch = df(Seq(10L -> "  alpha beta ", 11L -> "alphabeta"))
    val kept = Dedup.incrementalExact(existing, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L), "folded form collides, concatenated form doesn't")
  }

  test("bloom-pruned answer equals the plain anti-join on a mixed corpus") {
    val existing = df((0L until 60L).map(i => i -> s"doc number ${i % 40}"))
    val batch = df((100L until 160L).map(i => i -> s"doc number ${i % 50}"))
    val got = Dedup.incrementalExact(existing, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    // naive reference: keep-first in batch, minus existing's hash set
    val norm = (s: String) => s.trim.toLowerCase.replaceAll("\\s+", " ")
    val existingSet = (0L until 60L).map(i => norm(s"doc number ${i % 40}")).toSet
    val firstInBatch = (100L until 160L).map(i => i -> norm(s"doc number ${i % 50}"))
      .groupBy(_._2).map { case (_, g) => g.minBy(_._1) }
    val expected = firstInBatch.collect {
      case (id, h) if !existingSet.contains(h) => id
    }.toSet
    assert(got == expected)
    assert(got.nonEmpty && got.size < 60, "the fixture must actually dedup")
  }

  test("nearDup: batch rows near-duplicating the corpus drop, fresh survive") {
    // 24-token docs differing in ONE token: shingle Jaccard ~0.76 —
    // over the 0.5 default but not exact-equal, and high enough that
    // the seeded 16-band signature collides (banding is recall-
    // probabilistic; the fixture is deterministic under the fixed seed)
    val a = "the quick brown fox jumps over the lazy dog near the river " +
      "while birds sing old songs above tall green trees every single morning"
    val aNear = "the quick brown fox jumps over the lazy cat near the river " +
      "while birds sing old songs above tall green trees every single morning"
    val fresh = "completely different content with no overlap whatsoever at all ok"
    val existing = df(Seq(1L -> a))
    val batch = df(Seq(10L -> aNear, 11L -> fresh))
    val kept = Dedup.incrementalNearDup(existing, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L))
  }

  test("nearDup: within-batch pair drops the larger id only") {
    val b1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    val existing = df(Seq.empty)
    val batch = df(Seq(20L -> b1, 21L -> b2))
    val kept = Dedup.incrementalNearDup(existing, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(20L))
  }

  test("nearDup: below-threshold band collisions are verified away") {
    // share a 3-token prefix (possible band collision via low-Jaccard
    // shingle overlap) but diverge after: Jaccard far below 0.5
    val existing = df(Seq(1L -> "one two three apple pear plum cherry grape melon fig date kiwi"))
    val batch = df(Seq(10L -> "one two three brick stone slate marble granite chalk sand clay mud"))
    val kept = Dedup.incrementalNearDup(existing, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L), "shared prefix alone must not drop the row")
  }

  test("drift report: zero KL on identical distributions, positive on drift") {
    import spark.implicits._
    def run(corpus: String, batch: String): Seq[org.apache.spark.sql.Row] = {
      val dir = TestSpark.tempDir("graft_drift_")
      Seq(1L -> corpus, 250L -> batch).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      SparkEntry.queries("drift_report")(spark, dir).collect().toSeq
    }
    val same = run("alpha beta gamma alpha", "alpha beta gamma alpha")
    assert(same.size == 256, "every bucket row must emit, zero-count included")
    assert(same.map(_.getAs[Double]("kl_contrib")).sum == 0.0,
      "identical distributions have zero KL")
    assert(same.forall(r => !r.getAs[Double]("kl_contrib").toString.startsWith("-0.0")),
      "no -0.0 may survive the fold")
    val drifted = run("alpha alpha alpha alpha", "omega omega omega omega")
    assert(drifted.map(_.getAs[Double]("kl_contrib")).sum > 0.01,
      "disjoint vocabularies must show positive KL")
  }

  test("the query entry splits at doc_id 250 and returns kept new docs") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_incdedup_")
    Seq(1L -> "seen before", 249L -> "corpus only",
        250L -> "seen before", 251L -> "brand new", 252L -> "brand new")
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val kept = SparkEntry.queries("dedup_incremental")(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(251L), "250 collides with corpus, 252 loses keep-first")
  }

  test("stored near-dup equals storeless; corpus text never scanned; MERGE maintenance") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val existing = docs.filter(col("doc_id") < 250)
    val b1 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 375)
    val b2 = docs.filter(col("doc_id") >= 375)
    val root = TestSpark.tempDir("graft_ndstore_spec_")
    val store = new graft.sources.ParquetStore(spark, root)
    Dedup.buildNearDupStore(store, "sigs", existing, "doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    // 1) first snapshot: store-backed ≡ storeless
    val storeless1 = ids(Dedup.incrementalNearDup(existing, b1, "doc_id", "text"))
    val stored1 = ids(Dedup.incrementalNearDupStored(store, "sigs", b1,
      "doc_id", "text"))
    assert(stored1 == storeless1,
      s"first snapshot diverged: stored=$stored1 storeless=$storeless1")
    // 2) survivors MERGE into the index; the next snapshot's corpus is
    // (existing ∪ survivors) in BOTH forms
    val s1 = b1.filter(col("doc_id").isin(stored1.toSeq: _*))
    Dedup.buildNearDupStore(store, "sigs", s1, "doc_id", "text")
    val storeless2 = ids(Dedup.incrementalNearDup(existing.unionByName(s1), b2,
      "doc_id", "text"))
    val stored2 = ids(Dedup.incrementalNearDupStored(store, "sigs", b2,
      "doc_id", "text"))
    assert(stored2 == storeless2,
      s"post-MERGE snapshot diverged: stored=$stored2 storeless=$storeless2")
    // 2b) the EXACT-dedup twin over the same store: the norm_hash
    // column must reproduce the storeless incrementalExact answer,
    // including post-MERGE state
    val exactStoreless = ids(Dedup.incrementalExact(existing.unionByName(s1),
      b2, "doc_id", "text"))
    val exactStored = ids(Dedup.incrementalExactStored(store, "sigs", b2,
      "doc_id", "text"))
    assert(exactStored == exactStoreless,
      s"exact twin diverged: stored=$exactStored storeless=$exactStoreless")
    // 3) plan lock: with an in-memory batch, the store-backed form must
    // touch NO documents parquet at all — the corpus side reads only
    // the persisted signature index (column-pruned)
    val mem = b2.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().toSeq.toDF("doc_id", "text")
    val plan = Dedup.incrementalNearDupStored(store, "sigs", mem,
      "doc_id", "text").queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"store-backed form must never scan the corpus text:\n$plan")
    // 4) the two index reads are column-pruned to their branch: the
    // band probe reads band_keys WITHOUT the (heavy) shingle sets,
    // the verify fetch reads shingles WITHOUT band_keys — together
    // they are the "narrow index reads" the operator's scale story
    // rests on
    assert("ReadSchema: [^\n]*band_keys".r.findAllIn(plan)
        .exists(s => !s.contains("shingles")),
      s"band probe must not read shingle sets:\n$plan")
    assert("ReadSchema: [^\n]*shingles".r.findAllIn(plan)
        .exists(s => !s.contains("band_keys")),
      s"verify fetch must not read band keys:\n$plan")
  }

  test("stored near-dup: batch ids already in the store with identical content (a replay) keep the disjoint survivors") {
    // the nearDup fixtures above: 10 near-duplicates the corpus, 20/21
    // are a within-batch pair, 30 is fresh
    val a = "the quick brown fox jumps over the lazy dog near the river " +
      "while birds sing old songs above tall green trees every single morning"
    val aNear = "the quick brown fox jumps over the lazy cat near the river " +
      "while birds sing old songs above tall green trees every single morning"
    val b1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    val batch = df(Seq(10L -> aNear, 20L -> b1, 21L -> b2,
      30L -> "completely different content with no overlap whatsoever at all ok"))
    val store = new graft.sources.ParquetStore(spark, TestSpark.tempDir("graft_ndreplay_"))
    Dedup.buildNearDupStore(store, "sigs", df(Seq(1L -> a)), "doc_id", "text")
    def survivors(): Set[Long] = Dedup.incrementalNearDupStored(store, "sigs", batch,
      "doc_id", "text").collect().map(_.getLong(0)).toSet
    val disjoint = survivors()
    assert(disjoint == Set(20L, 30L))
    // a crash after the survivors' MERGE redelivers the whole batch:
    // ids 20 and 30 are now in the store with the batch's own content
    Dedup.buildNearDupStore(store, "sigs",
      batch.filter(col("doc_id").isin(disjoint.toSeq: _*)), "doc_id", "text")
    assert(survivors() == disjoint,
      "a replayed id must neither drop against itself nor change which rows drop")
  }

  test("buildNearDupStoreFromSig writes index rows identical to the text path") {
    import spark.implicits._
    // includes a shingle-less doc (empty text): the text path keeps it
    // as (shingles=[], sig/band_keys=null) for the exact-dedup probe's
    // norm_hash domain, and the sig-frame path must restore it through
    // the left join even though minHashSigOf filtered it out
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, ""),
      (3L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val fromText = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_ndsig_text_"))
    Dedup.buildNearDupStore(fromText, "sigs", docs, "doc_id", "text",
      shingleN = 2)
    val sig = Dedup.minHashSigOf(docs, "doc_id", "text",
      shingleN = 2, numHashes = 64)
    val fromSig = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_ndsig_sig_"))
    Dedup.buildNearDupStoreFromSig(fromSig, "sigs", docs, "doc_id", "text",
      sig, shingleN = 2, numHashes = 64, bands = 16)
    def canon(s: graft.sources.ParquetStore) = s.read("sigs")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("norm_hash"),
        Option(r.getAs[scala.collection.Seq[Long]]("sig")).map(_.toSeq),
        r.getAs[scala.collection.Seq[String]]("shingles").toSeq.sorted,
        Option(r.getAs[scala.collection.Seq[Long]]("band_keys")).map(_.toSeq)))
      .toSet
    assert(canon(fromSig) == canon(fromText),
      "sig-frame MERGE must write the identical index rows")
  }

  test("corpusPred split view over the full-corpus index equals a corpus-only index") {
    // ONE shared signature index over the whole corpus (including the
    // batch's own ids — they MERGEd after a previous ingest) serves
    // the incremental probes through a pushed-down id predicate; the
    // answers must be identical to probing an index that only ever
    // contained the existing side
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val existing = docs.filter(col("doc_id") < 250)
    val batch = docs.filter(col("doc_id") >= 250)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    val full = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_ndsplit_full_"))
    Dedup.buildNearDupStore(full, "sigs", docs, "doc_id", "text")
    val corpusOnly = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_ndsplit_corp_"))
    Dedup.buildNearDupStore(corpusOnly, "sigs", existing, "doc_id", "text")
    val pred = Some(col("id") < 250L)
    val nearView = ids(Dedup.incrementalNearDupStored(full, "sigs", batch,
      "doc_id", "text", corpusPred = pred))
    val nearOwn = ids(Dedup.incrementalNearDupStored(corpusOnly, "sigs",
      batch, "doc_id", "text"))
    assert(nearView == nearOwn,
      s"near-dup split view diverged: $nearView vs $nearOwn")
    val exactView = ids(Dedup.incrementalExactStored(full, "sigs", batch,
      "doc_id", "text", corpusPred = pred))
    val exactOwn = ids(Dedup.incrementalExactStored(corpusOnly, "sigs",
      batch, "doc_id", "text"))
    assert(exactView == exactOwn,
      s"exact split view diverged: $exactView vs $exactOwn")
    // the view is a pushed-down scan predicate, not a post-read filter
    val plan = Dedup.incrementalExactStored(full, "sigs", batch,
      "doc_id", "text", corpusPred = pred)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LessThan(id,250)"),
      s"corpusPred must reach the index scan as a pushed filter:\n$plan")
  }

  test("geometry metadata: builders record it; drifted probes/builds/batchSig fail loudly") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val batch = Seq((3L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_ndgeom_"))
    Dedup.buildNearDupStore(store, "sigs", docs, "doc_id", "text",
      shingleN = 2, numHashes = 64, bands = 16)
    // the index is self-describing: the build parameters are in its properties
    val meta = store.getMeta("sigs")
    assert(meta.get("minhash.shingle_n").contains("2") &&
      meta.get("minhash.num_hashes").contains("64") &&
      meta.get("minhash.bands").contains("16"), s"geometry not recorded: $meta")
    // probing with drifted bands would band differently and silently
    // match near-nothing — must throw instead
    val e1 = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupStored(store, "sigs", batch, "doc_id", "text",
        shingleN = 2, numHashes = 64, bands = 8)
    }
    assert(e1.getMessage.contains("bands"), e1.getMessage)
    // the decontamination gate checks the benchmark index the same way
    val e2 = intercept[IllegalArgumentException] {
      Dedup.contaminatedBatchNearDup(store, "sigs", batch, "doc_id", "text",
        shingleN = 2, numHashes = 32, bands = 16)
    }
    assert(e2.getMessage.contains("numHashes"), e2.getMessage)
    // EXTENDING an index with drifted parameters is the same corruption
    intercept[IllegalArgumentException] {
      Dedup.buildNearDupStore(store, "sigs", batch, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16)
    }
    // an index with data but NO recorded geometry (unknown provenance)
    // is rejected by strict probes
    val raw = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_ndgeom_raw_"))
    raw.merge("sigs", store.read("sigs"), "id")
    val e3 = intercept[IllegalStateException] {
      Dedup.incrementalNearDupStored(raw, "sigs", batch, "doc_id", "text",
        shingleN = 2, numHashes = 64, bands = 16)
    }
    assert(e3.getMessage.contains("geometry"), e3.getMessage)
    // ... and a PARTIALLY-recorded property set (hand-stamped) must read
    // as unknown provenance too, not pass vacuously on the absent keys
    raw.merge("sigs", store.read("sigs"), "id", Map("minhash.bands" -> "16"))
    val e3b = intercept[IllegalStateException] {
      Dedup.incrementalNearDupStored(raw, "sigs", batch, "doc_id", "text",
        shingleN = 2, numHashes = 64, bands = 16)
    }
    assert(e3b.getMessage.contains("incomplete"), e3b.getMessage)
    // batchSig frames carry minHashSigOf's geometry stamp: a frame
    // built with a different shingleN is rejected even though the
    // store matches the probe's parameters
    val wrongSig = Dedup.minHashSigOf(batch, "doc_id", "text",
      shingleN = 3, numHashes = 64)
    val e4 = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupStored(store, "sigs", batch, "doc_id", "text",
        shingleN = 2, numHashes = 64, bands = 16, batchSig = Some(wrongSig))
    }
    assert(e4.getMessage.contains("shingleN"), e4.getMessage)
    // a frame without the contract columns fails the schema guard
    val e5 = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupStored(store, "sigs", batch, "doc_id", "text",
        shingleN = 2, numHashes = 64, bands = 16, batchSig = Some(batch))
    }
    assert(e5.getMessage.contains("missing column"), e5.getMessage)
    // a MATCHING batchSig passes and yields the no-batchSig answer
    val okSig = Dedup.minHashSigOf(batch, "doc_id", "text",
      shingleN = 2, numHashes = 64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val withSig = Dedup.incrementalNearDupStored(store, "sigs", batch,
        "doc_id", "text", shingleN = 2, numHashes = 64, bands = 16,
        batchSig = Some(okSig)).collect().map(_.getLong(0)).toSet
      val without = Dedup.incrementalNearDupStored(store, "sigs", batch,
        "doc_id", "text", shingleN = 2, numHashes = 64, bands = 16)
        .collect().map(_.getLong(0)).toSet
      assert(withSig == without, s"batchSig path diverged: $withSig vs $without")
    } finally okSig.unpersist()
  }
}
