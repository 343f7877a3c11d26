package graft

import graft.operators.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** MinHash+LSH banding behavior (Dedup.minHashLshPairs) on corpora
  * with KNOWN near-duplicate structure — complements the pure
  * signature-property tests in TextSpec.
  */
class MinHashSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def docs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("planted near-duplicates are found; unrelated docs are not paired") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val nearDup = base.replace("today", "tonight") // one-token edit
    val unrelated = "completely different subject matter about databases and spark executors running jobs"
    val df = docs(Seq((1L, base), (2L, nearDup), (3L, unrelated),
      (4L, "yet another topic entirely with zero overlap whatsoever in vocabulary terms")))
    val pairs = Dedup.minHashLshPairs(df, "doc_id", "text",
        shingleN = 2, numHashes = 64, bands = 16, threshold = 0.3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)), "near-dup pair (1,2) must be found")
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) || Set(a, b).contains(4L) },
      "unrelated docs must not pair")
  }

  test("reported jaccard is the EXACT shingle jaccard, not the estimate") {
    val a = "alpha beta gamma delta epsilon zeta"
    val b = "alpha beta gamma delta epsilon eta"
    val df = docs(Seq((1L, a), (2L, b)))
    val got = Dedup.minHashLshPairs(df, "doc_id", "text",
        shingleN = 2, numHashes = 64, bands = 16, threshold = 0.1).collect()
    assert(got.length == 1)
    // bigram sets: 5 each, 4 shared → jaccard = 4/6
    assert(math.abs(got.head.getAs[Double]("jaccard") - 4.0 / 6.0) < 1e-9)
  }

  test("pairs are deduplicated across bands and ordered id_a < id_b") {
    val same = "identical text identical text identical text identical text"
    val df = docs(Seq((7L, same), (3L, same)))
    val got = Dedup.minHashLshPairs(df, "doc_id", "text",
      shingleN = 2, numHashes = 64, bands = 16, threshold = 0.9).collect()
    // identical docs collide in ALL 16 bands but must yield ONE pair
    assert(got.length == 1)
    assert(got.head.getAs[Long]("id_a") == 3L && got.head.getAs[Long]("id_b") == 7L)
    assert(got.head.getAs[Double]("jaccard") == 1.0)
  }

  test("stored pair sweep equals the storeless pair list on the real corpus") {
    import org.apache.spark.sql.functions._
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_minhash_store_"))
    Dedup.buildNearDupStore(store, "sigs", corpus, "doc_id", "text",
      shingleN = 2, numHashes = 64, bands = 16)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard"))).toSet
    val storeless = pairs(Dedup.minHashLshPairs(corpus, "doc_id", "text",
      shingleN = 2, numHashes = 64, bands = 16, threshold = 0.3))
    val stored = pairs(Dedup.minHashLshPairsStored(store, "sigs",
      threshold = 0.3))
    assert(stored == storeless,
      s"stored sweep diverged (${stored.size} vs ${storeless.size} pairs)")
    // and the stored sweep never touches the corpus text
    val plan = Dedup.minHashLshPairsStored(store, "sigs", threshold = 0.3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"stored pair sweep must not scan corpus text:\n$plan")
  }

  test("rare-gram jaccard pairs agree with direct computation") {
    val df = docs(Seq(
      (1L, "spark streaming merges micro batches into tables"),
      (2L, "spark streaming merges micro batches into files"),
      (3L, "unrelated content about gardening and cooking recipes")))
    val got = Dedup.rareGramJaccardPairs(df, "doc_id", "text",
      n = 2, threshold = 0.2, maxDf = 20).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) == (1L, 2L))
    // bigrams: 6 each, 5 shared → 5/7
    assert(math.abs(r.getAs[Double]("jaccard") - 5.0 / 7.0) < 1e-9)
  }

  test("BandPlanner: S-curve arithmetic and the repo default's operating point") {
    import graft.operators.BandPlanner
    // the curve formula at hand-computable points
    assert(math.abs(BandPlanner.candidateProbability(0.5, 1, 1) - 0.5) < 1e-12)
    // b=16, r=4 at s=0.5: 1 - (1 - 0.0625)^16
    val p = BandPlanner.candidateProbability(0.5, 16, 4)
    assert(math.abs(p - (1.0 - math.pow(0.9375, 16))) < 1e-12)
    // monotone in s
    val probs = (1 to 9).map(i => BandPlanner.candidateProbability(i / 10.0, 16, 4))
    assert(probs == probs.sorted, s"S-curve must be monotone: $probs")
    // the repo's 64-hash x 16-band production default sits at an
    // implicit threshold of exactly (1/16)^(1/4) = 0.5
    assert(math.abs(BandPlanner.implicitThreshold(16, 4) - 0.5) < 1e-12)
  }

  test("BandPlanner.plan: cheapest geometry clearing both curve sides, deterministic") {
    import graft.operators.BandPlanner
    val got = BandPlanner.plan(threshold = 0.5, minRecall = 0.9,
      maxLowProb = 0.2).get
    // every feasible plan must clear its own constraints by the
    // curve's own arithmetic
    assert(BandPlanner.candidateProbability(0.5, got.bands, got.rowsPerBand) >= 0.9)
    assert(BandPlanner.candidateProbability(0.25, got.bands, got.rowsPerBand) <= 0.2)
    assert(got.numHashes == got.bands * got.rowsPerBand)
    // exhaustive replay of the documented search order: no cheaper
    // feasible geometry exists under the same constraints
    for (r <- 1 to 64; b <- 1 to 512 / r; if b * r < got.numHashes) {
      val ok = BandPlanner.candidateProbability(0.5, b, r) >= 0.9 &&
        BandPlanner.candidateProbability(0.25, b, r) <= 0.2
      assert(!ok, s"planner missed a cheaper feasible geometry: b=$b r=$r")
    }
    // an impossible ask fails LOUDLY (None), never a silently weaker
    // curve: near-perfect recall at the threshold with near-zero
    // noise admission just below it needs an unbounded signature
    assert(BandPlanner.plan(threshold = 0.5, minRecall = 0.999,
      lowSim = Some(0.45), maxLowProb = 0.001, maxHashes = 512).isEmpty)
    // relaxing the budget monotonically can only improve or keep the
    // recall-side pick; same constraints, bigger budget, same answer
    val wide = BandPlanner.plan(threshold = 0.5, minRecall = 0.9,
      maxLowProb = 0.2, maxHashes = 4096).get
    assert(wide.numHashes <= got.numHashes)
    // a HIGH-threshold ask whose only feasible geometries are
    // deep-band (r > 64) must still plan, not report infeasible
    // (review r16 — the grid ranges r over the full hash budget)
    val deep = BandPlanner.plan(threshold = 0.98, minRecall = 0.9,
      lowSim = Some(0.95), maxLowProb = 0.2, maxHashes = 4096).get
    assert(deep.rowsPerBand > 64,
      s"the 0.98/0.95 ask needs a deep-band plan, got $deep")
    assert(BandPlanner.candidateProbability(0.98, deep.bands,
      deep.rowsPerBand) >= 0.9)
    assert(BandPlanner.candidateProbability(0.95, deep.bands,
      deep.rowsPerBand) <= 0.2)
  }

  test("plan rejects an absurd grid budget loudly (ADVICE r16)") {
    import graft.operators.BandPlanner
    val e = intercept[IllegalArgumentException] {
      BandPlanner.plan(threshold = 0.5, maxHashes = 100000000)
    }
    assert(e.getMessage.contains("65536"))
  }

  test("store built FROM a plan round-trips its geometry; drifted probes " +
      "still require-match (r17 wiring)") {
    import graft.operators.BandPlanner
    val plan = BandPlanner.plan(threshold = 0.5, minRecall = 0.9,
      maxLowProb = 0.2).get
    val store = new graft.sources.ParquetStore(spark,
      TestSpark.tempDir("graft_bp_store_"))
    val corpus = docs(Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "the quick brown fox jumps over the lazy dog near the creek"),
      (3L, "completely different subject matter about databases and executors")))
    Dedup.buildNearDupStore(store, "sig", corpus, "doc_id", "text",
      plan, shingleN = 2)
    // the store properties record the planned geometry AND the plan's
    // predicted operating point
    val meta = store.getMeta("sig")
    assert(meta("minhash.num_hashes") == plan.numHashes.toString)
    assert(meta("minhash.bands") == plan.bands.toString)
    assert(meta("planner.rows_per_band") == plan.rowsPerBand.toString)
    assert(meta("planner.recall_at_threshold").toDouble >= 0.9)
    assert(meta("planner.prob_at_low").toDouble <= 0.2)
    // probing with the planned geometry works; a drifted probe fails
    // loudly through requireStoreGeometry (the migration contract)
    val batch = docs(Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river")))
    val kept = Dedup.incrementalNearDupStored(store, "sig", batch,
      "doc_id", "text", shingleN = 2, numHashes = plan.numHashes,
      bands = plan.bands, threshold = 0.5)
    assert(kept.collect().isEmpty, "a stored near-dup must drop")
    val drift = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupStored(store, "sig", batch, "doc_id", "text",
        shingleN = 3, numHashes = plan.numHashes, bands = plan.bands,
        threshold = 0.5).collect()
    }
    assert(drift.getMessage.contains("drift"))
  }

  test("constraint-triple default path: planner-chosen geometry with " +
      "planner.* provenance; stream start reuses recorded geometry (r18)") {
    import graft.operators.{BandPlanner, Dedup}
    // the SERVED default (r17 verdict #6): a caller states only the
    // operating point and the build defaults to the planner's choice
    val store = new graft.sources.ParquetStore(spark,
      TestSpark.tempDir("graft_bpd_store_"))
    val corpus = docs(Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "a completely different subject matter about distributed engines")))
    val plan = Dedup.buildNearDupStorePlanned(store, "sig", corpus,
      "doc_id", "text", threshold = 0.5, shingleN = 2)
    assert(plan == BandPlanner.plan(threshold = 0.5).get,
      "the default path must take the planner's cheapest feasible choice")
    val meta = store.getMeta("sig")
    assert(meta("minhash.num_hashes") == plan.numHashes.toString)
    assert(meta("planner.rows_per_band") == plan.rowsPerBand.toString,
      "the default path must record planner.* provenance")
    assert(Dedup.storedGeometry(store, "sig") ==
      Some((2, plan.numHashes, plan.bands)))
    // infeasible constraints fail loudly BEFORE any corpus work
    val e = intercept[IllegalArgumentException] {
      Dedup.buildNearDupStorePlanned(store, "sig2", corpus, "doc_id",
        "text", threshold = 0.5, minRecall = 0.999, maxLowProb = 0.001,
        maxHashes = 4)
    }
    assert(e.getMessage.contains("no feasible"))
    // the STREAM's planned path: a fresh store self-heals with the
    // planner's geometry + provenance; a restart against the now-
    // existing index resolves the RECORDED geometry (serving
    // continuity) instead of re-planning
    import spark.implicits._
    val sStore = new graft.sources.ParquetStore(spark,
      TestSpark.tempDir("graft_bps_store_"))
    sStore.merge("docs", corpus, "doc_id")
    val srcDir = TestSpark.tempDir("graft_bps_src_")
    Seq((10L, "the quick brown fox jumps over the lazy dog near the river"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
    def stream = spark.readStream.schema("doc_id LONG, text STRING")
      .parquet(srcDir)
    val cp = TestSpark.tempDir("graft_bps_cp_")
    assert(graft.streaming.Realtime.streamIngestPipeline(sStore, "docs",
        "sigs", stream, "doc_id", "text", cp, shingleN = 2,
        plannedGeometry = Some(graft.streaming.Realtime.PlannedGeometry(0.5)))
      .awaitTermination(120000), "planned stream did not finish")
    val sMeta = sStore.getMeta("sigs")
    assert(sMeta("minhash.num_hashes") == plan.numHashes.toString &&
      sMeta("planner.rows_per_band") == plan.rowsPerBand.toString,
      "the stream's self-heal build must record the planner's provenance")
    // the near-dup of corpus doc 1 must drop through the planned index
    assert(sStore.read("docs").filter($"doc_id" === 10L).isEmpty,
      "near-dup of the corpus doc must not ingest")
    // restart with the SAME planned config against the existing index:
    // resolves recorded geometry, no drift error, clean no-op replay
    Seq((11L, "an entirely novel document with fresh content words"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
    assert(graft.streaming.Realtime.streamIngestPipeline(sStore, "docs",
        "sigs", stream, "doc_id", "text", cp, shingleN = 2,
        plannedGeometry = Some(graft.streaming.Realtime.PlannedGeometry(0.5)))
      .awaitTermination(120000), "planned restart did not finish")
    assert(sStore.read("docs").filter($"doc_id" === 11L).count() == 1,
      "restart against the recorded geometry must keep serving")
    // doc 11 ingested, so the restart's surviving micro-batch ran the
    // per-batch signature MERGE (buildNearDupStoreFromSig) — whose
    // geometry-only property rewrite used to WIPE the planner.*
    // provenance the self-heal build recorded (review r18: a write's
    // properties replace the set; builders preserve existing keys)
    val sMeta2 = sStore.getMeta("sigs")
    assert(sMeta2("planner.rows_per_band") == plan.rowsPerBand.toString,
      "planner provenance must survive the per-micro-batch signature MERGE")
  }

  test("planned stream on a BRAND-NEW store records planner.* provenance " +
      "on the first delivery's build (ADVICE r18)") {
    // with no docs table there is no self-heal build — the first
    // micro-batch's buildNearDupStoreFromSig is the index's FIRST
    // writer and must stamp the freshly-computed plan's provenance,
    // not just the geometry keys (the PlannedGeometry scaladoc's
    // promised record)
    import graft.operators.{BandPlanner, Dedup}
    import spark.implicits._
    val plan = BandPlanner.plan(threshold = 0.5).get
    val store = new graft.sources.ParquetStore(spark,
      TestSpark.tempDir("graft_bpn_store_"))
    val srcDir = TestSpark.tempDir("graft_bpn_src_")
    Seq((1L, "some perfectly fresh document about nothing in particular"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
    assert(graft.streaming.Realtime.streamIngestPipeline(store, "docs",
        "sigs",
        spark.readStream.schema("doc_id LONG, text STRING").parquet(srcDir),
        "doc_id", "text", TestSpark.tempDir("graft_bpn_cp_"), shingleN = 2,
        plannedGeometry = Some(graft.streaming.Realtime.PlannedGeometry(0.5)))
      .awaitTermination(120000), "fresh-store planned stream did not finish")
    val meta = store.getMeta("sigs")
    assert(Dedup.storedGeometry(store, "sigs") ==
      Some((2, plan.numHashes, plan.bands)),
      "the first delivery must freeze the planner's geometry")
    assert(meta.get("planner.rows_per_band")
        .contains(plan.rowsPerBand.toString) &&
      meta.get("planner.recall_at_threshold")
        .contains(plan.recallAtThreshold.toString) &&
      meta.get("planner.prob_at_low").contains(plan.probAtLow.toString),
      s"a brand-new store's first build must record planner.* provenance: $meta")
  }
}
