package graft

import graft.functions.GraftFunctions
import graft.operators.Search
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan locks for the composed pipelines — regressions here
  * keep results CORRECT while silently changing the plan into one
  * that dies at scale, so the suites must fail on the plan itself.
  * (Per-operator locks live with their operators: bucket
  * PartitionFilters in TextIndexSpec/AnnSpec, the as-of single
  * Exchange in AsOfSpec, 10× re-checks in ScaleSpec.)
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  test("pipeline_corpus: one dedup keep-first shuffle, broadcast anti/semi joins") {
    val plan = SparkEntry.queries("pipeline_corpus")(spark, dir)
      .queryExecution.executedPlan.toString
    // the commit-892c719 property: contamination grams are computed
    // over the cheap corpus scan, so the dedup keep-first exchange —
    // since r17 the exactKeepFirst groupBy on the inline md5 group
    // key, which Catalyst plans as a _groupingexpression alias — is
    // planned exactly ONCE — a second occurrence means something
    // re-referenced the deduped frame and the whole chain got
    // duplicated into a subtree
    assert("hashpartitioning\\((__norm_hash|_groupingexpression)".r
        .findAllIn(plan).size == 1,
      s"dedup keep-first chain must shuffle exactly once:\n$plan")
    // r17: no join-back — survivors' payload rides THROUGH the
    // keep-first aggregate, so the min(struct) keep-first (null-id
    // rows guarded out of the carry) must be present and the only
    // corpus-side aggregate over the group key
    assert("min\\([^\\n]*struct\\(doc_id".r.findFirstIn(plan).isDefined,
      s"keep-first must carry the payload through min(struct(...)):\n$plan")
    // decontamination is an anti-join against a tiny contaminated-id
    // list and a semi-join against the benchmark grams — both must
    // broadcast; an SMJ here would shuffle the full corpus
    assert("BroadcastHashJoin [^\\n]*LeftAnti".r.findFirstIn(plan).isDefined,
      s"decontamination anti-join must broadcast:\n$plan")
    assert("BroadcastHashJoin [^\\n]*LeftSemi".r.findFirstIn(plan).isDefined,
      s"contamination gram semi-join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"pipeline_corpus must not sort-merge anywhere:\n$plan")
    // corpus-side data shuffles once (the dedup window); the other
    // hash exchanges are benchmark-side gram aggregations
    val nHash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nHash <= 3, s"expected <=3 hash exchanges, got $nHash:\n$plan")
  }

  test("pipeline_c4: span-dedup shuffles + lang agg, no sort-merge join") {
    val plan = SparkEntry.queries("pipeline_c4")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"pipeline_c4 must broadcast its lang join:\n$plan")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n <= 3, s"expected <=3 hash exchanges (span window + doc " +
      s"reassembly + lang agg), got $n:\n$plan")
  }

  test("dedup_spans: keep-first exchange keys on the span hash, text off the shuffles") {
    val plan = SparkEntry.queries("dedup_spans")(spark, dir)
      .queryExecution.executedPlan.toString
    // the keep-set computes on (id, idx, md5(span)) — the keep-first
    // exchange must key on the projected hash column, never on an
    // inline md5 of span text (which would carry the span through)
    assert(plan.contains("Exchange hashpartitioning(__sh"),
      s"span keep-first aggregate must exchange on the md5 column:\n$plan")
    assert(!plan.contains("hashpartitioning(md5("),
      s"no exchange may key on inline md5 of span text:\n$plan")
    // narrow keep-set side + rebuild join: exactly the keep-first
    // groupBy exchange and the per-doc kept-index aggregation shuffle
    val nHash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nHash <= 2,
      s"expected <=2 hash exchanges (keep-first agg + kept-index agg), got $nHash:\n$plan")
  }

  test("keep-first dedups: map-side-combinable groupBy, never a content-hash window") {
    // r16 (the r15 verdict's one `weak`): keep-first used to be
    // min().over(Window.partitionBy(<content hash>)) — a window agg
    // is NOT map-side combinable, so a mega-duplicated group (100M
    // boilerplate copies) landed on ONE task, carrying full corpus
    // text in exactCanonical's case. The rewrite is
    // groupBy(hash).agg(min, count) + join-back: the combiner
    // collapses hot keys in every mapper and AQE skew-splits the
    // residual equi-join. This lock keeps ANY window out of these
    // plans — a Window reappearing here is the scale-killer coming
    // back under a correct answer.
    for (q <- Seq("dedup_exact", "dedup_spans", "dedup_substrings",
        "pipeline_corpus", "pipeline_c4")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window ["),
        s"$q must not plan a Window over the content-hash key:\n$plan")
    }
  }

  test("dedup_exact: single corpus scan — the decision plan reads only " +
      "the checkpointed narrow frame (r17)") {
    // exactKeepDecision materializes (id, norm_hash) once via
    // localCheckpoint; the group aggregate and the decision join both
    // read that RDD, so the query's physical plan must contain NO
    // parquet scan at all — the only corpus read is the checkpoint's
    // one materialization. A parquet scan reappearing here means a
    // reference escaped the checkpoint and the corpus is scanning
    // twice again (the r16 shape).
    val plan = SparkEntry.queries("dedup_exact")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet"),
      s"dedup_exact must read only the checkpointed narrow frame:\n$plan")
    assert(plan.contains("ExistingRDD") || plan.contains("LogicalRDD"),
      s"the checkpointed narrow frame must back the plan:\n$plan")
  }

  test("percentile family: single corpus scan — histogram and join passes " +
      "read the checkpointed narrow frame (r18)") {
    // qualityPercentiledOf localCheckpoints the (doc_id, lang, quality)
    // frame, so the corpus text scan + 2-UDF qualityScore run ONCE and
    // both the histogram pass and the join-back pass read the
    // materialized 3-column RDD. A parquet scan (or a UDF) reappearing
    // in these plans means a reference escaped the checkpoint and the
    // calibration family is scanning + scoring the corpus twice again
    // (the pre-r18 shape, a straight 2x at scale).
    for (q <- Seq("quality_percentile", "sample_percentile",
        "export_curriculum")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Scan parquet"),
        s"$q must read only the checkpointed narrow frame:\n$plan")
      assert(!plan.contains("UDF("),
        s"$q must not re-evaluate qualityScore outside the checkpoint:\n$plan")
      assert(plan.contains("ExistingRDD") || plan.contains("LogicalRDD"),
        s"the checkpointed narrow frame must back $q:\n$plan")
    }
  }

  test("gated-chain percentile gate probes the persisted calibration " +
      "snapshot — no corpus-wide qualityScore rehistogram (r19)") {
    // ingestPct is the (pre-checkpoint) percentile frame the gated
    // chains' percentile stage reads; the chains localCheckpoint it,
    // hiding its subtree from their executed plans, so the pin reads
    // the frame directly. Before r19 the gate rebuilt the calibration
    // CDF from the FULL corpus (an unbounded documents scan through
    // the 2-UDF qualityScore) on every run of ingest_audit_gated /
    // ingest_audit_boil / pipeline_ingest_boil — at 100 TB that turns
    // a delta-sized ingest pass into a corpus-sized scan. Production
    // shape: every documents scan in the gate is batch-bounded
    // (pushed doc_id range) and the CDF comes from the persisted
    // snapshot store.
    val plan = Queries.ingestPct(spark, dir, None)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_pctcdf_"),
      s"the gate must read the persisted CDF snapshot store:\n$plan")
    val docScans = plan.linesIterator.filter(l =>
      l.contains("Scan parquet") && l.contains("documents")).toSeq
    assert(docScans.nonEmpty,
      s"expected a batch-slice documents scan:\n$plan")
    docScans.foreach { l =>
      assert(l.contains("GreaterThanOrEqual(doc_id"),
        s"every documents scan in the gate must carry the pushed batch " +
          s"lower bound (a corpus-wide scan regressed):\n$l")
    }
  }

  test("routed percentile gate probes the detected-lang snapshot — " +
      "batch-bounded scans, detection behind its checkpoint (r19)") {
    // the routed chain's pass set: detection is localCheckpointed
    // (one pass, two consumers), the CDF comes from the routed
    // snapshot store, and the only live documents scans are the
    // batch-bounded quality scoring — a corpus-wide scan regressing
    // into this plan is the scale-killer shape the gated-chain pin
    // above locks out
    val (_, pass) = Queries.routedDetAndPct(spark, dir)
    val plan = pass.queryExecution.executedPlan.toString
    assert(plan.contains("graft_pctcdf_r_"),
      s"the routed gate must read the detected-lang CDF snapshot:\n$plan")
    // r20: detection+scoring merged into ONE checkpointed pass — the
    // pass set itself carries no live documents scan (everything text
    // is behind the detScored materialization); the scan discipline
    // is pinned on the PRE-checkpoint merged frame instead
    // per-LINE check (ADVICE r20): whole-plan substring co-occurrence
    // would spuriously fail if "documents" appeared in any store path
    // or pushed filter, and pass vacuously for a non-parquet scan
    assert(!plan.linesIterator.exists(l =>
        l.contains("Scan parquet") && l.contains("documents")),
      s"the routed pass set must read detection/quality from the merged " +
        s"checkpointed pass, not a live documents scan:\n$plan")
    val dsPlan = Queries.routedDetScored(spark, dir)
      .queryExecution.executedPlan.toString
    val docScans = dsPlan.linesIterator.filter(l =>
      l.contains("Scan parquet") && l.contains("documents")).toSeq
    assert(docScans.nonEmpty,
      s"expected a batch-slice documents scan:\n$dsPlan")
    docScans.foreach { l =>
      assert(l.contains("GreaterThanOrEqual(doc_id"),
        s"every documents scan in the routed gate must carry the pushed " +
          s"batch lower bound:\n$l")
    }
  }

  test("routed+boil gate: batch-bounded scans, cleaning and detection " +
      "behind their checkpoints, routed snapshot probed (r19)") {
    // the full production composition's pass set: the span clean and
    // the cleaned-text detection are each localCheckpointed (computed
    // once, multiple consumers), the CDF comes from the routed
    // snapshot store, and every live documents scan is batch-bounded
    // — a corpus-wide text scan regressing into the chain that runs
    // per ingest batch is the scale-killer shape these pins exist for
    val (boil, _, pass) = Queries.routedBoilDetAndPct(spark, dir)
    val plan = pass.queryExecution.executedPlan.toString
    assert(plan.contains("graft_pctcdf_r_"),
      s"the routed+boil gate must read the detected-lang CDF snapshot:\n$plan")
    // r20: the pass set reads the merged checkpointed detection+
    // scoring pass; the live batch-bounded scan discipline is pinned
    // on the PRE-checkpoint merged frame
    // per-LINE check (ADVICE r20): whole-plan substring co-occurrence
    // would spuriously fail if "documents" appeared in any store path
    // or pushed filter, and pass vacuously for a non-parquet scan
    assert(!plan.linesIterator.exists(l =>
        l.contains("Scan parquet") && l.contains("documents")),
      s"the routed+boil pass set must read detection/quality from the " +
        s"merged checkpointed pass, not a live documents scan:\n$plan")
    val dsPlan = Queries.routedBoilDetScored(spark, dir, boil)
      .queryExecution.executedPlan.toString
    val docScans = dsPlan.linesIterator.filter(l =>
      l.contains("Scan parquet") && l.contains("documents")).toSeq
    assert(docScans.nonEmpty,
      s"expected a batch-slice documents scan:\n$dsPlan")
    docScans.foreach { l =>
      assert(l.contains("GreaterThanOrEqual(doc_id"),
        s"every documents scan in the routed+boil gate must carry the " +
          s"pushed batch lower bound:\n$l")
    }
  }

  test("routed calibration and serving resolve through ONE loaded " +
      "model artifact (r20)") {
    // the CDF a routed gate probes must provably come from the model
    // that partitions its rows: the calibration build and every
    // serving surface (batch routed chains, streaming LangIdGate)
    // must detect with the SAME loadModel-returned instance — a
    // reversion to the in-session model would be answer-identical
    // (exact double round-trip) yet break the one-artifact provenance
    assert(Queries.routedCalibrationModel(spark, dir)
        eq Queries.langIdLoadedModel(spark, dir),
      "pctCdfStoreRouted must calibrate with the langIdLoadedModel " +
        "instance (the persisted artifact), not a separately-built model")
  }

  test("pack_offsets: ONE narrow exchange serves cumsum and placement windows") {
    val plan = SparkEntry.queries("pack_offsets")(spark, dir)
      .queryExecution.executedPlan.toString
    // hashpartitioning(lang, shard) is a PREFIX of the bin-window
    // keys, so the placement windows re-sort in place — a second
    // Exchange here means the prefix-satisfaction was lost
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n == 1, s"pack_offsets must hash-shuffle exactly once, got $n:\n$plan")
  }

  test("export_order: id-only scan, one md5-bucketed window shuffle") {
    val plan = SparkEntry.queries("export_order")(spark, dir)
      .queryExecution.executedPlan.toString
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n == 1, s"export_order must hash-shuffle exactly once, got $n:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"),
      s"the order manifest must read the id column only:\n$plan")
  }

  test("mix_temperature: two corpus scans, rate table broadcast, corpus unshuffled") {
    val plan = SparkEntry.queries("mix_temperature")(spark, dir)
      .queryExecution.executedPlan.toString
    // count pass + keep pass; a third scan means the rate normalizer
    // re-executed the counts subtree
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans == 2, s"expected 2 corpus scans, got $scans:\n$plan")
    assert("BroadcastHashJoin [^\\n]*source".r.findFirstIn(plan).isDefined,
      s"the rate join must broadcast on source:\n$plan")
    // the only hash exchange is the tiny per-source aggregation
    assert(!plan.contains("hashpartitioning(doc_id"),
      s"the corpus must never shuffle:\n$plan")
  }

  test("decontam_semantic: corpus banded stream gated by broadcasts, bounded exchanges") {
    val plan = SparkEntry.queries("decontam_semantic")(spark, dir)
      .queryExecution.executedPlan.toString
    // the candidate join must broadcast (the benchmark is a held-out
    // eval slice — tiny by definition); an SMJ would shuffle the whole
    // banded corpus stream before the verify. The inner broadcast join
    // IS the gate (r21): non-colliding corpus rows find no hash match
    // and drop, so a separate band-key semi-join would be a second
    // broadcast build filtering nothing more.
    assert("BroadcastHashJoin [^\\n]*Inner".r.findFirstIn(plan).isDefined,
      s"candidate join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"decontam_semantic must not sort-merge anywhere:\n$plan")
    // the only hash exchanges carry VERIFIED candidates (pair dedup +
    // per-id agg) — never the corpus banded stream
    val nHash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nHash <= 2,
      s"expected <=2 hash exchanges (pair distinct + id agg), got $nHash:\n$plan")
  }

  test("dsir_weights: ratio table broadcast-probed, bounded model-fit shuffles") {
    val plan = SparkEntry.queries("dsir_weights")(spark, dir)
      .queryExecution.executedPlan.toString
    // the scoring probe (raw grams ⋈ per-bucket llr) must broadcast —
    // the ratio table is ≤4096 rows by construction, and an SMJ here
    // would shuffle every corpus gram, exactly what DSIR's bounded
    // bucket space exists to avoid
    assert("BroadcastHashJoin [^\\n]*Inner".r.findFirstIn(plan).isDefined,
      s"llr probe must be a broadcast join:\n$plan")
    // the model fits are B-keyed aggs + one full-outer on the bucket
    // key (full outer cannot broadcast); all bounded at 4096 rows.
    // Corpus-sized shuffles: only the final groupBy(doc).
    val nHash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nHash <= 5, s"expected <=5 hash exchanges (2 bucket fits + " +
      s"bucket join + doc agg), got $nHash:\n$plan")
  }

  test("decontaminate_bloom: map-side bloom filter present, semi-join broadcasts") {
    val plan = SparkEntry.queries("decontaminate_bloom")(spark, dir)
      .queryExecution.executedPlan.toString
    // the bloom gate must survive into the executed plan as a Filter
    // on the exploded gram stream — if Catalyst ever re-orders it
    // above the join it stops pruning the shuffle and the operator
    // silently degrades to the exact form
    assert("Filter [^\\n]*UDF".r.findFirstIn(plan).isDefined,
      s"bloom UDF filter must gate the gram stream in-plan:\n$plan")
    assert("BroadcastHashJoin [^\\n]*LeftSemi".r.findFirstIn(plan).isDefined,
      s"exact semi-join must broadcast at this scale:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"decontaminate_bloom must not sort-merge at this scale:\n$plan")
  }

  test("ccnet_ppl_buckets: LM tables broadcast-probed, no sort-merge scoring") {
    val plan = SparkEntry.queries("ccnet_ppl_buckets")(spark, dir)
      .queryExecution.executedPlan.toString
    // both model probes (bigram counts, context counts) must
    // broadcast — the LM is target-sized by assumption; a sort-merge
    // would shuffle every raw token pair per probe
    val nBroadcast = "BroadcastHashJoin [^\\n]*LeftOuter".r.findAllIn(plan).size
    assert(nBroadcast >= 2,
      s"bigram + context probes must both broadcast, got $nBroadcast:\n$plan")
    assert(!"SortMergeJoin [^\\n]*(LeftOuter|Inner)".r.findFirstIn(plan)
        .exists(_.contains("prev")),
      s"no raw-pair-sized sort-merge join:\n$plan")
    // bucketing must be threshold-compare against broadcast per-lang
    // cutoffs — a Window(ntile) over partitionBy(lang) globally sorts
    // the dominant language in ONE task at 100 TB ("windowspecdefinition"
    // is the plan marker for ANY window function; note a plain "ntile"
    // substring check would false-positive on "percentile")
    assert(!plan.contains("windowspecdefinition"),
      s"tertile bucketing regressed to a window (single-task per-lang sort):\n$plan")
  }

  test("quality_classifier: coefficient table broadcast-probed") {
    val plan = SparkEntry.queries("quality_classifier")(spark, dir)
      .queryExecution.executedPlan.toString
    // the scorer joins every (doc, bucket) row against the ≤4096-row
    // coefficient table — broadcast or the whole point is lost
    assert("BroadcastHashJoin [^\\n]*Inner".r.findFirstIn(plan).isDefined,
      s"coefficient probe must broadcast:\n$plan")
  }

  test("pipeline_neardup: bounded tail shuffles after the star closure") {
    val plan = SparkEntry.queries("pipeline_neardup")(spark, dir)
      .queryExecution.executedPlan.toString
    // the star rounds themselves materialize via localCheckpoint during
    // construction; the lazy tail is keep-canonicals + lang stats. The
    // loser-id anti-join is deliberately a HASH join, not broadcast:
    // near-dup losers are corpus-proportional (easily billions of ids
    // at 100 TB), so keyed shuffle is the scale-correct shape — the
    // lock is that the tail stays BOUNDED (labels closure + anti-join
    // sides + lang agg), with no all-pairs node anywhere
    assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"),
      s"pipeline_neardup planned an all-pairs node:\n$plan")
    val nHash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nHash <= 4, s"expected <=4 hash exchanges (label closure, " +
      s"anti-join both sides, lang agg), got $nHash:\n$plan")
    val nRange = "Exchange rangepartitioning".r.findAllIn(plan).size
    assert(nRange <= 1, s"expected <=1 range exchange (final order), got $nRange:\n$plan")
  }

  test("mine_hard_negatives: pool-bounded gate joins broadcast, one shuffle") {
    val plan = SparkEntry.queries("mine_hard_negatives")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Cartesian"),
      s"hard-negative gate must never shuffle-join the corpus:\n$plan")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n <= 2, s"expected <=2 hash exchanges, got $n:\n$plan")
  }

  test("semantic search (no post-filters): source joins a BROADCAST rank leg") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("string").as("pkey"),
        col("embedding").as("embeddings"))
    val qv = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val plan = Search.semanticSearch(docs, emb, "doc_id", qv, limit = 10)
      .queryExecution.executedPlan.toString
    // J1: the <=windowSize rank leg broadcasts; the source table is
    // never shuffled on pkey
    assert("BroadcastHashJoin [^\\n]*Inner".r.findFirstIn(plan).isDefined,
      s"rank-leg join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"semantic search must not shuffle the source:\n$plan")
    // T1/T2: both top-ks are exact distributed top-k, not full sorts
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrderedAndProject:\n$plan")
  }

  test("hybrid search: source joins a BROADCAST fused leg, never a shuffle") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("string").as("pkey"),
        col("embedding").as("embeddings"))
    val qv = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val pp = GraftFunctions.tsvectorPositions(col("text"))
    val tokens = docs.select(col("doc_id").cast("string").as("pkey"),
      map_keys(pp).as("search_tokens"),
      transform(map_values(pp), v => size(v)).as("search_token_counts"))
    val plan = Search.hybridSearch(docs, emb, tokens, "doc_id",
        qv, "merging streams", limit = 10)
      .queryExecution.executedPlan.toString
    // the fused RRF frame is <=2*windowSize rows; the join back to the
    // source table must broadcast it (Search.scala J1/J2) — an inner
    // SMJ here means the FULL source shuffled on pkey
    assert("BroadcastHashJoin [^\\n]*Inner".r.findFirstIn(plan).isDefined,
      s"source join must be a broadcast hash join:\n$plan")
    assert("SortMergeJoin [^\\n]*Inner".r.findFirstIn(plan).isEmpty,
      s"source join must not shuffle the source table:\n$plan")
  }

  test("vocab_top_terms: df without Expand, map-side partials, top-k not sort") {
    val plan = SparkEntry.queries("vocab_top_terms")(spark, dir)
      .queryExecution.executedPlan.toString
    // df must come from the two-stage (term, doc) partial-count shape;
    // a COUNT(DISTINCT doc_id) would plan an Expand that doubles the
    // exploded token stream through the shuffle
    assert(!plan.contains("Expand"),
      s"df regressed to count-distinct (Expand doubles the token stream):\n$plan")
    // the corpus-count side joins as a broadcast nested loop over ONE
    // row; the final top-N must be exact distributed top-k
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-N must plan as TakeOrderedAndProject, not a global sort:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"one-row corpus count must broadcast:\n$plan")
    // both aggregations are map-side combinable (partial_ markers)
    assert("partial_count".r.findFirstIn(plan).isDefined
        || "partial_sum".r.findFirstIn(plan).isDefined,
      s"aggregations must have map-side partials:\n$plan")
  }

  test("ann_matryoshka_topk: pool broadcasts into the rescore, top-ks exact") {
    val plan = SparkEntry.queries("ann_matryoshka_topk")(spark, dir)
      .queryExecution.executedPlan.toString
    // the 100-row prefix pool joins the corpus by broadcast — an SMJ
    // here shuffles the full corpus for a 100-row rescore
    assert("BroadcastHashJoin [^\\n]*Inner".r.findFirstIn(plan).isDefined,
      s"pool rescore join must broadcast the pool:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"rescore must not shuffle the corpus:\n$plan")
    // both the prefix pool cut and the final k are exact top-k plans
    assert("TakeOrderedAndProject".r.findAllIn(plan).size >= 2,
      s"pool cut and final top-k must both be TakeOrderedAndProject:\n$plan")
    // the coarse ranking scan reads the PERSISTED vec_prefix column,
    // never the full vector — the dim/prefixDims byte cut that is the
    // operator's point at 100 TB (mirrors the q8 ReadSchema locks)
    assert("ReadSchema: [^\n]*vec_prefix".r.findAllIn(plan)
        .exists(s => !s.contains("embedding")),
      s"ranking scan must read vec_prefix, not the full vector:\n$plan")
  }

  test("incremental dedups: corpus gated map-side, batch-only anti-join") {
    // exact: the existing corpus reaches the anti-join only through
    // the bloom UDF filter (map-side); the anti-join itself must not
    // be a nested loop
    val exact = SparkEntry.queries("dedup_incremental")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!exact.contains("CartesianProduct")
        && !exact.contains("BroadcastNestedLoopJoin"),
      s"incremental exact must never plan an all-pairs join:\n$exact")
    // near-dup: the corpus's banded stream must pass a BROADCAST
    // semi-join on the batch's band keys BEFORE any corpus-sized
    // shuffle — an SMJ semi here shuffles every corpus band row
    val near = SparkEntry.queries("dedup_incremental_neardup")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin [^\\n]*LeftSemi".r.findFirstIn(near).isDefined,
      s"corpus band stream must be gated by a broadcast semi-join:\n$near")
    assert(!near.contains("CartesianProduct")
        && !near.contains("BroadcastNestedLoopJoin"),
      s"incremental near-dup must never plan an all-pairs join:\n$near")
  }

  test("pipeline_ingest: composed chain keeps the incremental plan shapes") {
    val plan = SparkEntry.queries("pipeline_ingest")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
      s"no stage of the ingest chain may go all-pairs:\n$plan")
    // the composed plan carries THREE semi-joins (kept1, kept2, the
    // corpus band gate) — requiring one broadcast would let the
    // corpus gate regress behind the others, so require that NO semi
    // join shuffles at all
    assert("BroadcastHashJoin [^\\n]*LeftSemi".r.findFirstIn(plan).isDefined,
      s"the ingest chain's semi gates must broadcast:\n$plan")
    assert("SortMergeJoin [^\\n]*LeftSemi".r.findFirstIn(plan).isEmpty
        && "ShuffledHashJoin [^\\n]*LeftSemi".r.findFirstIn(plan).isEmpty,
      s"no semi gate in the ingest chain may shuffle its corpus side:\n$plan")
  }

  test("chain entries leave no persisted frame behind in the CacheManager") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val entries = Seq("pipeline_ingest", "ingest_audit", "pipeline_ingest_decontam")
    // a first run builds the session's stores (signature index, span-df)
    entries.foreach(q => SparkEntry.queries(q)(spark, dir).collect())
    spark.catalog.clearCache()
    entries.foreach { q =>
      SparkEntry.queries(q)(spark, dir).collect()
      assert(cache.isEmpty, s"$q left a persisted frame in the CacheManager")
    }
  }

  test("ingest_audit: one tagged pass — no stage-prefix union, bounded exchanges") {
    val plan = SparkEntry.queries("ingest_audit")(spark, dir)
      .queryExecution.executedPlan.toString
    // the funnel is ONE conditional-sum aggregate over the tagged
    // chain, unpivoted — never a union of four per-stage aggregates
    // each re-deriving its chain prefix. (The near-dup core's internal
    // dropped-branch Union is fine; the signature of the 4-union form
    // was four global SinglePartition aggregates.)
    val globalAggs = "Exchange SinglePartition".r.findAllIn(plan).size
    assert(globalAggs == 1,
      s"funnel must be one tagged aggregate, found $globalAggs global aggs:\n$plan")
    // regression bound: the single-pass form measures 50 exchanges
    // (the 4-union form measured 61); headroom for minor plan drift
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 55,
      s"ingest_audit exchange count regressed to $exchanges (>55):\n$plan")
  }

  test("pipeline_ingest_ladder: no all-pairs; semantic rung's scan pruned + pushed") {
    val plan = SparkEntry.queries("pipeline_ingest_ladder")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
      s"no stage of the ladder chain may go all-pairs:\n$plan")
    // the chain localCheckpoints the semantic flag set (lineage
    // truncated in the composed plan), so the rung's scan discipline
    // is locked on the SHARED production factory
    // (Queries.ladderSemanticFlags — the exact frame the chain
    // checkpoints, so the lock cannot drift from the chain):
    // embeddings reads with the id-slice predicates pushed, the
    // band-key gate a broadcast semi
    val semPlan = Queries.ladderSemanticFlags(spark, dir)
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(vec_id".r
        .findFirstIn(semPlan).isDefined,
      s"the semantic rung's id-slice predicates must reach the embeddings scan:\n$semPlan")
    // r21: the inner broadcast join IS the band gate (the redundant
    // band-key semi was folded into it); the corpus banded stream must
    // still probe a broadcast relation, never shuffle
    assert("BroadcastHashJoin [^\\n]*Inner".r.findFirstIn(semPlan).isDefined,
      s"the band gate must broadcast:\n$semPlan")
    assert(!semPlan.contains("SortMergeJoin"),
      s"the semantic rung must not shuffle its banded corpus stream:\n$semPlan")
  }

  test("pipeline_ingest_boil: no all-pairs; cleaned text planned once (r18)") {
    // the boil-composed chain swaps the blocklist survivors' text for
    // the store-cleaned form and feeds it to the percentile gate, the
    // decontam signing, and the near-dup stage — three consumers of
    // one localCheckpointed clean. The lock: no stage may go
    // all-pairs, and the span-df STORE probe's rebuild must appear in
    // the plan at most... the cleaned frame is checkpointed, so the
    // final plan must read it through LogicalRDD/ExistingRDD (a
    // re-derived probe would re-explode the batch per consumer).
    val plan = SparkEntry.queries("pipeline_ingest_boil")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
      s"no stage of the boil chain may go all-pairs:\n$plan")
    assert(plan.contains("ExistingRDD") || plan.contains("LogicalRDD"),
      s"the checkpointed cleaned frame must back the boil chain:\n$plan")
    // the funnel twin keeps the single-tagged-pass shape: the stage
    // rows come from ONE conditional-sum aggregate unpivoted by ONE
    // stage-struct explode — never a stage-prefix union re-running
    // the chain once per stage (which would plan one explode-free
    // aggregate per stage; the chain's INNER unions — near-dup's
    // corpus/batch candidate arms — are legitimate, so the lock is on
    // the funnel's unpivot, not a plan-wide Union/exchange count).
    val audit = SparkEntry.queries("ingest_audit_boil")(spark, dir)
      .queryExecution.executedPlan.toString
    val nExplode = "Generate explode".r.findAllIn(audit).size
    assert(nExplode == 1,
      s"ingest_audit_boil must unpivot ONE tagged aggregate, " +
        s"got $nExplode explodes:\n$audit")
  }

  test("quality gates evaluate qualityScore ONCE (evalOnce pushdown fence)") {
    // the keep filter references the projected `quality` alias;
    // without the evalOnce fence PushDownPredicates inlines the full
    // 2-UDF qualityScore chain into the Filter (and the scan's
    // DataFilters) so every surviving row tokenizes its text TWICE —
    // the expression-duplication trap the round notes flag. The lock:
    // no Filter condition (and no scan DataFilters) may contain a
    // Scala UDF in these plans; the UDFs live in the Project only.
    for (q <- Seq("sample_quality_weighted", "pipeline_corpus")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      val offending = plan.linesIterator.filter(l =>
        (l.contains("Filter ") || l.contains("DataFilters:")) && l.contains("UDF(")).toSeq
      assert(offending.isEmpty,
        s"$q: quality UDFs leaked into a filter (double evaluation):\n" +
          offending.mkString("\n"))
    }
    // r17 (the r16 verdict's #1): pipeline_corpus's gated subtree must
    // appear exactly ONCE in the physical plan. The r16 exactCanonical
    // join-back referenced the gated frame on BOTH join sides, so the
    // fenced quality projection planned twice and the 2-UDF gate ran
    // twice per row (the round's one real committed regression); the
    // exactKeepFirst payload-through-aggregate shape has no join-back.
    // The fenced projection is the unique plan line carrying eval_once.
    val corpusPlan = SparkEntry.queries("pipeline_corpus")(spark, dir)
      .queryExecution.executedPlan.toString
    val nGate = corpusPlan.linesIterator.count(_.contains("eval_once"))
    assert(nGate == 1,
      s"pipeline_corpus must plan the fenced quality gate exactly once, " +
        s"got $nGate:\n$corpusPlan")
  }

  test("evalOnce fence preserves non-double types exactly (ADVICE r14)") {
    // the previous identity-UDF fence was typed java.lang.Double and
    // silently CAST any other input; the EvalOnceFence expression must
    // pass strings/ints/arrays through with dataType and values intact
    // while still being an optimizer fence (nondeterministic)
    import spark.implicits._
    val df = Seq((1, "ab", Seq(1.5f)), (2, "cd", Seq(2.5f)))
      .toDF("i", "s", "v")
      .select(
        GraftFunctions.evalOnce(col("i")).as("i"),
        GraftFunctions.evalOnce(col("s")).as("s"),
        GraftFunctions.evalOnce(col("v")).as("v"))
    assert(df.schema.map(_.dataType.simpleString) ==
      Seq("int", "string", "array<float>"))
    val rows = df.orderBy("i").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(rows.map(_.getString(1)).toSeq == Seq("ab", "cd"))
    assert(rows.map(_.getSeq[Float](2)).toSeq == Seq(Seq(1.5f), Seq(2.5f)))
    // still a fence: the wrapped expression must not be deterministic
    import org.apache.spark.sql.GraftColumnBridge
    assert(!GraftColumnBridge.expression(
      GraftFunctions.evalOnce(col("i"))).deterministic)
  }

  test("quality_percentile: CDF on the histogram, corpus never windowed") {
    val plan = SparkEntry.queries("quality_percentile")(spark, dir)
      .queryExecution.executedPlan.toString
    // the naive form windows the corpus PARTITION BY lang — a few
    // mega-partitions at scale. The locked shape: one map-side
    // combinable (lang, quality) aggregate, windows over that tiny
    // frame only, percentile back via broadcast — so the plan has
    // exactly ONE hash exchange (the histogram agg; the window sorts
    // within the same lang-compatible partitioning) and the join
    // broadcasts
    assert("BroadcastHashJoin".r.findFirstIn(plan).isDefined,
      s"the CDF must broadcast back onto the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"quality_percentile must never sort-merge:\n$plan")
    val nHash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nHash <= 2,
      s"expected <=2 hash exchanges (histogram agg + tiny lang window), got $nHash:\n$plan")
  }

  test("pipeline_curriculum: survivor CDF broadcasts, bounded exchanges, no sort-merge") {
    // the ladder subtree sits behind the survivors' localCheckpoint
    // (it executes once; the visible plan reads the materialized
    // narrow frame), so the locked shape is the percentile + export
    // composition: the survivor-histogram CDF must come back via a
    // BROADCAST join, the only hash exchanges are the histogram agg,
    // the tiny lang window, and the md5-bucket-bounded shard window —
    // and nothing may sort-merge
    val plan = SparkEntry.queries("pipeline_curriculum")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"pipeline_curriculum must never sort-merge:\n$plan")
    assert("BroadcastHashJoin".r.findFirstIn(plan).isDefined,
      s"the survivor CDF must broadcast back:\n$plan")
    val nHash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nHash <= 3,
      s"expected <=3 hash exchanges (histogram agg + lang window + " +
        s"shard window), got $nHash:\n$plan")
  }

  test("sample_percentile_snapshot: range lookup broadcasts, corpus never shuffles") {
    // the persisted-CDF serving path: the corpus rows must never
    // shuffle — the only hash exchanges belong to the bounded
    // distinct-pair probe (≤10001 cells per language), the CDF and the
    // resolved pairs come back via BROADCAST joins, and nothing
    // sort-merges
    val plan = SparkEntry.queries("sample_percentile_snapshot")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"the snapshot lookup must never sort-merge:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"CDF + resolved pairs must broadcast:\n$plan")
    val nHash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nHash <= 3,
      s"expected <=3 hash exchanges (pair distinct + lookup aggs), got $nHash:\n$plan")
  }

  test("dedup_source_matrix: pairs from counts — no doc-level pair join") {
    val plan = SparkEntry.queries("dedup_source_matrix")(spark, dir)
      .queryExecution.executedPlan.toString
    // the matrix must join the per-(hash, source) COUNT frame with
    // itself, never doc-level rows: text appears in no join input
    // (the only text read feeds the hash agg), and there is no
    // all-pairs shape
    assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
      s"source matrix must never go all-pairs:\n$plan")
    val nAgg = "HashAggregate".r.findAllIn(plan).size
    assert(nAgg >= 2, s"expected count-then-rollup aggregates:\n$plan")
  }

  test("dedup_source_matrix_neardup: store-fed pairs, narrow source attach") {
    val plan = SparkEntry.queries("dedup_source_matrix_neardup")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
      s"near-dup matrix must never go all-pairs:\n$plan")
    // the source attach reads documents as (doc_id, source) ONLY —
    // corpus text must never enter this query's plan (the pair sweep
    // runs off the persisted signature store)
    assert(!plan.contains("text:string"),
      s"corpus text leaked into the near-dup matrix plan:\n$plan")
  }

  test("knn_label_prop: label attach and vote stay off the corpus shuffle") {
    val plan = SparkEntry.queries("knn_label_prop")(spark, dir)
      .queryExecution.executedPlan.toString
    // the candidate stage is knnJoin's bucket-key join; the label
    // attach is an equi-join on the pkey — neither may plan a
    // nested-loop (the all-pairs shape the bucketing exists to avoid)
    assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
      s"label prop must never plan an all-pairs join:\n$plan")
  }
}
