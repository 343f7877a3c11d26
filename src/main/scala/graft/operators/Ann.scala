package graft.operators

import graft.functions.GraftFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Similarity search over an embedding column (north-star addition).
  *
  * Brute-force exact top-k is the correctness baseline (and what the
  * reference effectively guarantees via pgvector exact recall when no
  * ANN index is used); the scale paths are:
  *  - random-hyperplane LSH bucketing (query touches only matching
  *    buckets → scan shrinks by ~2^bits),
  *  - IVF with k-means-style centroids (probe nProbe nearest cells).
  * Both paths return exact cosine scores over the candidate set, so
  * precision is 1.0 and only recall depends on the bucketing.
  */
object Ann {

  /** Exact brute-force cosine top-k. One embarrassingly-parallel scan
    * + TakeOrderedAndProject (per-partition heap, no full sort).
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryVec: Array[Float], k: Int): DataFrame =
    emb.select(col(idCol).as("id"),
        cosineSimilarity(col(vecCol), lit(queryVec)).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)

  /** Deterministic random hyperplanes: `bits` pseudo-random unit
    * directions derived from a seed (same xorshift chain as the
    * deterministic provider — no Math.random, executor-stable).
    */
  def hyperplanes(bits: Int, dim: Int, seed: Long = 42L): Array[Array[Float]] = {
    Array.tabulate(bits) { b =>
      var h = seed + b * 0x9E3779B97F4A7C15L
      Array.fill(dim) {
        h ^= h >>> 12; h ^= h << 25; h ^= h >>> 27
        ((h * 0x2545F4914F6CDD1DL) >> 40).toFloat / (1 << 23).toFloat
      }
    }
  }

  /** Sign-LSH bucket id for a vector column: bit b set iff
    * dot(v, plane_b) > 0 (Charikar random-hyperplane LSH; Hamming
    * distance between keys estimates angular distance). Built-ins
    * only — stays in codegen.
    */
  def lshKey(vecCol: Column, planes: Array[Array[Float]]): Column =
    planes.zipWithIndex.foldLeft(lit(0L)) { case (acc, (p, i)) =>
      acc.bitwiseOR(
        when(dotProduct(vecCol, lit(p)) > 0, lit(1L << i)).otherwise(lit(0L)))
    }

  /** The query vector's bucket key, computed driver-side with the
    * same sign test as [[lshKey]] (double-precision dot).
    */
  private def driverLshKey(queryVec: Array[Float], planes: Array[Array[Float]]): Long =
    planes.zipWithIndex.foldLeft(0L) { case (acc, (p, i)) =>
      val dot = p.zip(queryVec).map { case (a, b) => a.toDouble * b }.sum
      if (dot > 0) acc | (1L << i) else acc
    }

  /** All bucket keys within Hamming distance `maxHamming` of `qKey`:
    * XOR of every ≤maxHamming-subset of bit positions. Driver-side,
    * sum of C(bits, 0..maxHamming) keys — the probe ring.
    */
  private[graft] def ringKeys(qKey: Long, bits: Int, maxHamming: Int): Seq[Long] =
    (0 to maxHamming).flatMap(h =>
      (0 until bits).toList.combinations(h).map(
        _.foldLeft(qKey)((k, b) => k ^ (1L << b))))

  /** LSH-bucketed approximate top-k over an UN-indexed frame:
    * candidates = vectors whose bucket key is within `probeHamming`
    * bits of the query's key, then exact cosine top-k. This path
    * computes keys per query over a full scan — the ad-hoc /
    * one-shot form. For repeated queries use [[buildLshIndex]] +
    * [[probeLshIndex]], which persist the bucketed layout and prune
    * partitions instead of scanning.
    */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryVec: Array[Float], k: Int, bits: Int = 8,
      probeHamming: Int = 2, seed: Long = 42L): DataFrame = {
    val dim = queryVec.length
    val planes = hyperplanes(bits, dim, seed)
    val qKey = driverLshKey(queryVec, planes)
    val keyed = emb.withColumn("__lsh", lshKey(col(vecCol), planes))
    keyed
      .filter(hammingDist64(col("__lsh"), lit(qKey)) <= probeHamming)
      .select(col(idCol).as("id"),
        cosineSimilarity(col(vecCol), lit(queryVec)).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  // ---------------------------------------------------------------
  // Persisted LSH index (the IVF treatment for sign-LSH): build ONCE,
  // probe per query. The bucketed table is written PARTITIONED BY the
  // bucket key, so a probe reads only the C(bits, ≤probeHamming)
  // partition directories in the query's Hamming ring — at 100 TB the
  // probe scan is |table| * ring/2^bits, not |table|.
  // ---------------------------------------------------------------

  /** Derive the index key width from the corpus size: buckets sized
    * around `targetBucketRows` rows so each partition directory holds
    * a parquet file worth opening (hundreds of near-empty directories
    * cost more in file-open overhead than they save in pruning — the
    * r3 bench measured 219 probed dirs of ≤10 rows each dominating the
    * query). Capped at 16 bits ⇒ ≤65536 directories, a sane listing
    * size for any filesystem; beyond that scale the extra selectivity
    * should come from sorting within buckets (row-group pruning), not
    * more directories.
    */
  def deriveBits(rows: Long, targetBucketRows: Long = 64L): Int = {
    val raw = math.ceil(math.log(math.max(1L, rows).toDouble /
      targetBucketRows) / math.log(2)).toInt
    math.min(16, math.max(2, raw))
  }

  /** Build and persist a sign-LSH index:
    * `path/buckets` = source rows partitioned by `bucket`,
    * `path/meta`    = (bits, dim, seed) so probes rebuild identical
    * hyperplanes. Rows are repartitioned BY the bucket key before the
    * write so each bucket directory holds whole-partition files (a
    * plain partitionBy would write numTasks × numBuckets small files).
    * `bits <= 0` auto-derives the key width from the corpus size via
    * [[deriveBits]].
    */
  def buildLshIndex(emb: DataFrame, idCol: String, vecCol: String,
      path: String, bits: Int = 8, seed: Long = 42L,
      prefixDims: Int = 8): Unit = {
    val spark = emb.sparkSession
    val dimRow = emb.select(size(col(vecCol))).limit(1).collect()
    require(dimRow.nonEmpty,
      "cannot build an LSH index over an empty embeddings table")
    val dim = dimRow.head.getInt(0)
    val effBits = if (bits > 0) bits else deriveBits(emb.count())
    val planes = hyperplanes(effBits, dim, seed)
    // q8 codes AND the matryoshka prefix are DENORMALIZED into the
    // bucket table (same discipline as buildIvfIndex): both are paid
    // once at CREATE INDEX. q8 buys quantized probes/joins a 4×-
    // smaller ranking scan; vec_prefix buys the matryoshka prefix rank
    // a dim/prefixDims-smaller one — at 100 TB the coarse ranking pass
    // reads prefixDims floats per row instead of the full vector
    // (ReadSchema-locked in AnnSpec), and only the top-pool rescore
    // touches full vectors.
    emb.withColumn("bucket", lshKey(col(vecCol), planes))
      .withColumn("q8", Quantize.quantize(col(vecCol)))
      .withColumn("vec_prefix", slice(col(vecCol), 1, prefixDims))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$path/buckets")
    import spark.implicits._
    Seq((effBits, dim, seed, prefixDims))
      .toDF("bits", "dim", "seed", "prefix_dims")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Bucket-granular LSH maintenance with FROZEN hyperplanes — the
    * bucket twin of [[upsertIvfIndex]], completing the maintenance
    * triad (HNSW partition-granular, IVF frozen-centroid, LSH
    * frozen-planes): changed rows re-key against the index's stored
    * (bits, dim, seed) planes — never re-derived, so probe keys stay
    * valid — and ONLY the touched bucket partitions (each changed
    * id's old bucket, pruned id-join, plus its new bucket) are
    * dynamically overwritten. The denormalized q8 codes recompute for
    * the fresh rows, keeping [[knnJoinQuantizedIndexed]] and the
    * quantized probes consistent after maintenance. Rows with null
    * vectors are ignored (no deletion) — the same contract as the
    * HNSW/IVF upserts. Cost is O(touched buckets' rows); key-width
    * drift under 10× growth is a rebuild decision for the caller,
    * exactly like the IVF centroids.
    */
  def upsertLshIndex(changed: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = changed.sparkSession
    val meta = spark.read.parquet(s"$path/meta").head()
    val planes = hyperplanes(meta.getAs[Int]("bits"), meta.getAs[Int]("dim"),
      meta.getAs[Long]("seed"))
    val buckets = spark.read.parquet(s"$path/buckets")
    val dataCols = buckets.columns
      .filterNot(c => c == "bucket" || c == "q8" || c == "vec_prefix")
    // an index persisted before vec_prefix existed has neither the
    // meta column nor the bucket column — upsert it in its own shape
    // (reading prefix_dims unconditionally failed at runtime on such
    // stores; a prefix column can only appear via a full rebuild)
    val prefixDims = if (meta.schema.fieldNames.contains("prefix_dims"))
      Some(meta.getAs[Int]("prefix_dims")) else None
    val freshBase = changed.filter(col(vecCol).isNotNull)
      .select(dataCols.map(col).toIndexedSeq: _*)
      .withColumn("bucket", lshKey(col(vecCol), planes))
      .withColumn("q8", Quantize.quantize(col(vecCol)))
    val fresh = prefixDims.fold(freshBase)(d =>
      freshBase.withColumn("vec_prefix", slice(col(vecCol), 1, d)))
    // same null-filter as `fresh` (the upsertIvfIndex regression):
    // deriving ids from all of `changed` would silently delete a
    // null-vector row from its old bucket
    val ids = changed.filter(col(vecCol).isNotNull)
      .select(col(idCol)).distinct()
    val oldBuckets = buckets.join(broadcast(ids), Seq(idCol))
      .select(col("bucket").cast("long")).distinct()
      .collect().map(_.getLong(0))
    val newBuckets = fresh.select(col("bucket")).distinct()
      .collect().map(_.getLong(0))
    val touched = (oldBuckets ++ newBuckets).distinct.toIndexedSeq
    if (touched.isEmpty) return
    val replaced = buckets
      .filter(col("bucket").isin(touched: _*))
      .join(broadcast(ids), Seq(idCol), "left_anti")
      .unionByName(fresh.filter(col("bucket").isin(touched: _*))
        .select(buckets.columns.map(col).toIndexedSeq: _*))
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try replaced.repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$path/buckets")
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Probe a persisted LSH index: enumerate the Hamming ring of the
    * query's key driver-side, scan ONLY those bucket partitions, exact
    * cosine top-k over the candidates. `.explain` shows
    * PartitionFilters: [bucket IN (...)] — files outside the ring are
    * never opened.
    */
  def probeLshIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, queryVec: Array[Float],
      k: Int, probeHamming: Int = 2): DataFrame =
    probeWithKeys(spark, path, idCol, vecCol, queryVec, k) {
      (qKey, planes, _) => ringKeys(qKey, planes.length, probeHamming)
    }

  /** Query-directed multiprobe (Lv et al., VLDB'07): probe the
    * `maxProbes` buckets MOST LIKELY to hold the query's neighbors,
    * ordered by the cost of the sign flips that produce them — a
    * neighbor lands across a hyperplane the query is close to far more
    * often than across one it clears by a wide margin, so flipping
    * small-|dot| bits first reaches a given recall in strictly fewer
    * bucket reads (= files opened) than a blind Hamming ring, which
    * treats every bit as equally likely to differ.
    *
    * The probe list is enumerated driver-side with a heap over flip
    * subsets (O(maxProbes · log maxProbes), independent of 2^bits).
    * At 100 TB this is the index's query planner: the scan cost is
    * maxProbes directories regardless of corpus size, and the knob is
    * per-query (cheap queries probe few, recall-critical ones many).
    */
  def probeLshIndexDirected(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String, queryVec: Array[Float],
      k: Int, maxProbes: Int): DataFrame =
    probeWithKeys(spark, path, idCol, vecCol, queryVec, k) {
      (_, planes, margins) => directedProbeKeys(margins, planes.length, maxProbes)
    }

  private def probeWithKeys(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String, queryVec: Array[Float],
      k: Int)(keys: (Long, Array[Array[Float]], Array[Double]) => Seq[Long]): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val bits = meta.getAs[Int]("bits")
    val dim = meta.getAs[Int]("dim")
    val seed = meta.getAs[Long]("seed")
    require(queryVec.length == dim,
      s"query dim ${queryVec.length} != index dim $dim")
    val planes = hyperplanes(bits, dim, seed)
    val margins = planes.map(p =>
      p.zip(queryVec).map { case (a, b) => a.toDouble * b }.sum)
    val probe = keys(driverLshKey(queryVec, planes), planes, margins)
    spark.read.parquet(s"$path/buckets")
      .filter(col("bucket").isin(probe: _*))
      .select(col(idCol).as("id"),
        cosineSimilarity(col(vecCol), lit(queryVec)).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  /** The `maxProbes` bucket keys with the lowest total flip cost,
    * where flipping bit b costs |margin(b)| (the query's distance to
    * hyperplane b). First key is always the query's own bucket (empty
    * flip set); successors come from the classic two-rule heap walk
    * over flip subsets of the margin-ascending bit order — (extend
    * with next position) and (replace last with next position) — which
    * enumerates subsets in nondecreasing cost without materializing
    * the 2^bits space.
    */
  private[graft] def directedProbeKeys(margins: Array[Double], bits: Int,
      maxProbes: Int): Seq[Long] = {
    val qKey = margins.zipWithIndex.foldLeft(0L) { case (acc, (m, i)) =>
      if (m > 0) acc | (1L << i) else acc
    }
    if (maxProbes <= 1) return Seq(qKey)
    // bit positions sorted by |margin| ascending: cheapest flips first
    val order = margins.map(math.abs).zipWithIndex.sortBy(_._1)
    val cost = order.map(_._1)
    def keyOf(subset: List[Int]): Long =
      subset.foldLeft(qKey)((kk, j) => kk ^ (1L << order(j)._2))
    // heap entries: (total flip cost, last flipped sorted-position,
    // flip subset as a reversed list)
    implicit val ord: Ordering[(Double, Int, List[Int])] =
      Ordering.by[(Double, Int, List[Int]), Double](_._1).reverse
    val heap = scala.collection.mutable.PriorityQueue((cost(0), 0, List(0)))
    val out = scala.collection.mutable.ArrayBuffer(qKey)
    while (heap.nonEmpty && out.length < maxProbes) {
      val (c, last, subset) = heap.dequeue()
      out += keyOf(subset)
      if (last + 1 < bits) {
        heap.enqueue((c + cost(last + 1), last + 1, (last + 1) :: subset))
        heap.enqueue((c - cost(last) + cost(last + 1), last + 1,
          (last + 1) :: subset.tail))
      }
    }
    out.toSeq
  }

  /** Build IVF centroids: Lloyd's k-means iterations expressed as
    * DataFrame ops (assign = argmin over broadcast centroids, update
    * = groupBy mean). Deterministic init: the `nCells` rows with the
    * smallest ids. Returns (cell_id, centroid) collected to the
    * driver — nCells is small by construction (sqrt(N) rule).
    */
  def ivfCentroids(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iterations: Int = 5): Array[(Int, Array[Float])] = {
    var centroids: Array[(Int, Array[Float])] = emb
      .orderBy(col(idCol).asc).limit(nCells)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray).zipWithIndex.map { case (v, i) => (i, v) }
    require(centroids.nonEmpty,
      "cannot build an IVF index over an empty embeddings table")
    for (_ <- 1 to iterations) {
      val assigned = assignCells(emb, vecCol, centroids)
      val dim = centroids.head._2.length
      val sums = assigned.groupBy(col("__cell"))
        .agg(
          count(lit(1)).as("n"),
          array((0 until dim).map(i =>
            sum(element_at(col(vecCol), i + 1).cast("double"))): _*).as("sums"))
        .collect()
      val updated = sums.map { r =>
        val cell = r.getInt(0)
        val n = r.getLong(1).toDouble
        val s = r.getSeq[Double](2)
        (cell, s.map(x => (x / n).toFloat).toArray)
      }
      val updatedMap = updated.toMap
      centroids = centroids.map { case (c, v) => (c, updatedMap.getOrElse(c, v)) }
    }
    centroids
  }

  /** Nearest-centroid result: winning cell id + the row's L2 distance
    * to that centroid (SemDeDup's keep-priority signal).
    */
  case class CentroidHit(cell: Int, dist: Double)

  /** Broadcast-argmin nearest-centroid assignment, as ONE UDF over a
    * broadcast centroid matrix.
    *
    * Why not `least(struct(l2Distance(vec, lit(c)), cell) × nCells)`:
    * that unrolls one codegen expression PER centroid, so at the √N
    * cluster counts SemDeDup/IVF prescribe (10⁴–10⁵ at 100 TB) the
    * generated projection blows Janino's 64 KB method limit — or
    * falls back to interpreted eval at per-row × nCells × dim cost —
    * long before data volume is the problem. A single UDF looping a
    * broadcast `Array[Array[Float]]` is O(nCells·dim) per row with no
    * codegen ceiling, and the matrix ships once per executor (torrent
    * broadcast), not once per task closure.
    *
    * Arithmetic is bit-identical to [[graft.plans.L2DistanceExpr]]
    * (same double accumulation order, same `sqrt(max(0, na+nb-2·dot))`
    * clamp) and ties break to the LOWEST cell id — exactly the
    * lexicographic `least(struct(d, cell))` order the unrolled form
    * had — so existing oracles stay hash-green. Null vector → null
    * hit (callers filter nulls; the old form's null ordering here was
    * accidental). Dimension mismatch throws, matching the
    * expression's pgvector-style data-error contract.
    */
  def nearestCentroidUdf(emb: DataFrame,
      centroids: Array[(Int, Array[Float])]): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(centroids.nonEmpty, "nearestCentroid over an empty centroid set")
    val sorted = centroids.sortBy(_._1)
    val bcCells = emb.sparkSession.sparkContext.broadcast(sorted.map(_._1))
    val bcMat = emb.sparkSession.sparkContext.broadcast(sorted.map(_._2))
    udf { (vec: Array[Float]) =>
      if (vec == null) null.asInstanceOf[CentroidHit]
      else {
        val cells = bcCells.value
        val mat = bcMat.value
        var best = -1
        var bestD = 0.0
        var ci = 0
        while (ci < mat.length) {
          val c = mat(ci)
          if (c.length != vec.length)
            throw new IllegalArgumentException(
              s"l2_distance: different vector dimensions ${vec.length} and ${c.length}")
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var i = 0
          while (i < vec.length) {
            val xi = vec(i).toDouble
            val yi = c(i).toDouble
            dot += xi * yi; na += xi * xi; nb += yi * yi
            i += 1
          }
          val d2 = na + nb - 2.0 * dot
          val d = math.sqrt(if (d2 < 0.0) 0.0 else d2)
          // strict < with cells pre-sorted ascending ⇒ ties go to the
          // lowest cell id (the least(struct) lexicographic order).
          // NaN ranks as +infinity like Spark's ordering (least/struct
          // placed NaN last): without the isNaN clause, a NaN distance
          // from a degenerate vector's FIRST centroid pinned best to
          // index 0 forever, because `d < NaN` is false for every
          // later finite centroid. All-NaN rows keep the lowest cell
          // (NaN==NaN ties, same as the struct compare).
          if (best == -1 || (bestD.isNaN && !d.isNaN) || d < bestD) {
            bestD = d; best = ci
          }
          ci += 1
        }
        CentroidHit(cells(best), bestD)
      }
    }
  }

  /** Assign each vector to its nearest centroid (broadcast argmin —
    * one narrow map over the scan; see [[nearestCentroidUdf]] for why
    * this is a single UDF rather than an unrolled `least()`).
    */
  def assignCells(emb: DataFrame, vecCol: String,
      centroids: Array[(Int, Array[Float])]): DataFrame =
    emb.withColumn("__cell",
      nearestCentroidUdf(emb, centroids)(col(vecCol)).getField("cell"))

  private[graft] def nearestCells(centroids: Array[(Int, Array[Float])],
      queryVec: Array[Float], nProbe: Int): Array[Int] = {
    def dist(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum)
    centroids.sortBy { case (c, v) => (dist(v, queryVec), c) }
      .take(nProbe).map(_._1)
  }

  // ---------------------------------------------------------------
  // Persisted IVF index: build ONCE per dataset, probe per query.
  // The k-means build is an index-construction step (the analogue of
  // pgvector's CREATE INDEX ... USING hnsw, extension/src/init.rs:
  // 86-146) — it must never run inside a query. The assigned table
  // is written PARTITIONED BY cell, so a probe reads only the nProbe
  // matching partition directories (partition pruning — at 100 TB
  // the probe's scan is |table| * nProbe / nCells, not |table|).
  // ---------------------------------------------------------------

  /** Build and persist an IVF index for an embedding table:
    * `path/centroids` = (cell, centroid) parquet,
    * `path/assigned`  = source rows + `cell` + `q8` int8 codes
    *                    (Quantize.quantizeVec), partitioned by cell.
    * The codes cost 1/4 of the vector bytes extra at build and buy a
    * ranking scan that reads 4× less (probeIvfIndexQuantized);
    * float-only probes never read the column (parquet column pruning).
    */
  def buildIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
      path: String, nCells: Int, iterations: Int = 5): Unit = {
    val spark = emb.sparkSession
    val centroids = ivfCentroids(emb, idCol, vecCol, nCells, iterations)
    assignCells(emb, vecCol, centroids)
      .withColumnRenamed("__cell", "cell")
      .withColumn("q8", Quantize.quantize(col(vecCol)))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$path/assigned")
    import spark.implicits._
    centroids.toSeq.map { case (c, v) => (c, v.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Partition-granular IVF maintenance with FROZEN centroids — the
    * production refresh pattern: re-running k-means and rewriting the
    * whole assigned table per refresh batch is a non-starter at scale,
    * so upserts keep the trained centroids, re-assign ONLY the changed
    * rows, and dynamically overwrite ONLY the touched cell partitions
    * (a row's old cell — pruned id-join — plus its new cell). Cost is
    * O(touched cells' rows), the same granularity bound as the HNSW
    * partition upsert. Centroid drift is a rebuild decision for the
    * caller (buildIvfIndex), exactly like a native IVF index's
    * REINDEX.
    *
    * `changed` must carry the index's stored data columns (idCol,
    * vecCol, ...); rows with null vectors are ignored (no deletion,
    * matching the HNSW upsert contract).
    */
  def upsertIvfIndex(changed: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = changed.sparkSession
    val centroids = loadIvfCentroids(spark, path)
    val assigned = spark.read.parquet(s"$path/assigned")
    val dataCols = assigned.columns.filterNot(c => c == "cell" || c == "q8")
    val fresh = assignCells(
        changed.filter(col(vecCol).isNotNull)
          .select(dataCols.map(col).toIndexedSeq: _*),
        vecCol, centroids)
      .withColumnRenamed("__cell", "cell")
      .withColumn("q8", Quantize.quantize(col(vecCol)))
    // Ids come from the SAME null-vector filter as `fresh`: deriving
    // them from all of `changed` would anti-join a null-vector row out
    // of its old cell without re-adding it — a silent deletion that
    // breaks the "ignored" contract above and diverges from
    // Hnsw.upsertHnswIndex under the same upsertVectorIndex call.
    val ids = changed.filter(col(vecCol).isNotNull)
      .select(col(idCol)).distinct()
    val oldCells = assigned.join(broadcast(ids), Seq(idCol))
      .select(col("cell")).distinct().collect().map(_.getInt(0))
    val newCells = fresh.select(col("cell")).distinct().collect().map(_.getInt(0))
    val touched = (oldCells ++ newCells).distinct.toIndexedSeq
    if (touched.isEmpty) return
    val replaced = assigned
      .filter(col("cell").isin(touched: _*))
      .join(broadcast(ids), Seq(idCol), "left_anti")
      .unionByName(fresh.filter(col("cell").isin(touched: _*)))
      .select(assigned.columns.map(col).toIndexedSeq: _*)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try replaced.write.partitionBy("cell").mode("overwrite")
      .parquet(s"$path/assigned")
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Load the (driver-small) centroid table of a persisted index. */
  def loadIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[(Int, Array[Float])] =
    spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** Probe a persisted IVF index: nearest nProbe cells by centroid
    * distance (driver-side over ≤nCells centroids), then exact cosine
    * top-k over ONLY those cell partitions. `.explain` shows
    * PartitionFilters: [cell IN (...)] — the scan never touches the
    * other cells' files.
    */
  def probeIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, queryVec: Array[Float],
      k: Int, nProbe: Int = 2): DataFrame = {
    val centroids = loadIvfCentroids(spark, path)
    val probeCells = nearestCells(centroids, queryVec, nProbe)
    spark.read.parquet(s"$path/assigned")
      .filter(col("cell").isin(probeCells.toIndexedSeq: _*))
      .select(col(idCol).as("id"),
        cosineSimilarity(col(vecCol), lit(queryVec)).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  /** Quantized IVF probe: same centroid-argmin cell pruning as
    * probeIvfIndex, but the RANKING pass reads only (id, q8) — int8
    * codes are 4× smaller than float32 vectors, so the
    * memory-bandwidth-bound candidate scan moves a quarter of the
    * bytes (ReadSchema shows just the two columns; the float vector
    * column is pruned out entirely). The top `window` candidates are
    * then rescored with exact float cosine via a BROADCAST join back
    * to the pruned cells — no driver-side collect of candidate ids,
    * and the rescore reads float vectors for window rows only.
    */
  def probeIvfIndexQuantized(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String, queryVec: Array[Float],
      k: Int, nProbe: Int = 2, window: Int = 100): DataFrame = {
    val centroids = loadIvfCentroids(spark, path)
    val probeCells = nearestCells(centroids, queryVec, nProbe)
    val assigned = spark.read.parquet(s"$path/assigned")
    require(assigned.columns.contains("q8"),
      s"IVF index at $path predates int8 codes — rebuild it with " +
        "buildIvfIndex before quantized probing")
    val qCodes = Quantize.quantizeVec(queryVec.toSeq).toSeq
    val cellPruned = assigned.filter(col("cell").isin(probeCells.toIndexedSeq: _*))
    val ranked = cellPruned
      .select(col(idCol),
        Quantize.int8Cosine(col("q8"), typedLit(qCodes)).as("__qcos"))
      .filter(col("__qcos").isNotNull)
      .orderBy(col("__qcos").desc, col(idCol).asc)
      .limit(window)
      .select(col(idCol))
    cellPruned
      .join(broadcast(ranked), Seq(idCol))
      .select(col(idCol).as("id"),
        cosineSimilarity(col(vecCol), lit(queryVec)).as("cos"))
      .filter(col("cos").isNotNull)
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  /** Batch kNN join: for every query row, its top-k neighbors among
    * the index rows, blocked by LSH key (all-pairs joins at 100 TB
    * must be bucketed; this is the bucketed shape). The query side is
    * multiprobed: each query also probes every bucket at Hamming
    * distance 1 from its own key (bits+1 keys total), which recovers
    * most of the recall lost to near-boundary sign flips without
    * widening the index side's shuffle.
    */
  /** `excludeSelf` drops pairs with q_id == x_id — correct when the
    * queries are drawn FROM the index (self is trivially the nearest
    * neighbor); pass false when queries and index are distinct corpora
    * whose id ranges may coincide, or true neighbors that merely share
    * an id value would be silently dropped.
    */
  def knnJoin(queries: DataFrame, index: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int = 6, seed: Long = 42L,
      excludeSelf: Boolean = true): DataFrame = {
    val dimRow = index.select(size(col(vecCol))).limit(1).collect()
    if (dimRow.isEmpty)
      // empty index → no neighbors; schema (incl. id types) must match
      // the non-empty branch, so derive it from the inputs
      return queries.limit(0).select(col(idCol).as("q_id"))
        .crossJoin(index.limit(0).select(col(idCol).as("x_id")))
        .withColumn("cos", lit(0.0)).withColumn("rank", lit(0))
    val planes = hyperplanes(bits, dimRow.head.getInt(0), seed)
    val x = index.select(col(idCol).as("x_id"), col(vecCol).as("x_vec"))
      .withColumn("__lsh", lshKey(col("x_vec"), planes))
    multiprobeKnn(multiprobeQueries(queries, idCol, vecCol, planes, bits),
      x, k, excludeSelf)
  }

  /** The single-bit-flip probe-key fan-out over a materialized key
    * column: the key itself plus every one-bit flip. Shared with the
    * verify-side aux dump (Queries.dumpOracleAux) so the oracle's
    * probe set can never drift from the engine's.
    */
  private[graft] def multiprobeKeyArray(qkey: Column, bits: Int): Column =
    array((qkey +: (0 until bits).map(b =>
      qkey.bitwiseXOR(lit(1L << b)))): _*)

  /** The multiprobed query side shared by [[knnJoin]] and
    * [[knnJoinIndexed]]: (q_id, q_vec, __lsh) with one row per probe
    * key — the query's own bucket plus every single-bit flip. The key
    * expression is computed ONCE per query row, then the probe ring
    * derived by bit flips of the materialized column — rebuilding the
    * full lshKey tree inside each of the bits+1 array elements would
    * risk (bits+1)x the dot-product work under the Generate node,
    * where whole-stage CSE is not guaranteed.
    */
  private def multiprobeQueries(queries: DataFrame, idCol: String,
      vecCol: String, planes: Array[Array[Float]], bits: Int): DataFrame = {
    val q0 = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("__qkey", lshKey(col("q_vec"), planes))
    q0.withColumn("__lsh", explode(multiprobeKeyArray(col("__qkey"), bits)))
      .drop("__qkey")
  }

  /** The join-verify-rank tail shared by [[knnJoin]] and
    * [[knnJoinIndexed]]: q (q_id, q_vec, __lsh) ⋈ x (x_id, x_vec,
    * __lsh) → exact cosine → top-k per query.
    */
  private def multiprobeKnn(q: DataFrame, x: DataFrame, k: Int,
      excludeSelf: Boolean): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("x_id").asc)
    q.join(x, Seq("__lsh"))
      .filter(if (excludeSelf) col("q_id") =!= col("x_id") else lit(true))
      .select(col("q_id"), col("x_id"),
        cosineSimilarity(col("q_vec"), col("x_vec")).as("cos"))
      // no distinct needed: the probe keys (own bucket + each
      // single-bit flip) are pairwise distinct and every index row
      // carries exactly one key, so a (q, x) pair joins at most once
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "x_id", "cos", "rank")
  }

  /** Quantized batch kNN join — the same LSH candidate generation as
    * [[knnJoin]], but int8 codes flow through the bucket join instead
    * of float vectors (4× fewer shuffle bytes on BOTH sides; in the
    * join workload the candidate shuffle IS the scale cost), pairs
    * rank by integer cosine to a per-query `pool`, and only those
    * pool pairs late-materialize float vectors for the exact top-k
    * rescore. Same output contract as knnJoin; degenerate (zero/null)
    * vectors drop at the integer-ranking stage instead of ranking
    * last, the one documented divergence.
    *
    * Scale honesty (same situation as [[knnJoinIndexed]]): at sf0.1
    * this measures SLOWER than the exact join — encoding both sides
    * at query time costs more than the few-MB shuffle it saves. The
    * crossover is where shuffle bytes dominate encode, and is
    * REALIZED by [[knnJoinQuantizedIndexed]]: buildLshIndex persists
    * the code column next to the vectors, eliminating the corpus-side
    * query-time encode entirely (measured at sf0.1: the indexed
    * quantized join runs at or below the exact indexed join). This
    * ad-hoc form remains for one-shot joins where no index exists.
    */
  def knnJoinQuantized(queries: DataFrame, index: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int = 6, seed: Long = 42L,
      pool: Int = 20, excludeSelf: Boolean = true): DataFrame = {
    val dimRow = index.select(size(col(vecCol))).limit(1).collect()
    if (dimRow.isEmpty)
      return queries.limit(0).select(col(idCol).as("q_id"))
        .crossJoin(index.limit(0).select(col(idCol).as("x_id")))
        .withColumn("cos", lit(0.0)).withColumn("rank", lit(0))
    val planes = hyperplanes(bits, dimRow.head.getInt(0), seed)
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("__qkey", lshKey(col("q_vec"), planes))
      .withColumn("__q8q", Quantize.quantize(col("q_vec")))
      .withColumn("__lsh", explode(multiprobeKeyArray(col("__qkey"), bits)))
      .select(col("q_id"), col("__q8q"), col("__lsh"))
    val x = index.select(col(idCol).as("x_id"), col(vecCol).as("x_vec"))
      .withColumn("__lsh", lshKey(col("x_vec"), planes))
      .withColumn("__q8x", Quantize.quantize(col("x_vec")))
      .select(col("x_id"), col("__q8x"), col("__lsh"))
    val wQ = Window.partitionBy(col("q_id"))
      .orderBy(col("__qcos").desc, col("x_id").asc)
    val cand = q.join(x, Seq("__lsh"))
      .filter(if (excludeSelf) col("q_id") =!= col("x_id") else lit(true))
      .select(col("q_id"), col("x_id"),
        Quantize.int8Cosine(col("__q8q"), col("__q8x")).as("__qcos"))
      .filter(col("__qcos").isNotNull)
      .withColumn("__r", row_number().over(wQ))
      .filter(col("__r") <= pool)
      .select(col("q_id"), col("x_id"))
    val eq = queries.select(col(idCol).as("q_id"), col(vecCol).as("__qv"))
    val ex = index.select(col(idCol).as("x_id"), col(vecCol).as("__xv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("x_id").asc)
    cand.join(eq, Seq("q_id")).join(ex, Seq("x_id"))
      .select(col("q_id"), col("x_id"),
        cosineSimilarity(col("__qv"), col("__xv")).as("cos"))
      .filter(col("cos").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "x_id", "cos", "rank")
  }

  /** Batch kNN join against a PERSISTED LSH index: same semantics and
    * probe pattern as [[knnJoin]] (own bucket + every single-bit flip
    * per query), but the index side reads the pre-bucketed table
    * instead of recomputing keys over a full scan — with the union of
    * the batch's probe keys pushed into PartitionFilters, so only the
    * bucket directories some query actually probes are opened.
    *
    * The probe-key union is collected driver-side for the pruning
    * literal; it is bounded by 2^bits (≤ 65536 longs at the
    * [[deriveBits]] cap) regardless of query count — index metadata
    * scale, not data scale. Results are identical to `knnJoin(queries,
    * index, …)` with the index's stored (bits, seed): the persisted
    * bucket column was computed by the same [[lshKey]] planes.
    */
  def knnJoinIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val bits = meta.getAs[Int]("bits")
    val dim = meta.getAs[Int]("dim")
    val seed = meta.getAs[Long]("seed")
    val planes = hyperplanes(bits, dim, seed)
    // cache the probed query side: it is evaluated twice (the key-
    // union collect below, then the join), and an uncached second
    // evaluation would both redo the upstream query work and — for a
    // nondeterministic source (sample, unordered limit) — risk keys
    // the collected union never saw, silently dropping neighbors.
    // MEMORY_AND_DISK + LRU-evictable, same lifetime contract as
    // Dedup's persisted intermediates (callers can clearCache()).
    val q = multiprobeQueries(queries, idCol, vecCol, planes, bits)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the batch's distinct probe keys, for partition pruning (bounded
    // by 2^bits — NOT by the number of queries)
    val probed = q.select(col("__lsh")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val x = spark.read.parquet(s"$path/buckets")
      .filter(col("bucket").isin(probed: _*)) // on the raw partition col → PartitionFilters
      .select(col(idCol).as("x_id"), col(vecCol).as("x_vec"),
        col("bucket").cast("long").as("__lsh"))
    multiprobeKnn(q, x, k, excludeSelf)
  }

  /** Quantized batch kNN join against a PERSISTED LSH index — the
    * production form of [[knnJoinQuantized]], with the query-time
    * corpus encode that made the ad-hoc variant slower than exact at
    * small SF eliminated entirely: the candidate stage reads the
    * index's PERSISTED int8 codes (built once at CREATE INDEX), so
    * its scan is column-pruned to (id, q8, bucket) — the float vector
    * never enters the candidate shuffle (ReadSchema has `q8`, not the
    * vector column; PlanSpec locks this). Candidates rank by integer
    * cosine to a per-query `pool`; only pool pairs late-materialize
    * float vectors (bucket-pruned index read + the small query batch)
    * for the exact top-k rescore. Probe pattern, key-union pruning,
    * and caching match [[knnJoinIndexed]]; results match
    * `knnJoinQuantized(queries, index, …)` at the index's stored
    * (bits, seed) because persisted codes are the same
    * Quantize.quantize of the same vectors.
    *
    * Like [[knnJoinIndexed]], the probe-side frame stays persisted
    * (MEMORY_AND_DISK, LRU-evictable) for the lifetime of the session
    * because it is evaluated twice — once eagerly for the key-union
    * collect below, once when the returned lazy plan executes; callers
    * doing many ad-hoc joins can `spark.catalog.clearCache()`.
    */
  def knnJoinQuantizedIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, pool: Int = 20, excludeSelf: Boolean = true): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val bits = meta.getAs[Int]("bits")
    val dim = meta.getAs[Int]("dim")
    val seed = meta.getAs[Long]("seed")
    val planes = hyperplanes(bits, dim, seed)
    val buckets = spark.read.parquet(s"$path/buckets")
    require(buckets.columns.contains("q8"),
      s"LSH index at $path predates int8 codes — rebuild it with " +
        "buildLshIndex before quantized joining")
    // query side: one probe row per (own bucket + single-bit flips),
    // codes computed once per query row (the batch is the small side).
    // Cached for the same two-evaluation reason as knnJoinIndexed.
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("__qkey", lshKey(col("q_vec"), planes))
      .withColumn("__q8q", Quantize.quantize(col("q_vec")))
      .withColumn("__lsh", explode(multiprobeKeyArray(col("__qkey"), bits)))
      .select(col("q_id"), col("__q8q"), col("__lsh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probed = q.select(col("__lsh")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val x = buckets
      .filter(col("bucket").isin(probed: _*)) // → PartitionFilters
      .select(col(idCol).as("x_id"), col("q8").as("__q8x"),
        col("bucket").cast("long").as("__lsh"))
    val wQ = Window.partitionBy(col("q_id"))
      .orderBy(col("__qcos").desc, col("x_id").asc)
    val cand = q.join(x, Seq("__lsh"))
      .filter(if (excludeSelf) col("q_id") =!= col("x_id") else lit(true))
      .select(col("q_id"), col("x_id"),
        Quantize.int8Cosine(col("__q8q"), col("__q8x")).as("__qcos"))
      .filter(col("__qcos").isNotNull)
      .withColumn("__r", row_number().over(wQ))
      .filter(col("__r") <= pool)
      .select(col("q_id"), col("x_id"))
    // exact rescore of pool pairs only: float vectors late-materialize
    // from the bucket-pruned index read (pool ⊆ candidates ⊆ probed
    // buckets) and the query batch
    val eq = queries.select(col(idCol).as("q_id"), col(vecCol).as("__qv"))
    val ex = buckets.filter(col("bucket").isin(probed: _*))
      .select(col(idCol).as("x_id"), col(vecCol).as("__xv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("x_id").asc)
    cand.join(eq, Seq("q_id")).join(ex, Seq("x_id"))
      .select(col("q_id"), col("x_id"),
        cosineSimilarity(col("__qv"), col("__xv")).as("cos"))
      .filter(col("cos").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "x_id", "cos", "rank")
  }
}
