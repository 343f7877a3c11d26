package graft

import graft.operators.QualityFilter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GPT-3-style learned quality filter (QualityFilter): the classifier
  * must separate target-like from out-of-domain text, the relational
  * scorer must agree with the model's own probabilities, and the
  * Pareto keep rule must be deterministic with exact thresholds. The
  * coefficient arithmetic is DuckDB-oracled (quality_classifier /
  * quality_filter_pareto) via dump-and-replay.
  */
class QualityFilterSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("classifier separates target-like from out-of-domain docs") {
    import spark.implicits._
    val target = (0 until 8).map(i =>
      (100L + i, "the spark engine shuffles partitioned data across executor nodes efficiently"))
      .toDF("doc_id", "text")
    val negatives = (0 until 8).map(i =>
      (200L + i, "crumbly shortbread biscuits pair wonderfully with elderflower cordial afternoons"))
      .toDF("doc_id", "text")
    val model = QualityFilter.train(negatives, target, "doc_id", "text")
    val probe = Seq(
      (1L, "spark engine shuffles partitioned data across executor nodes daily"),
      (2L, "shortbread biscuits pair wonderfully with elderflower cordial today"))
      .toDF("doc_id", "text")
    val got = QualityFilter.score(probe, model, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("qscore")).toMap
    assert(got(1L) > 0.5 && got(2L) < 0.5,
      s"target-like must score above 0.5, out-of-domain below: $got")
  }

  test("pareto keep rule: exact thresholds, deterministic, score-monotone") {
    import spark.implicits._
    def thresh(id: Long): Double = {
      val u = ((id % 100003L) * 2654435761L % 10000L + 0.5) / 10000.0
      1.0 - (math.pow(1.0 - u, -1.0 / 9.0) - 1.0)
    }
    val rows = (1L to 200L).map(i => (i, (i % 101L).toDouble / 100.0))
    val scored = rows.toDF("doc_id", "qscore")
    val kept = QualityFilter.paretoKeep(scored, "doc_id", "qscore")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val want = rows.filter { case (id, s) => s > thresh(id) }.map(_._1).toSet
    assert(kept == want, s"keep set must match the closed form; " +
      s"extra=${kept.diff(want)} missing=${want.diff(kept)}")
    assert(kept.nonEmpty && kept.size < rows.size,
      s"fixture must exercise both outcomes, kept ${kept.size}/${rows.size}")
    // monotone: boosting every score can only grow the keep set
    val boosted = QualityFilter.paretoKeep(
        scored.withColumn("qscore", least(lit(1.0), col("qscore") + 0.2)),
        "doc_id", "qscore")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept.subsetOf(boosted), "higher scores must never lose a kept doc")
  }

  test("QualityCal.withPercentile: range lookup, edge policy, null-safe lang") {
    import spark.implicits._
    import graft.operators.QualityCal
    // snapshot corpus: en cells {0.2(×1), 0.5(×2), 0.8(×1)} → pct
    // 0.25/0.75/1.0; de cells {0.4, 0.6} → 0.5/1.0; one NULL-lang cell
    val scored = Seq(
      (Some("en"), 0.2), (Some("en"), 0.5), (Some("en"), 0.5),
      (Some("en"), 0.8), (Some("de"), 0.4), (Some("de"), 0.6),
      (None: Option[String], 0.3))
      .toDF("lang", "quality")
    val cdf = QualityCal.cdfOf(scored)
    val rows = Seq(
      (1L, Some("en"), 0.5),   // exact cell → its own cume_dist 0.75
      (2L, Some("en"), 0.65),  // between cells → lower cell's 0.75
      (3L, Some("en"), 0.1),   // below every en cell → 0.0
      (4L, Some("de"), 0.6),   // exact top cell → 1.0
      (5L, Some("fr"), 0.9),   // language absent from snapshot → NULL
      (6L, None: Option[String], 0.3)) // NULL lang matches its group → 1.0
      .toDF("doc_id", "lang", "q")
    val got = QualityCal.withPercentile(rows, cdf, "lang", col("q"))
      .select("doc_id", "pct").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got == Map(
      1L -> Some(0.75), 2L -> Some(0.75), 3L -> Some(0.0),
      4L -> Some(1.0), 5L -> None, 6L -> Some(1.0)), s"got $got")
    // schema contract: original columns intact, pct appended
    val out = QualityCal.withPercentile(rows, cdf, "lang", col("q"))
    assert(out.columns.toSeq == Seq("doc_id", "lang", "q", "pct"))
    // every probe row survives (left join), even the abstained one
    assert(out.count() == 6)
  }

  test("QualityCal store: provenance guards and the refresh crash window") {
    import spark.implicits._
    import graft.operators.QualityCal
    val docs = Seq((1L, "en", "the quick brown fox jumps over the lazy dog"),
      (2L, "en", "a short one")).toDF("doc_id", "lang", "text")
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_qcal_store_"))
    // a missing table fails with a build hint
    val e0 = intercept[IllegalArgumentException] {
      QualityCal.requireCdf(store, "cdf", "t")
    }
    assert(e0.getMessage.contains("does not exist"), e0.getMessage)
    QualityCal.buildPercentileStore(store, "cdf", docs, "lang", "text",
      snapshot = "v1")
    // a healthy snapshot clears, pinned or unpinned
    QualityCal.requireCdf(store, "cdf", "t")
    QualityCal.requireCdf(store, "cdf", "t", expectSnapshot = Some("v1"))
    // A refresh OUTSIDE the atomic path (plain overwrite — the legacy
    // two-step's first half, or a foreign writer) commits a version
    // without snapshot properties, which reads as UNKNOWN provenance — loud even UNPINNED, strictly stronger than
    // the old data-then-meta ordering, which only a pinned probe
    // could catch and which still served the old label to unpinned
    // ones
    store.overwrite("cdf", store.read("cdf"))
    val e1 = intercept[IllegalStateException] {
      QualityCal.requireCdf(store, "cdf", "t", expectSnapshot = Some("v2"))
    }
    assert(e1.getMessage.contains("scorer version"), e1.getMessage)
    // ...and re-running the interrupted refresh repairs both halves
    QualityCal.buildPercentileStore(store, "cdf", docs, "lang", "text",
      snapshot = "v2")
    QualityCal.requireCdf(store, "cdf", "t", expectSnapshot = Some("v2"))
    // a table with data but NO scorer record (unknown provenance) is
    // rejected even unpinned
    store.overwrite("raw", store.read("cdf"))
    val e2 = intercept[IllegalStateException] {
      QualityCal.requireCdf(store, "raw", "t")
    }
    assert(e2.getMessage.contains("scorer version"), e2.getMessage)
    // a recorded scorer-version mismatch is rejected (percentiles from
    // different scorers are not comparable)
    store.overwrite("raw", store.read("cdf"), Map("quality.cdf.fn" -> "qualityScore-v0",
      "quality.cdf.snapshot" -> "v1"))
    val e3 = intercept[IllegalArgumentException] {
      QualityCal.requireCdf(store, "raw", "t")
    }
    assert(e3.getMessage.contains("not comparable"), e3.getMessage)
  }

  test("withPercentile rejects reserved column collisions loudly (ADVICE r15)") {
    import spark.implicits._
    import graft.operators.QualityCal
    val cdf = QualityCal.cdfOf(Seq(("en", 0.5)).toDF("lang", "quality"))
    // a stream whose schema already carries pct would otherwise fail
    // deep inside the gate's filter as an ambiguous reference (or
    // silently overwrite a working column) — the require names the
    // clash and the fix at the call
    val withPct = Seq((1L, "en", 0.5, 0.9)).toDF("doc_id", "lang", "q", "pct")
    val e = intercept[IllegalArgumentException] {
      QualityCal.withPercentile(withPct, cdf, "lang", col("q"))
    }
    assert(e.getMessage.contains("pct"), e.getMessage)
    // same frame clears with a non-colliding pctCol
    val ok = QualityCal.withPercentile(withPct, cdf, "lang", col("q"),
      pctCol = "cal_pct")
    assert(ok.columns.contains("cal_pct") && ok.count() == 1)
    val withRq = Seq((1L, "en", 0.5, "x")).toDF("doc_id", "lang", "q", "__rq")
    val e2 = intercept[IllegalArgumentException] {
      QualityCal.withPercentile(withRq, cdf, "lang", col("q"))
    }
    assert(e2.getMessage.contains("__rq"), e2.getMessage)
  }

  test("calibration refresh-while-serving: label and cells flip atomically (r16)") {
    import spark.implicits._
    import graft.operators.QualityCal
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_qcal_atomic_"))
    // snapshot s<i>'s corpus contains ONLY language l<i>, so any
    // observation pairing label s_i with cells of l_j (i != j) is a
    // torn read — exactly what the two-step overwrite+putMeta refresh
    // permitted between its writes and the atomic versioned-meta
    // commit must never show
    def refresh(i: Int): Unit = QualityCal.buildPercentileStore(store,
      "cdf", Seq((1L, s"l$i", "some calibration text body here"))
        .toDF("doc_id", "lang", "text"), "lang", "text", snapshot = s"s$i")
    refresh(0)
    @volatile var stop = false
    val torn = new java.util.concurrent.atomic.AtomicReference[String](null)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop && torn.get == null) {
        try {
          // ONE pointer resolution → (cells, label) must be the pair
          // committed together, whatever refresh is in flight
          val (df, meta) = store.readSnapshotWithMeta("cdf")
          val label = meta.getOrElse("quality.cdf.snapshot", "<absent>")
          val langs = df.select("lang").distinct()
            .collect().map(_.getString(0)).toSet
          if (langs != Set("l" + label.stripPrefix("s")))
            torn.set(s"label $label served another snapshot's cells: $langs")
          reads.incrementAndGet()
        } catch { case t: Throwable =>
          // a read that straddles MULTIPLE refreshes can lose its
          // snapshot dir to the store's one-commit GC grace — the
          // documented LOUD retention miss, categorically different
          // from the silent torn pair this test hunts
          val m = t.toString + String.valueOf(t.getCause)
          if (!(m.contains("PATH_NOT_FOUND") ||
              m.contains("FileNotFoundException") ||
              m.contains("does not exist")))
            torn.set(s"reader threw unexpectedly: $t")
        }
      }
    })
    reader.start()
    try (1 to 6).foreach { i => refresh(i); Thread.sleep(200) }
    finally { stop = true; reader.join(60000) }
    assert(torn.get == null, String.valueOf(torn.get))
    assert(reads.get > 0, "reader must have observed at least one pair")
    // the final pair is the last refresh's, label and cells together
    val fin = QualityCal.loadCdf(store, "cdf", "t", Some("s6"))
    assert(fin.select("lang").distinct().collect()
      .map(_.getString(0)).toSet == Set("l6"),
      "pinned final load must serve the cells committed with its label")
    // a version committed WITHOUT a sidecar after an atomic commit —
    // a plain overwrite (legacy refresh path, foreign writer) — must
    // read as UNKNOWN provenance, never serve the superseded
    // snapshot's label for cells it does not describe (review r16:
    // exact-version resolution, not newest-at-or-below)
    store.overwrite("cdf", store.read("cdf"))
    val e = intercept[IllegalStateException] {
      QualityCal.loadCdf(store, "cdf", "t")
    }
    assert(e.getMessage.contains("scorer version"), e.getMessage)
    val e2 = intercept[IllegalStateException] {
      QualityCal.requireCdf(store, "cdf", "t")
    }
    assert(e2.getMessage.contains("scorer version"), e2.getMessage)
    // ...and re-running the atomic refresh repairs the pair
    refresh(7)
    assert(QualityCal.loadCdf(store, "cdf", "t", Some("s7"))
      .select("lang").distinct().collect()
      .map(_.getString(0)).toSet == Set("l7"))
  }
}
