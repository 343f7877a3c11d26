package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Per-language quality-percentile CALIBRATION (r15): the persisted,
  * snapshot-versioned form of the histogram-CDF percentile behind
  * `quality_percentile` / `sample_percentile` — what lets a STREAMING
  * ingest chain gate rank-based ("keep each language's top 20%")
  * instead of on a raw score threshold, which is miscalibrated across
  * languages (the stopword/punctuation signals are English-tuned, so
  * one raw cutoff keeps 60% of English and 5% of German — exactly the
  * miscalibration the percentile layer exists to fix, FineWeb-2
  * style).
  *
  * Lifecycle mirrors the MinHash signature indexes: a batch job
  * builds/refreshes the CDF snapshot on calibration cadence
  * ([[buildPercentileStore]] — the frame is the (lang, 4dp-quality)
  * HISTOGRAM CDF, ≤ 10001 cells per language, tiny at any corpus
  * size), its store properties record the scorer version + a caller snapshot
  * label, and every probe require-matches them
  * ([[requireCdf]]) so a CDF built by an older scorer — whose
  * percentiles are not comparable — fails loudly instead of silently
  * miscalibrating every gate decision.
  */
object QualityCal {

  /** Store property keys for a persisted CDF snapshot table. */
  private[graft] val MetaFn = "quality.cdf.fn"
  private[graft] val MetaSnapshot = "quality.cdf.snapshot"

  /** Version stamp of the quality scorer a CDF is built from —
    * bump whenever [[GraftFunctions.qualityScore]]'s definition (or
    * its 4dp rounding) changes, so a stale persisted snapshot is
    * rejected rather than applied: percentiles from two different
    * scorers are not comparable even when both are in [0, 1].
    */
  private[graft] val FnVersion = "qualityScore-5sig-4dp-v1"

  /** The histogram-CDF frame (lang, quality, pct) over a scored docs
    * frame — the ONE definition shared by the batch percentile
    * queries ([[graft.Queries]] `quality_percentile` /
    * `sample_percentile` / `export_curriculum`) and the persisted
    * streaming snapshot, so the two sides can never drift.
    *
    * Scale shape: one map-side-combinable groupBy reduces the corpus
    * to ≤ 10001 cells per language (qualityScore is 4dp-rounded by
    * construction); the running-sum/total windows run over that tiny
    * frame only — the corpus itself never shuffles. pct is identical
    * to cume_dist by construction: cum(cells ≤ mine) IS "rows with
    * quality ≤ mine", peers included. NULL lang is its own group,
    * matching SQL's PARTITION BY.
    */
  def cdfOf(scored: DataFrame, langCol: String = "lang",
      qualityCol: String = "quality"): DataFrame = {
    // the windows run over the histogram's OUTPUT columns (aliased to
    // the canonical lang/quality), not the caller's input names —
    // referencing col(langCol) post-groupBy would fail analysis for
    // any non-default name
    val wCdf = Window.partitionBy(col("lang")).orderBy(col("quality"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLang = Window.partitionBy(col("lang"))
    scored
      .groupBy(col(langCol).as("lang"), col(qualityCol).as("quality"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("pct", round(
        sum(col("__n")).over(wCdf).cast("double") /
          sum(col("__n")).over(wLang).cast("double"), 6))
      .drop("__n")
  }

  /** Build (or refresh) the persisted CDF snapshot: one tiny
    * versioned overwrite — a calibration snapshot is a full replace,
    * never a merge — with the provenance record as the snapshot's
    * properties, committed in the same store commit as the data
    * ([[graft.sources.ParquetStore.overwrite]]). A refresh crash
    * therefore leaves the PREVIOUS (data, label) pair fully served —
    * there is no window where a concurrent stream start can pass
    * `requireCdf` against one snapshot's label and read another's
    * cells (ADVICE r15). Serving paths should read the pair back
    * through [[loadCdf]], which resolves data and label from one
    * commit read.
    */
  def buildPercentileStore(store: graft.sources.ParquetStore, table: String,
      docs: DataFrame, langCol: String, textCol: String,
      snapshot: String): Unit = {
    val scored = docs.select(col(langCol).as("lang"),
      GraftFunctions.qualityScore(col(textCol)).as("quality"))
    store.overwrite(table, cdfOf(scored),
      Map(MetaFn -> FnVersion, MetaSnapshot -> snapshot))
  }

  /** The provenance checks shared by [[requireCdf]] and [[loadCdf]]:
    * a recorded scorer version (unknown provenance is rejected, like
    * the signature indexes' geometry), the version matching the
    * current scorer, and — when the caller pins one — the snapshot
    * label matching (the staleness guard for pipelines that must only
    * run against a specific calibration release).
    */
  private def validateCdfMeta(meta: Map[String, String], table: String,
      caller: String, expectSnapshot: Option[String]): Unit = {
    val fn = meta.get(MetaFn)
    if (fn.isEmpty) throw new IllegalStateException(
      s"$caller: quality CDF table '$table' records no scorer version " +
        "(store properties) — rebuild it with QualityCal.buildPercentileStore; " +
        "gating on a CDF of unknown provenance miscalibrates every language")
    require(fn.contains(FnVersion),
      s"$caller: CDF table '$table' was built by scorer '${fn.get}' but " +
        s"this build scores with '$FnVersion' — percentiles from " +
        "different scorers are not comparable; rebuild the snapshot")
    expectSnapshot.foreach { s =>
      val got = meta.getOrElse(MetaSnapshot, "<absent>")
      require(got == s,
        s"$caller: CDF table '$table' is snapshot '$got' but the pipeline " +
          s"pins '$s' — stale calibration; rebuild the snapshot or move " +
          "the pipeline's pin")
    }
  }

  /** Require a CDF snapshot usable by THIS build (existence +
    * [[validateCdfMeta]]). Validation only — a serving path that also
    * READS the table should call [[loadCdf]] instead, so the cells it
    * gates with are the ones the validated label was committed with.
    */
  def requireCdf(store: graft.sources.ParquetStore, table: String,
      caller: String, expectSnapshot: Option[String] = None): Unit = {
    require(store.exists(table),
      s"$caller: quality CDF table '$table' does not exist — build it " +
        "on calibration cadence with QualityCal.buildPercentileStore(...)")
    validateCdfMeta(store.getMeta(table), table, caller, expectSnapshot)
  }

  /** Validate AND read the CDF snapshot as one consistent pair: the
    * returned frame is the data committed with the very label the
    * checks cleared (one commit read via
    * [[graft.sources.ParquetStore.readSnapshotWithMeta]]). Separate
    * `requireCdf` + `store.read` calls each read the commit, so a
    * calibration refresh landing between them could serve cells the
    * cleared label never described.
    */
  def loadCdf(store: graft.sources.ParquetStore, table: String,
      caller: String, expectSnapshot: Option[String] = None): DataFrame = {
    require(store.exists(table),
      s"$caller: quality CDF table '$table' does not exist — build it " +
        "on calibration cadence with QualityCal.buildPercentileStore(...)")
    val (df, meta) = store.readSnapshotWithMeta(table)
    validateCdfMeta(meta, table, caller, expectSnapshot)
    df
  }

  /** Attach each row's per-language percentile by RANGE lookup
    * against a CDF frame: pct = max cell pct over cells with
    * quality ≤ the row's quality — on any row whose quality value
    * exists in the snapshot corpus this IS its cume_dist (the cell
    * itself is the max), and between cells it interpolates
    * conservatively downward (step function), so a snapshot probe
    * generalizes the batch equi-join exactly.
    *
    * Policy at the edges, explicit because a gate acts on it:
    * quality BELOW every cell of a KNOWN language → pct 0.0 (the
    * snapshot corpus was entirely better — clearly bottom-percentile);
    * a language ABSENT from the snapshot → pct NULL (the calibration
    * ABSTAINS: no evidence either way; the caller decides whether
    * uncalibrated languages pass its gate).
    *
    * Scale shape: the row stream never shuffles — distinct
    * (lang, quality) pairs reduce the batch to a bounded frame
    * (≤ 10001 cells per language), the range join runs against the
    * BROADCAST CDF, and the resolved pairs broadcast back onto the
    * rows. Both joins are null-safe on lang (NULL-language rows keep
    * their percentile, like the batch side).
    */
  /** Guard for [[withPercentile]]'s reserved working names (ADVICE
    * r15): an input frame already carrying `pctCol` would make the
    * gate's `filter(col(pctCol)...)` an ambiguous reference at
    * analysis, and a pre-existing __rq/__pl/__pq would be silently
    * overwritten or collide in the join. Public so a STREAM can check
    * its schema at start (the cheap-config-checks-first discipline)
    * instead of failing inside the first micro-batch and wedging
    * every checkpoint restart on the same throw.
    */
  def requireNoReservedColumns(columns: Seq[String], pctCol: String,
      caller: String): Unit =
    Guards.requireNoReserved(columns, caller,
      " (or pass a different pctCol)",
      (pctCol +: Seq("__rq", "__pl", "__pq")): _*)

  def withPercentile(rows: DataFrame, cdf: DataFrame, langCol: String,
      quality: Column, pctCol: String = "pct"): DataFrame = {
    requireNoReservedColumns(rows.columns.toSeq, pctCol, "withPercentile")
    val withQ = rows.withColumn("__rq", quality)
    val c = cdf.select(col("lang").as("__cl"), col("quality").as("__cq"),
      col("pct").as("__cp"))
    val langs = c.select(col("__cl")).distinct()
      .withColumn("__known", lit(true))
    val pairs = withQ.select(col(langCol).as("__pl"), col("__rq").as("__pq"))
      .distinct()
    val looked = pairs
      .join(broadcast(c),
        col("__pl") <=> col("__cl") && col("__cq") <= col("__pq"), "left")
      .groupBy(col("__pl"), col("__pq"))
      .agg(max(col("__cp")).as("__mp"))
      .join(broadcast(langs), col("__pl") <=> col("__cl"), "left")
      .select(col("__pl"), col("__pq"),
        when(coalesce(col("__known"), lit(false)),
          coalesce(col("__mp"), lit(0.0))).as(pctCol))
    withQ.join(broadcast(looked),
        withQ(langCol) <=> col("__pl") && col("__rq") <=> col("__pq"), "left")
      .drop("__pl", "__pq", "__rq")
  }
}
