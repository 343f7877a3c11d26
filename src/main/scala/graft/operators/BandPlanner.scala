package graft.operators

/** Adaptive MinHash/LSH banding planner (r16 — the last "ops dial"):
  * recommends a (numHashes, bands) geometry for a target Jaccard
  * threshold from the standard banding S-curve, instead of leaving
  * the fixed per-store defaults as the only option. A production
  * pipeline re-tunes banding per corpus similarity profile — a
  * near-dup pass at 0.8 on clean encyclopedic text wants a steep,
  * precise curve; a 0.3 pass over noisy crawl data wants recall —
  * and the signature stores' self-describing geometry properties
  * (Dedup.requireStoreGeometry) already makes switching safe: a
  * probe against an index built with the old geometry fails loudly,
  * so migration is "rebuild the index with the planned geometry",
  * never a silent mismatch.
  *
  * Model (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets
  * §3.4.2, and the reference's own banding scheme): with `b` bands of
  * `r` rows, a pair with Jaccard similarity `s` shares at least one
  * band key with probability P(s) = 1 − (1 − s^r)^b. The planner
  * searches the (b, r) grid for the cheapest geometry (fewest total
  * hashes b·r — signature bytes and probe cost both scale with it)
  * that clears BOTH sides of the curve: recall at the target
  * (P(threshold) ≥ minRecall) and noise rejection below it
  * (P(lowSim) ≤ maxLowProb). Pure arithmetic on the driver — the
  * plan is a handful of floating-point evaluations, never a data
  * pass; profile-driven callers feed `lowSim` from whatever corpus
  * statistic they trust (e.g. the modal background similarity of a
  * sampled pair panel).
  */
object BandPlanner {

  /** P(candidate | Jaccard = s) under (bands × rowsPerBand) banding:
    * 1 − (1 − s^r)^b — the S-curve both the planner and any
    * monitoring dashboard should quote.
    */
  def candidateProbability(s: Double, bands: Int, rowsPerBand: Int): Double = {
    require(s >= 0.0 && s <= 1.0, s"similarity must be in [0,1], got $s")
    require(bands >= 1 && rowsPerBand >= 1,
      s"geometry must be positive, got bands=$bands rows=$rowsPerBand")
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand.toDouble), bands.toDouble)
  }

  /** The S-curve's inflection estimate (1/b)^(1/r) — the similarity
    * at which a pair is ~50-63% likely to become a candidate; the
    * quick sanity read on an EXISTING geometry (the repo's 64-hash ×
    * 16-band default sits at (1/16)^(1/4) = 0.5).
    */
  def implicitThreshold(bands: Int, rowsPerBand: Int): Double = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"geometry must be positive, got bands=$bands rows=$rowsPerBand")
    math.pow(1.0 / bands, 1.0 / rowsPerBand)
  }

  /** A recommended geometry and its predicted operating point. */
  final case class Plan(numHashes: Int, bands: Int, rowsPerBand: Int,
      recallAtThreshold: Double, probAtLow: Double) {
    require(numHashes == bands * rowsPerBand)
  }

  /** Cheapest geometry clearing both curve constraints.
    *
    * @param threshold  target Jaccard — pairs at or above it are the
    *                   duplicates the pass must find
    * @param minRecall  required P(candidate) at `threshold`
    * @param lowSim     the background-noise similarity to reject
    *                   (default threshold/2 — the classic "half the
    *                   target" precision knob)
    * @param maxLowProb maximum P(candidate) at `lowSim`: the expected
    *                   fraction of background pairs that reach the
    *                   verify stage (candidate volume, not final
    *                   output — verification keeps correctness either
    *                   way, this bounds its COST)
    * @param maxHashes  signature-width budget; the search fails
    *                   loudly (None) when no geometry within it
    *                   clears both constraints — the caller must
    *                   relax one knob EXPLICITLY rather than get a
    *                   silently weaker curve
    *
    * Deterministic tie order: fewest hashes, then lowest probAtLow
    * (tighter precision at equal cost), then fewest bands.
    */
  def plan(threshold: Double, minRecall: Double = 0.9,
      lowSim: Option[Double] = None, maxLowProb: Double = 0.2,
      maxHashes: Int = 512): Option[Plan] = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0,1), got $threshold")
    require(minRecall > 0.0 && minRecall < 1.0,
      s"minRecall must be in (0,1), got $minRecall")
    // grid-size cap (ADVICE r16): the search eagerly materializes
    // ~maxHashes·ln(maxHashes) Plan candidates, so an uncapped budget
    // (1e8) would hang the driver allocating gigabytes before the
    // sort. 65536 hashes is already far past any useful signature
    // width (the repo default is 64) and keeps the grid ~7·10^5 rows.
    require(maxHashes >= 1 && maxHashes <= 65536,
      s"maxHashes must be in [1, 65536], got $maxHashes — a wider " +
        "signature budget than 64Ki hashes is never a real geometry")
    val low = lowSim.getOrElse(threshold / 2.0)
    require(low < threshold,
      s"lowSim ($low) must be below the threshold ($threshold)")
    // r ranges over the full hash budget (code review r16 — a fixed
    // r<=64 cap returned None on high-threshold asks whose only
    // feasible geometries are deep-band, e.g. threshold 0.98 wants
    // r~80): the grid is sum_r (maxHashes/r) ~ maxHashes·ln(maxHashes)
    // evaluations of pure arithmetic, trivial on the driver
    val candidates = for {
      r <- 1 to maxHashes
      b <- 1 to maxHashes / math.max(r, 1)
      if b * r <= maxHashes
      recall = candidateProbability(threshold, b, r)
      if recall >= minRecall
      pLow = candidateProbability(low, b, r)
      if pLow <= maxLowProb
    } yield Plan(b * r, b, r, recall, pLow)
    candidates.sortBy(p => (p.numHashes, p.probAtLow, p.bands)).headOption
  }
}
