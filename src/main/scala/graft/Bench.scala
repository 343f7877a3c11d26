package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) at SPARK_GRAFT_CPUS (default 32)
  * and prints two JSON lines. Results are fully materialized through
  * the noop sink (count() would let Catalyst prune the projections
  * being measured).
  *
  * Protocol: best-of-2. Each query runs twice and records the min: the
  * bench shares its box, and a single load spike once printed 18.5 s
  * for a query that measures 0.80 s idle. A failed attempt is not
  * retried, and the process exits 1 if any query failed.
  *
  * One rerun rule ([[selectReruns]]): after every query's planned
  * attempts, a query whose attempts both succeeded and either disagree
  * by more than 2x or have a best more than 1.5x its value in the
  * committed record ([[recordPath]] of this cpu count) is re-measured
  * once. The re-measures run together at the end of the run, after one
  * short settle, so each lands in a different load window from its
  * planned attempts; the min is kept. Load that covers a whole window
  * hits both planned attempts, so only this end-of-run pass can clear
  * it; a genuine regression stays slow on the re-measure and the
  * record stands. The diag's `rerun` map tells the two apart.
  *
  * The diag also carries each query's start epoch-seconds (`ts`), its
  * 1-minute /proc/loadavg at start (`load`) and its `status`, so a run
  * taken under load indicts itself. The record file is rewritten by
  * every run: it is the last run's record, not a minimum kept across
  * runs.
  */
object Bench {
  /** Planned attempts per query. */
  private val Runs = 2
  /** Planned attempts disagree when the slower is over this × the faster. */
  private val Disagree = 2.0
  /** A time is slow when it is over this × the committed one. */
  private val Slow = 1.5

  private def loadAvg1m(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").head.toDouble
    catch { case _: Throwable => -1.0 }

  /** The record a run at `cpus` writes and reads its baseline from.
    * `BENCH_FULL.json` is the official 32-cpu record; any other cpu
    * count (-1 when SPARK_GRAFT_CPUS is not a number) has its own
    * sidecar, so a scaling run never overwrites the official record and
    * is judged against its own cpu count's times.
    */
  private[graft] def recordPath(cpus: Int): String =
    if (cpus == 32) "BENCH_FULL.json" else s"BENCH_FULL_c$cpus.json"

  /** Per-query seconds of the COMMITTED record at [[recordPath]]:
    * `git show HEAD:<path>` (the working-tree file may be a local run
    * at another scale), else the working-tree file. A record at another
    * scale or cpu count is discarded ([[baselineForScale]]). Any
    * failure degrades to an empty map, never an error: a bench must
    * run without a baseline (the over-baseline trigger is then off).
    */
  private def baselineTimes(sfDir: String, cpus: Int): Map[String, Double] = {
    val path = recordPath(cpus)
    def gitShow(): Option[String] =
      try {
        val p = new ProcessBuilder("git", "show", s"HEAD:$path").start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
        if (p.waitFor() == 0 && out.nonEmpty) Some(out) else None
      } catch { case _: Throwable => None }
    def readFile(): Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8"))
      catch { case _: Throwable => None }
    gitShow().orElse(readFile())
      .map(baselineForScale(_, sfDir, cpus)).getOrElse(Map.empty)
  }

  /** Baseline accepted only when its record NAMES this run's scale
    * and cpu count: `exists`, not `forall` — a record with no `sf`
    * field (legacy/foreign file) is foreign, and a cross-scale baseline
    * would put essentially every query over 1.5x and re-measure it. A
    * record from another cpu count (or with no `cpus` field) is just as
    * foreign: an 8-cpu run judged against 32-cpu times reports bogus
    * ratios.
    */
  private[graft] def baselineForScale(json: String, sfDir: String,
      cpus: Int): Map[String, Double] = {
    val sfOk = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(json)
      .exists(_.group(1) == sfDir)
    val cpusOk = "\"cpus\":(-?[0-9]+)".r.findFirstMatchIn(json)
      .exists(_.group(1) == cpus.toString)
    if (sfOk && cpusOk) parseQueriesMap(json) else Map.empty
  }

  /** The flat `"queries":{...}` map of a BENCH_FULL/BENCH_r JSON line
    * — extracted structurally (substring to the map's closing brace)
    * rather than by a whole-file regex, because the diag's ts/load
    * maps also pair query names with numbers.
    */
  private[graft] def parseQueriesMap(json: String): Map[String, Double] = {
    val marker = "\"queries\":{"
    val start = json.indexOf(marker)
    if (start < 0) return Map.empty
    val body = json.substring(start + marker.length)
    val end = body.indexOf('}')
    if (end < 0) return Map.empty
    "\"([^\"]+)\":(-?[0-9.eE+\\-]+)".r.findAllMatchIn(body.substring(0, end))
      .flatMap(m => scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption)
      .toMap
  }

  /** Self-adjudication vs the committed record: the median per-query
    * ratio separates uniform environmental drift from real
    * regressions. Returns (median ratio, #queries over 1.5x);
    * (-1.0, -1) when no baseline covers any query (fresh clone,
    * cross-scale record), so "no baseline" never reads as "perfect
    * parity".
    */
  private[graft] def ratioStats(times: Map[String, Double],
      baseline: Map[String, Double]): (Double, Int) = {
    val ratios = times.toSeq
      .flatMap { case (n, t) => baseline.get(n).filter(_ > 0).map(t / _) }
      .sorted
    if (ratios.isEmpty) (-1.0, -1)
    else {
      val m = ratios.size
      val med = if (m % 2 == 1) ratios(m / 2)
        else (ratios(m / 2 - 1) + ratios(m / 2)) / 2.0
      (med, ratios.count(_ > Slow))
    }
  }

  /** One query's attempts, each (seconds, ok): the planned ones and at
    * most one re-measure.
    */
  private[graft] case class Measured(name: String,
      planned: Seq[(Double, Boolean)], startEpochSec: Long, load1m: Double,
      rerun: Option[Rerun] = None) {
    /** From the planned attempts only: a re-measure refines an ok time
      * and never downgrades it.
      */
    def ok: Boolean = planned.forall(_._2)
    def attempts: Seq[(Double, Boolean)] =
      planned ++ rerun.map(r => (r.sec, r.ok))
    /** Min over the ok attempts; a failed query records the duration of
      * its failed attempt.
      */
    def sec: Double = attempts.filter(_._2).map(_._1).reduceOption(_ min _)
      .getOrElse(planned.head._1)
  }

  /** A re-measure: its trigger (`disagree`, `over_baseline` or `both`),
    * its attempt, and whether it was still slow — over 1.5x committed,
    * or failed, since a failed re-measure cannot clear a query.
    */
  private[graft] case class Rerun(trigger: String, sec: Double, ok: Boolean,
      stillSlow: Boolean)

  /** The rerun rule: each query whose planned attempts all succeeded
    * and either disagree by more than 2x (one of them was load-poisoned,
    * but which?) or have a best more than 1.5x its committed baseline
    * (load that covered both attempts), mapped to its trigger. A failed
    * query is never re-run: its error, not its time, is the record.
    */
  private[graft] def selectReruns(planned: Seq[Measured],
      baseline: Map[String, Double]): Map[String, String] =
    planned.filter(_.ok).flatMap { m =>
      val ts = m.planned.map(_._1)
      val disagree = ts.max > Disagree * ts.min
      val over = baseline.get(m.name).exists(b => b > 0 && ts.min > Slow * b)
      val trigger =
        if (disagree && over) Some("both")
        else if (disagree) Some("disagree")
        else if (over) Some("over_baseline")
        else None
      trigger.map(m.name -> _)
    }.toMap

  /** `m` with its re-measure `(sec, ok)` folded in. */
  private[graft] def remeasured(m: Measured, trigger: String, sec: Double,
      ok: Boolean, baseline: Map[String, Double]): Measured = {
    val stillSlow = !ok || baseline.get(m.name).exists(b => b > 0 && sec > Slow * b)
    m.copy(rerun = Some(Rerun(trigger, sec, ok, stillSlow)))
  }

  /** What a run prints and records: the full stdout line, the compact
    * stdout line, the diag (also on stderr) and the record file.
    */
  private[graft] case class Report(full: String, compact: String,
      diag: String, record: String)

  private[graft] def report(results: Seq[Measured],
      baseline: Map[String, Double], sfDir: String, cpus: Int): Report = {
    def jmap(f: Measured => String): String =
      results.map(r => "\"" + r.name + "\":" + f(r)).mkString("{", ",", "}")
    val total = results.map(_.sec).sum
    val loads = results.map(_.load1m).filter(_ >= 0)
    val loadMax = if (loads.isEmpty) -1.0 else loads.max
    val loadMean = if (loads.isEmpty) -1.0 else loads.sum / loads.size
    // ok queries only: a failed query's sec is its failed attempt's
    // meaningless duration, and fail-fast throws would drag the median
    // ratio down and make a broken run read as faster than baseline
    val (medRatio, nOver) =
      ratioStats(results.filter(_.ok).map(r => r.name -> r.sec).toMap, baseline)
    val fields = f""""n":${results.size},"failed":${results.count(!_.ok)},"runs":$Runs,"cpus":$cpus,"load_max":$loadMax%.2f,"load_mean":$loadMean%.2f,"median_ratio_vs_baseline":$medRatio%.4f,"n_over_1_5x":$nOver,"sf":"$sfDir""""
    val summary = f""""metric":"total","value":$total%.3f,"unit":"sec",$fields"""
    val rerun = jmap(_.rerun.map(x =>
      s"""{"trigger":"${x.trigger}","still_slow":${x.stillSlow}}""").getOrElse("null"))
    // -1 = no baseline entry
    val ratios = jmap(r => baseline.get(r.name).filter(_ > 0)
      .map(b => f"${r.sec / b}%.3f").getOrElse("-1"))
    val noBaseline =
      if (baseline.isEmpty) Nil else results.map(_.name).filterNot(baseline.contains)
    val diag = "{\"diag\":\"bench\"" +
      ",\"status\":" + jmap(r => if (r.ok) "\"ok\"" else "\"failed\"") +
      ",\"ts\":" + jmap(_.startEpochSec.toString) +
      ",\"load\":" + jmap(r => f"${r.load1m}%.2f") +
      ",\"attempts\":" + jmap(_.attempts.map(a => f"${a._1}%.3f").mkString("[", ",", "]")) +
      ",\"rerun\":" + rerun + ",\"ratio_vs_baseline\":" + ratios +
      ",\"baseline_n\":" + baseline.size +
      ",\"no_baseline\":" + noBaseline.map("\"" + _ + "\"").mkString("[", ",", "]") + "}"
    // The driver keeps only a TAIL of stdout, truncating from the
    // FRONT. The full line therefore puts the queries map FIRST, sorted
    // ASCENDING by duration, so truncation eats the fastest (least
    // informative) entries and never the summary fields at the end. At
    // 160 queries even that line is ~6 KB and loses its head, so the
    // compact line follows it: ~200 fixed bytes, always inside the tail,
    // with DISTINCT keys (bench_total, not metric/value) so it cannot be
    // mistaken for the full record.
    val qsAsc = results.sortBy(_.sec)
      .map(r => f""""${r.name}":${r.sec}%.3f""").mkString("{", ",", "}")
    Report(
      full = s"""{"queries":$qsAsc,$summary}""",
      compact = f"""{"bench_total":$total%.3f,$fields}""",
      diag = diag,
      record = s"""{"queries":${jmap(r => f"${r.sec}%.3f")},$summary,"diag":$diag}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val cpusStamp = scala.util.Try(cpus.toInt).getOrElse(-1)
    val spark = SparkEntry.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // JIT/codegen warmup on the smallest SF so per-query numbers
    // measure the plan, not first-use class generation. dedup_clusters
    // additionally warms the shingle/minhash UDF + iterative-join
    // codegen that no earlier-alphabet query touches (first use
    // measured ~5 s of pure JIT at sf0.1).
    Seq("a2_agg_summary", "dedup_clusters").foreach { q =>
      try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }
    // One-time dataset preparation (embedding backfill + IVF index
    // build — CREATE INDEX analogues, not query work; Queries.prepare
    // scaladoc has the reference mapping).
    try Queries.prepare(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] prepare failed: ${e.getMessage}")
    }
    val baseline = baselineTimes(sfDir, cpusStamp)
    def attempt(name: String): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val planned = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val startedAt = System.currentTimeMillis() / 1000
      val load = loadAvg1m()
      val first = attempt(name)
      val rest = if (first._2) Seq.fill(Runs - 1)(attempt(name)) else Nil
      Measured(name, first +: rest, startedAt, load)
    }
    val reruns = selectReruns(planned, baseline)
    if (reruns.nonEmpty) {
      System.err.println(s"[bench] re-measuring ${reruns.size} quer" +
        s"${if (reruns.size == 1) "y" else "ies"}: ${reruns.keys.toSeq.sorted.mkString(", ")}")
      // A short fixed settle gives a transient load spike a chance to
      // pass. A loadavg gate is the wrong tool: the 1-minute average
      // still reflects this bench's own local[32] work, so any absolute
      // threshold either never fires or degrades into a max-length sleep.
      Thread.sleep(5000)
    }
    val results = planned.map(m => reruns.get(m.name).fold(m) { trigger =>
      val (t, ok) = attempt(m.name)
      remeasured(m, trigger, t, ok, baseline)
    })
    val out = report(results, baseline, sfDir, cpusStamp)
    System.err.println(out.diag)
    try java.nio.file.Files.write(java.nio.file.Paths.get(recordPath(cpusStamp)),
      (out.record + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => }
    println(out.full)
    println(out.compact)
    spark.stop()
    if (results.exists(!_.ok)) sys.exit(1)
  }
}
