package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Forced-failure coverage for Verify's result writer: a throwing
  * query must still produce a result dir (the `__verify_err` sentinel)
  * so the driver's correctness artifact can never lose rows to a
  * runtime regression (the r10 silent-shrink failure mode).
  */
class VerifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a successful query writes its result parquet") {
    val out = TestSpark.tempDir("graft_verify_ok_")
    val ok = Verify.writeQueryResult(spark, "probe",
      (s, _) => { import s.implicits._; Seq((1L, "a"), (2L, "b")).toDF("id", "v") },
      sfDir = "unused", outDir = out)
    assert(ok)
    val got = spark.read.parquet(s"$out/probe").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
  }

  test("a throwing query writes the one-row error sentinel, not nothing") {
    val out = TestSpark.tempDir("graft_verify_err_")
    val ok = Verify.writeQueryResult(spark, "boom",
      (_, _) => throw new IllegalStateException("synthetic failure"),
      sfDir = "unused", outDir = out)
    assert(!ok)
    val sentinel = spark.read.parquet(s"$out/boom")
    assert(sentinel.columns.toSeq == Seq("__verify_err"))
    val rows = sentinel.as[String].collect()
    assert(rows.length == 1)
    assert(rows.head.startsWith("__VERIFY_ERR__"))
    assert(rows.head.contains("IllegalStateException"))
    assert(rows.head.contains("synthetic failure"))
  }

  test("a query that fails at ACTION time (lazy plan error) still leaves a sentinel") {
    val out = TestSpark.tempDir("graft_verify_lazy_")
    // plan builds fine; the UDF throws only when the write executes
    val boom = udf((i: Long) => if (i >= 0) throw new RuntimeException("deferred") else i)
    val ok = Verify.writeQueryResult(spark, "lazy_boom",
      (s, _) => s.range(5).select(boom(col("id")).as("x")),
      sfDir = "unused", outDir = out)
    assert(!ok)
    val rows = spark.read.parquet(s"$out/lazy_boom").as[String].collect()
    assert(rows.length == 1 && rows.head.startsWith("__VERIFY_ERR__"))
  }

  test("Bench.parseQueriesMap reads ONLY the queries map, never the diag") {
    // the over-baseline rerun's baseline comes from a committed
    // BENCH_FULL line whose diag ALSO pairs query names with numbers
    // (ts epoch-seconds, load averages) — a whole-file regex would
    // poison the baseline with epoch timestamps and the rerun would
    // never fire (every min is < 1.5x a billion)
    val line = """{"queries":{"q_fast":0.123,"q_slow":4.5},""" +
      """"metric":"total","value":4.623,"n":2,"sf":"/root/testdata/sf0.1",""" +
      """"diag":{"diag":"bench","ts":{"q_fast":1755241082,"q_slow":1755241085},""" +
      """"load":{"q_fast":2.15,"q_slow":9.99},""" +
      """"attempts":{"q_fast":[0.2,0.123],"q_slow":[4.5,5.0]}}}"""
    val m = Bench.parseQueriesMap(line)
    assert(m == Map("q_fast" -> 0.123, "q_slow" -> 4.5), s"got $m")
    // degenerate inputs degrade to empty (no baseline), never throw
    assert(Bench.parseQueriesMap("").isEmpty)
    assert(Bench.parseQueriesMap("""{"no_queries":1}""").isEmpty)
    assert(Bench.parseQueriesMap("""{"queries":{""").isEmpty)
  }

  test("Bench.baselineForScale: sf field must be PRESENT and equal (ADVICE r15)") {
    val sf01 = "/root/testdata/sf0.1"
    val withSf = s"""{"queries":{"q":1.5},"cpus":32,"sf":"$sf01"}"""
    assert(Bench.baselineForScale(withSf, sf01, 32) == Map("q" -> 1.5))
    // a record at another scale is discarded (cross-scale times would
    // re-run every query as over baseline)
    assert(Bench.baselineForScale(withSf, "sf0.01", 32).isEmpty)
    // a record with NO sf field (legacy/foreign file) is discarded
    // too — the old forall accepted it unconditionally, with the same
    // every-query-reruns blast radius
    assert(Bench.baselineForScale("""{"queries":{"q":1.5},"cpus":32}""", sf01, 32).isEmpty)
    // the same gate on cpus: an 8-cpu scaling run must not judge
    // itself against the 32-cpu record, and a record that names no
    // cpu count is foreign too
    assert(Bench.baselineForScale(withSf, sf01, 8).isEmpty)
    assert(Bench.baselineForScale(s"""{"queries":{"q":1.5},"sf":"$sf01"}""", sf01, 32).isEmpty)
    val star = s"""{"queries":{"q":2.0},"cpus":-1,"sf":"$sf01"}"""
    assert(Bench.baselineForScale(star, sf01, -1) == Map("q" -> 2.0))
    assert(Bench.baselineForScale(star, sf01, 1).isEmpty)
  }

  test("Bench.ratioStats: median vs committed baseline, 1.5x count, loud " +
      "no-baseline sentinel (r17)") {
    // odd count: exact middle; only baseline-covered queries rate
    val (med, n) = Bench.ratioStats(
      Map("a" -> 1.0, "b" -> 2.0, "c" -> 4.0, "uncovered" -> 9.0),
      Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0))
    assert(med == 2.0 && n == 2)
    // even count: mean of the two middles; 1.5x is strictly-over
    val (med2, n2) = Bench.ratioStats(
      Map("a" -> 1.0, "b" -> 3.0, "c" -> 1.5, "d" -> 0.5),
      Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0))
    assert(med2 == 1.25 && n2 == 1)
    // zero/absent baselines never divide; fully uncovered is the
    // sentinel pair, not "perfect parity"
    assert(Bench.ratioStats(Map("a" -> 1.0), Map("a" -> 0.0)) == (-1.0, -1))
    assert(Bench.ratioStats(Map("a" -> 1.0), Map.empty) == (-1.0, -1))
  }

  test("Bench.recordPath: the official 32-cpu record, a sidecar per other " +
      "cpu count; the run reads its baseline from the same path") {
    assert(Bench.recordPath(32) == "BENCH_FULL.json")
    assert(Bench.recordPath(8) == "BENCH_FULL_c8.json")
    // a non-numeric SPARK_GRAFT_CPUS (local[*]) stamps -1
    assert(Bench.recordPath(-1) == "BENCH_FULL_c-1.json")
  }

  private def measured(name: String, times: Double*) =
    Bench.Measured(name, times.map(_ -> true), 0L, -1.0)

  test("Bench.selectReruns: over 1.5x committed or planned attempts " +
      "disagreeing over 2x re-run once; the cuts are strict") {
    val base = Map("slow" -> 1.0, "edge" -> 1.0, "both" -> 1.0, "fine" -> 1.0)
    val got = Bench.selectReruns(Seq(
      measured("slow", 1.6, 1.7),     // best 1.6x committed
      measured("edge", 1.5, 1.6),     // best exactly 1.5x: not over
      measured("both", 2.0, 5.0),     // over and disagreeing
      measured("fine", 1.0, 1.1),
      measured("x", 1.0, 2.5),        // no baseline, disagree 2.5x
      measured("y", 1.0, 2.0),        // no baseline, exactly 2x: agree
      measured("z", 9.0, 9.5)),       // no baseline, agreeing: unjudgeable
      base)
    assert(got == Map("slow" -> "over_baseline", "both" -> "both",
      "x" -> "disagree"), s"got $got")
    // zero baselines never divide, and no baseline leaves only disagree
    assert(Bench.selectReruns(Seq(measured("slow", 9.0, 9.0)),
      Map("slow" -> 0.0)).isEmpty)
    assert(Bench.selectReruns(Seq(measured("slow", 9.0, 9.0)), Map.empty).isEmpty)
  }

  test("Bench.selectReruns: a query with a failed planned attempt never re-runs") {
    val base = Map("a" -> 1.0, "b" -> 1.0)
    // a fails on its first attempt and is not retried; b fails second
    val planned = Seq(Bench.Measured("a", Seq(0.1 -> false), 0L, -1.0),
      Bench.Measured("b", Seq(5.0 -> true, 0.1 -> false), 0L, -1.0))
    assert(Bench.selectReruns(planned, base).isEmpty)
  }

  test("Bench.remeasured: the min is kept; a failed re-measure keeps the " +
      "planned min and reads as still slow") {
    val base = Map("q" -> 1.0)
    val planned = measured("q", 3.0, 3.5)
    val cleared = Bench.remeasured(planned, "over_baseline", 1.1, ok = true, base)
    assert(cleared.sec == 1.1 && cleared.ok)
    assert(cleared.attempts.map(_._1) == Seq(3.0, 3.5, 1.1))
    assert(cleared.rerun.contains(Bench.Rerun("over_baseline", 1.1, true, false)))
    // a genuine regression stays slow on the re-measure: exactly 1.5x
    // is not over
    assert(Bench.remeasured(planned, "over_baseline", 1.6, ok = true, base)
      .rerun.exists(_.stillSlow))
    assert(!Bench.remeasured(planned, "over_baseline", 1.5, ok = true, base)
      .rerun.exists(_.stillSlow))
    // a failed re-measure cannot clear the query nor downgrade it, and
    // its duration never becomes the record
    val failed = Bench.remeasured(planned, "over_baseline", 0.2, ok = false, base)
    assert(failed.sec == 3.0 && failed.ok)
    assert(failed.rerun.exists(_.stillSlow))
    // without a baseline an ok re-measure is not slow
    assert(!Bench.remeasured(planned, "disagree", 9.0, ok = true, Map.empty)
      .rerun.exists(_.stillSlow))
  }

  test("Bench.report: both stdout lines and the record parse as JSON") {
    import graft.api.MiniJson
    val base = Map("q_fast" -> 0.2, "q_slow" -> 1.0)
    val results = Seq(
      Bench.remeasured(Bench.Measured("q_fast", Seq(0.2 -> true, 0.5 -> true),
        1755241082L, 2.15), "disagree", 0.25, ok = true, base),
      Bench.Measured("q_new", Seq(0.7 -> false), 1755241083L, 2.5),
      Bench.Measured("q_slow", Seq(1.1 -> true, 1.2 -> true), 1755241085L, 3.0))
    val sf = "/root/testdata/sf0.1"
    val out = Bench.report(results, base, sf, 8)
    def obj(line: String): Map[String, MiniJson.JValue] =
      MiniJson.parse(line).toOption.flatMap(_.asObj)
        .getOrElse(fail(s"not a JSON object: $line"))
    val full = obj(out.full)
    assert(Seq("queries", "metric", "value", "unit").forall(full.contains))
    assert(full("metric") == MiniJson.JStr("total"))
    // the queries map of the full line is ascending by duration, so a
    // front truncation loses the fastest entries first
    assert(out.full.indexOf("q_fast") < out.full.indexOf("q_new") &&
      out.full.indexOf("q_new") < out.full.indexOf("q_slow"))
    val compact = obj(out.compact)
    assert(Seq("bench_total", "n", "failed", "cpus", "sf").forall(compact.contains))
    assert(compact("n") == MiniJson.JNum(3) && compact("failed") == MiniJson.JNum(1))
    assert(compact("cpus") == MiniJson.JNum(8) && compact("sf") == MiniJson.JStr(sf))
    val record = obj(out.record)
    assert(record("sf") == MiniJson.JStr(sf) && record("cpus") == MiniJson.JNum(8))
    val diag = record("diag").asObj.get
    assert(diag == obj(out.diag))
    val rerun = diag("rerun").asObj.get
    assert(rerun("q_fast") == MiniJson.JObj(Map(
      "trigger" -> MiniJson.JStr("disagree"), "still_slow" -> MiniJson.JBool(false))))
    assert(rerun("q_slow") == MiniJson.JNull && rerun("q_new") == MiniJson.JNull)
    assert(diag("no_baseline") == MiniJson.JArr(Seq(MiniJson.JStr("q_new"))))
    // the record reads back as the next run's baseline
    assert(Bench.baselineForScale(out.record, sf, 8) ==
      Map("q_fast" -> 0.2, "q_new" -> 0.7, "q_slow" -> 1.1))
  }
}
