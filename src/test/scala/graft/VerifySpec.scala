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
    // the regression tiebreak's baseline comes from a committed
    // BENCH_FULL line whose diag ALSO pairs query names with numbers
    // (ts epoch-seconds, load averages) — a whole-file regex would
    // poison the baseline with epoch timestamps and the tiebreak would
    // never fire (every min is < 2x a billion)
    val line = """{"queries":{"q_fast":0.123,"q_slow":4.5},""" +
      """"metric":"total","value":4.623,"n":2,"sf":"/root/testdata/sf0.1",""" +
      """"diag":{"diag":"bench","ts":{"q_fast":1755241082,"q_slow":1755241085},""" +
      """"load":{"q_fast":2.15,"q_slow":9.99},""" +
      """"attempts":{"q_fast":[0.2,0.123],"q_slow":[4.5,5.0]}}}"""
    val m = Bench.parseQueriesMap(line)
    assert(m == Map("q_fast" -> 0.123, "q_slow" -> 4.5), s"got $m")
    // degenerate inputs degrade to empty (tiebreak off), never throw
    assert(Bench.parseQueriesMap("").isEmpty)
    assert(Bench.parseQueriesMap("""{"no_queries":1}""").isEmpty)
    assert(Bench.parseQueriesMap("""{"queries":{""").isEmpty)
  }

  test("Bench.baselineForScale: sf field must be PRESENT and equal (ADVICE r15)") {
    val sf01 = "/root/testdata/sf0.1"
    val withSf = s"""{"queries":{"q":1.5},"cpus":32,"sf":"$sf01"}"""
    assert(Bench.baselineForScale(withSf, sf01, 32) == Map("q" -> 1.5))
    // a record at another scale is discarded (cross-scale times would
    // fire the regression retry on every query)
    assert(Bench.baselineForScale(withSf, "sf0.01", 32).isEmpty)
    // a record with NO sf field (legacy/foreign file) is discarded
    // too — the old forall accepted it unconditionally, with the same
    // every-query-retries blast radius
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

  test("Bench.contaminatedRuns: >=k consecutive over-2x baselined queries " +
      "flag as a contaminated window (r18)") {
    val base = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0, "e" -> 1.0)
    val order = Seq("a", "b", "c", "d", "e")
    // the r17 shape: a contiguous block (b,c,d) all >2x committed while
    // its neighbours sit at 1x — the cross-query contamination signature
    assert(Bench.contaminatedRuns(order,
      Map("a" -> 1.0, "b" -> 3.0, "c" -> 2.5, "d" -> 9.0, "e" -> 1.0),
      base) == Set("b", "c", "d"))
    // a 2-query run never reaches k=3 — a genuine localized regression
    // is untouched by the rerun pass
    assert(Bench.contaminatedRuns(order,
      Map("a" -> 1.0, "b" -> 3.0, "c" -> 2.5, "d" -> 1.0, "e" -> 9.0),
      base).isEmpty)
    // exactly-2x is NOT over (strict >, matching the regression
    // tiebreak's trigger)
    assert(Bench.contaminatedRuns(order,
      Map("a" -> 2.0, "b" -> 2.0, "c" -> 2.0, "d" -> 1.0, "e" -> 1.0),
      base).isEmpty)
    // no-baseline queries are unjudgeable and don't participate — they
    // neither extend nor break a run (x sits mid-block here)
    assert(Bench.contaminatedRuns(Seq("a", "b", "x", "c", "d"),
      Map("a" -> 1.0, "b" -> 3.0, "x" -> 99.0, "c" -> 2.5, "d" -> 9.0),
      base) == Set("b", "c", "d"))
    // zero/negative baselines are unjudgeable too, never divide
    assert(Bench.contaminatedRuns(Seq("a", "b", "c"),
      Map("a" -> 9.0, "b" -> 9.0, "c" -> 9.0),
      Map("a" -> 0.0, "b" -> 1.0, "c" -> 1.0)) == Set.empty)
    // a FAILED query has no recorded time (the caller passes ok times
    // only) and doesn't participate
    assert(Bench.contaminatedRuns(order,
      Map("a" -> 3.0, "b" -> 3.0, "d" -> 3.0, "e" -> 3.0),
      base) == Set("a", "b", "d", "e"))
    // whole-run contamination (every query over) still flags
    assert(Bench.contaminatedRuns(order,
      order.map(_ -> 5.0).toMap, base) == order.toSet)
  }

  test("Bench.driftReruns: uniformly-slow run re-measures its over-1.5x " +
      "queries; healthy runs and unjudgeable queries untouched (r19)") {
    val base = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0, "e" -> 1.0)
    // the r18 official-run signature: everything ~1.2-1.4x (below the
    // 2x per-query and window triggers), a few queries over 1.5x —
    // exactly those re-measure once
    assert(Bench.driftReruns(
      Map("a" -> 1.2, "b" -> 1.3, "c" -> 1.4, "d" -> 1.6, "e" -> 1.8),
      base) == Set("d", "e"))
    // healthy run: nothing over — no reruns
    assert(Bench.driftReruns(
      Map("a" -> 1.0, "b" -> 1.05, "c" -> 0.9, "d" -> 1.0, "e" -> 1.0),
      base).isEmpty)
    // ONE query over 1.5x in an otherwise-parity run: one diagnostic
    // re-measure (a genuine regression stays slow on the rerun and
    // the record stands)
    assert(Bench.driftReruns(
      Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0, "e" -> 1.7),
      base) == Set("e"))
    // uniformly inflated but nothing over 1.5x: nothing to re-run —
    // best-of-attempts already bounded the damage
    assert(Bench.driftReruns(
      base.keySet.map(_ -> 1.3).toMap, base).isEmpty)
    // no baseline at all → nothing judgeable → never fires
    assert(Bench.driftReruns(Map("a" -> 9.0), Map.empty).isEmpty)
    // uncovered queries are unjudgeable: they never re-run, however
    // slow they look
    assert(Bench.driftReruns(
      Map("a" -> 1.2, "b" -> 1.3, "c" -> 1.4, "d" -> 1.6, "x" -> 99.0),
      base) == Set("d"))
  }

  test("Bench.driftConfirmed: the rerun adjudicates slow-on-both vs " +
      "transient drift; a failed rerun cannot exonerate (r20)") {
    // ADVICE r19 + the r19 verdict's #8: keep-min stays, but the diag
    // must say whether the rerun attempt ALSO exceeded 1.5x committed
    // — the judge's split between a persistent window / genuine creep
    // (true) and transient drift the min already corrected (false)
    assert(Bench.driftConfirmed(1.8, rerunOk = true, baselineSec = 1.0),
      "a rerun still over 1.5x confirms the slowness")
    assert(!Bench.driftConfirmed(1.1, rerunOk = true, baselineSec = 1.0),
      "a rerun back under 1.5x refutes it (transient drift)")
    assert(Bench.driftConfirmed(0.0, rerunOk = false, baselineSec = 1.0),
      "a FAILED rerun cannot exonerate — flag it for the judge")
    // exactly the driftReruns boundary: > factor, not >=
    assert(!Bench.driftConfirmed(1.5, rerunOk = true, baselineSec = 1.0))
  }
}
