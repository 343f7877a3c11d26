package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the harness: its statistics, its seeded inputs, its
  * call-site attribution and its answer checker. No Spark session.
  */
class HarnessSpec extends AnyFunSuite {

  test("percentile interpolates between closest ranks (numpy default)") {
    val xs = Seq(15.0, 20, 35, 40, 50)
    assert(Stats.percentile(xs, 0) == 15)
    assert(Stats.percentile(xs, 100) == 50)
    assert(Stats.percentile(xs, 40) == 29) // pos 1.6: 20 + 0.6 * 15
    assert(Stats.percentile(Seq(3.0, 1, 2, 4), 50) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7)
    assert(Stats.median(Seq(5.0, 1, 3)) == 3)
    assert(Stats.mean(Seq(1.0, 2, 6)) == 3)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("same seed gives the same op sequence and deltas; another seed does not") {
    def ops(seed: Long) = Gen.readOps(seed, 1).take(40).toList
    assert(ops(7) == ops(7))
    assert(ops(7) != ops(8))
    assert(Gen.readOps(7, 1).take(40).toList != Gen.readOps(7, 2).take(40).toList)
    val ids = (0L until 100L).toIndexedSeq
    assert(Gen.delta(7, 3, ids, 100, 5, 2) == Gen.delta(7, 3, ids, 100, 5, 2))
    assert(Gen.delta(7, 3, ids, 100, 5, 2).marker != Gen.delta(7, 4, ids, 100, 5, 2).marker)
    assert(Gen.corpus(200) == Gen.corpus(200))
  }

  test("every block of the read mix holds one op of each kind") {
    Gen.readOps(3, 1).take(40).grouped(Gen.Kind.reads.size).foreach { block =>
      assert(block.map(_.kind).toSet == Gen.Kind.reads.toSet)
    }
    assert(Gen.readOps(3, 1).take(400).forall(op => op.kind != Gen.Kind.Rag || op.lang.isEmpty))
  }

  test("delta rows carry the marker; changed ids exist, added ids are new") {
    val ids = (0L until 50L).toIndexedSeq
    val d = Gen.delta(11, 1, ids, 50, 4, 3)
    assert(d.docs.size == 7)
    assert(d.docs.forall(_.text.split(" ").contains(d.marker)))
    assert(d.docs.take(4).forall(doc => ids.contains(doc.docId)))
    assert(d.docs.drop(4).map(_.docId) == Seq(50L, 51L, 52L))
    assert(!Gen.Vocab.contains(d.marker) && d.marker.forall(_.isLetter))
  }

  test("call sites map to the module of the file that launched the job") {
    val modules = Modules.scan(java.nio.file.Paths.get("..").toAbsolutePath.normalize)
    assert(modules.of("collect at ParquetStore.scala:560") == "sources")
    assert(modules.of("collect at HttpApi.scala:181") == "api")
    assert(modules.of("isEmpty at Realtime.scala:30") == "streaming")
    assert(modules.of("localCheckpoint at Dedup.scala:1899") == "operators")
    assert(modules.of("count at VectorizeEngine.scala:292") == "engine")
    assert(modules.of("parquet at Queries.scala:22") == "queries")
    assert(modules.of("save at Runs.scala:324") == "harness")
    assert(modules.of("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768") == "other")
    assert(modules.of("") == "other")
    assert(modules.all.contains("other") && modules.all.distinct == modules.all)
  }

  test("interval union measures covered time once") {
    assert(Recorder.covered(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0))) == 20)
    assert(Recorder.covered(Seq((3.0, 4.0), (0.0, 10.0))) == 10)
    assert(Recorder.covered(Nil) == 0)
  }

  private val corpus = Gen.corpus(300)
  private val truth = { val t = new Checks.Truth(64); t.update(corpus); t }

  test("the checker accepts the brute-force top-k and flags a planted wrong one") {
    val ranking = truth.ranking("spark join", None)
    val right = ranking.take(10)
    assert(Checks.topK(right, ranking, 10).isEmpty)
    // swap the 3rd hit for a document far below the cut, keeping its score
    val outsider = ranking(200)
    val planted = right.updated(2, Checks.Hit(outsider.id, right(2).score))
    assert(Checks.topK(planted, ranking, 10).nonEmpty)
    // a wrong score, a dropped row and a bad order are caught too
    assert(Checks.topK(right.updated(0, right.head.copy(score = right.head.score + 0.01)), ranking, 10).nonEmpty)
    assert(Checks.topK(right.take(9), ranking, 10).nonEmpty)
    assert(Checks.topK(right.reverse, ranking, 10).nonEmpty)
  }

  test("the hybrid checker flags an empty, short or disordered answer") {
    val ranking = truth.ranking("spark join", None)
    val all: Long => Boolean = _ => true
    val full = ranking.take(10).zipWithIndex.map { case (h, i) =>
      Found(h.id, truth.doc(h.id).get.text, truth.doc(h.id).get.lang, 1.0 / (61 + i), Some(h.score)) }
    assert(Checks.hybrid(full, ranking, all, 10, 50).isEmpty)
    assert(Checks.hybrid(Nil, ranking, all, 10, 50).nonEmpty)
    assert(Checks.hybrid(full.take(7), ranking, all, 10, 50).nonEmpty)
    assert(Checks.hybrid(full.reverse, ranking, all, 10, 50).nonEmpty)
    assert(Checks.hybrid(full.updated(0, full.head.copy(sim = Some(0.0))), ranking, all, 10, 50).nonEmpty)
    // a filter applied after the fusion may leave fewer rows than the
    // limit, but never fewer than the eligible documents of the window
    val few = ranking.take(40).map(_.id).filter(_ % 7 == 0).toSet
    val eligible: Long => Boolean = few
    val short = ranking.filter(h => few(h.id)).zipWithIndex.map { case (h, i) =>
      Found(h.id, "", "", 1.0 / (61 + i), Some(h.score)) }
    assert(short.nonEmpty && short.size < 10)
    assert(Checks.hybrid(short, ranking, eligible, 10, 50).isEmpty)
    assert(Checks.hybrid(short.tail, ranking, eligible, 10, 50).nonEmpty)
    assert(Checks.hybrid(Nil, ranking, eligible, 10, 50).nonEmpty)
  }

  test("filtered ranking holds only the filtered language") {
    val en = truth.ranking("merge window", Some("en"))
    assert(en.nonEmpty && en.forall(h => truth.doc(h.id).exists(_.lang == "en")))
  }

  test("marker, text and agreement checks flag stale or diverging answers") {
    val d = Gen.delta(5, 1, corpus.map(_.docId), 300, 2, 1)
    val fresh = d.docs.map(x => (x.docId, x.text))
    assert(Checks.markers(fresh, d).isEmpty)
    assert(Checks.markers(fresh.tail, d).nonEmpty)
    assert(Checks.markers(fresh.updated(0, (fresh.head._1, "old text")), d).nonEmpty)
    assert(Checks.texts(Seq((corpus(3).docId, corpus(3).text)), truth).isEmpty)
    assert(Checks.texts(Seq((corpus(3).docId, "other")), truth).nonEmpty)
    val a = Seq(Checks.Hit(1, 0.5), Checks.Hit(2, 0.4))
    assert(Checks.agree(a, a, "x").isEmpty)
    assert(Checks.agree(a, a.reverse, "x").nonEmpty)
    assert(Checks.agree(a, a.updated(1, Checks.Hit(2, 0.3)), "x").nonEmpty)
  }
}
