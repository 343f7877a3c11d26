package perfbench

import graft.providers.DeterministicHashProvider

/** One returned row: the ranking score (similarity for a search, RRF
  * for a hybrid search) and, when the semantic leg found the row, its
  * cosine similarity.
  */
final case class Found(id: Long, text: String, lang: String, score: Double, sim: Option[Double])

/** Answer checks. Each returns `None` when the answer is right and
  * `Some(reason)` when it is not; a wrong answer fails its op.
  */
object Checks {

  final case class Hit(id: Long, score: Double)

  /** Score tolerance: Spark and this harness compute cosine over the
    * same floats in different orders.
    */
  val Eps = 1e-5

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) Double.NaN else dot / math.sqrt(na * nb)
  }

  /** Brute-force ground truth over the current corpus: every document
    * embedded with `embedOne` of the text the engine embeds (the
    * labeled rendering `text: <content>` of the job's one column).
    */
  final class Truth(dim: Int) {
    private val embedder = new DeterministicHashProvider(dim)
    private val docs = scala.collection.mutable.LongMap.empty[(Gen.Doc, Array[Float])]

    def update(ds: Iterable[Gen.Doc]): Unit =
      ds.foreach(d => docs.update(d.docId, (d, embedder.embedOne(s"text: ${d.text}"))))

    def doc(id: Long): Option[Gen.Doc] = docs.get(id).map(_._1)
    def ids: IndexedSeq[Long] = docs.keys.toIndexedSeq.sorted
    def size: Int = docs.size

    def queryVector(query: String): Array[Float] = embedder.embedOne(query)

    /** Every eligible document's cosine to `query`, best first. */
    def ranking(query: String, lang: Option[String]): Seq[Hit] = {
      val qv = queryVector(query)
      docs.values.iterator
        .filter { case (d, _) => lang.forall(_ == d.lang) }
        .map { case (d, v) => Hit(d.docId, cosine(qv, v)) }
        .filterNot(_.score.isNaN)
        .toSeq.sortBy(h => (-h.score, h.id.toString))
    }
  }

  /** A semantic top-k answer must hold exactly the k best documents by
    * brute force, with their scores, best first. Ties at the cut may
    * be broken either way.
    */
  def topK(got: Seq[Hit], ranking: Seq[Hit], k: Int): Option[String] = {
    val want = k.min(ranking.size)
    if (got.size != want) return Some(s"top-$k returned ${got.size} rows, expected $want")
    if (want == 0) return None
    val truth = ranking.map(h => h.id -> h.score).toMap
    got.find(h => !truth.get(h.id).exists(s => math.abs(s - h.score) <= Eps)) match {
      case Some(h) => return Some(s"doc ${h.id} scored ${h.score}, brute force " +
        truth.get(h.id).fold("says ineligible")(s => s"gives $s"))
      case None =>
    }
    if (got.zip(got.drop(1)).exists { case (a, b) => b.score > a.score + Eps })
      return Some("results are not ordered by score")
    val cut = ranking(want - 1).score
    val ids = got.map(_.id).toSet
    ranking.takeWhile(_.score > cut + Eps).find(h => !ids(h.id))
      .map(h => s"doc ${h.id} (score ${h.score}) is missing from the top-$k")
      .orElse(got.find(h => truth(h.id) < cut - Eps)
        .map(h => s"doc ${h.id} is below the top-$k cut $cut"))
  }

  /** A hybrid search fuses the `window` best documents of each leg and
    * filters after the fusion, as the reference does. So its answer
    * holds at most `limit` rows, and at least every eligible document
    * of the semantic window up to `limit`: an unfiltered answer is
    * full, a filtered one may be short. `ranking` is the unfiltered
    * brute-force ranking. Every semantic hit must carry its brute-force
    * similarity, and rows come best RRF score first.
    */
  def hybrid(got: Seq[Found], ranking: Seq[Hit], eligible: Long => Boolean, limit: Int,
      window: Int): Option[String] = {
    // documents tied at the window's cut may fall either side of it
    val inWindow =
      if (ranking.size <= window) ranking
      else ranking.takeWhile(_.score > ranking(window - 1).score + Eps)
    val least = limit.min(inWindow.count(h => eligible(h.id)))
    val truth = ranking.map(h => h.id -> h.score).toMap
    if (got.size < least || got.size > limit)
      Some(s"hybrid returned ${got.size} rows, expected $least to $limit")
    else got.collectFirst {
      case f if f.sim.exists(s => !truth.get(f.id).exists(t => math.abs(t - s) <= Eps)) =>
        s"doc ${f.id} similarity ${f.sim.get} disagrees with brute force"
    }.orElse(if (got.zip(got.drop(1)).exists { case (x, y) => y.score > x.score }) Some("rrf order") else None)
  }

  /** Returned rows must carry the corpus text of their id. */
  def texts(got: Seq[(Long, String)], truth: Truth): Option[String] =
    got.collectFirst {
      case (id, t) if !truth.doc(id).exists(_.text == t) => s"doc $id returned stale or wrong text"
    }

  /** Two surfaces answering one hybrid query must give the same ranked
    * ids and scores.
    */
  def agree(a: Seq[Hit], b: Seq[Hit], what: String): Option[String] =
    if (a.map(_.id) != b.map(_.id)) Some(s"$what: ids ${a.map(_.id)} vs ${b.map(_.id)}")
    else a.zip(b).collectFirst {
      case (x, y) if math.abs(x.score - y.score) > 1e-9 => s"$what: doc ${x.id} score ${x.score} vs ${y.score}"
    }

  /** A marker search must return every delta row with its new text. */
  def markers(got: Seq[(Long, String)], delta: Gen.Delta): Option[String] = {
    val byId = got.toMap
    delta.docs.collectFirst {
      case d if !byId.contains(d.docId) => s"marker ${delta.marker}: doc ${d.docId} not searchable"
      case d if byId(d.docId) != d.text => s"marker ${delta.marker}: doc ${d.docId} has old text"
    }
  }
}
