package perfbench

import java.util.SplittableRandom

/** Seeded inputs. The corpus is fixed (its own constant seed) so every
  * run searches the same documents; `--seed` picks what is asked of
  * it: query texts, the op order, the `lang` filters and the deltas.
  */
object Gen {

  /** The documents vocabulary, most frequent first (Zipf rank order). */
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  val Langs: IndexedSeq[(String, Double)] =
    IndexedSeq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  val CorpusSeed = 42L
  val CorpusSize = 5000
  /** Warm-up ops draw from this fixed seed rather than `--seed`: the
    * JIT compiles most of the hot code during warm-up, and runs that
    * warm alike compile alike, so seeds differ only in what is timed.
    */
  val WarmSeed = 0L

  private def words(rnd: SplittableRandom, lo: Int, hi: Int): Seq[String] =
    Seq.fill(lo + rnd.nextInt(hi - lo + 1))(Vocab(rnd.nextInt(Vocab.size)))

  private def lang(rnd: SplittableRandom): String = {
    val u = rnd.nextDouble()
    Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
      .drop(1).find(_._2 > u).map(_._1).getOrElse(Langs.last._1)
  }

  /** The corpus, shaped like the `documents` table of the graft test
    * data: 10–100 words over [[Vocab]], 20 sources, five languages;
    * 5% near-duplicates (an earlier document plus the token `dup`)
    * and a few exact copies, so the dedup entries have work to do.
    */
  def corpus(n: Int = CorpusSize): IndexedSeq[Doc] = {
    val rnd = new SplittableRandom(CorpusSeed)
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    for (i <- 0 until n) {
      val u = rnd.nextDouble()
      val text =
        if (i > 0 && u < 0.05) out(rnd.nextInt(i)).text + " dup"
        else if (i > 0 && u < 0.052) out(rnd.nextInt(i)).text
        else words(rnd, 10, 100).mkString(" ")
      out += Doc(i.toLong, text, lang(rnd), s"src${i % 20}")
    }
    out.toIndexedSeq
  }

  /** Zipf(s) over ranks 1..n, sampled by inverting the cumulative sum. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).drop(1).map(_ / tot).toArray
    }
    def sample(rnd: SplittableRandom): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      (if (i >= 0) i else -i - 1).min(n - 1)
    }
  }

  private val queryZipf = new Zipf(Vocab.size, 1.0)

  /** One to three distinct Zipf-drawn vocabulary words. */
  def queryText(rnd: SplittableRandom): String =
    Seq.fill(1 + rnd.nextInt(3))(Vocab(queryZipf.sample(rnd))).distinct.mkString(" ")

  sealed abstract class Kind(val name: String)
  object Kind {
    case object Search extends Kind("search")
    case object SearchLang extends Kind("search_lang")
    case object HybridHttp extends Kind("hybrid_http")
    case object SqlHybrid extends Kind("sql_hybrid")
    case object Rag extends Kind("rag")
    val reads: IndexedSeq[Kind] = IndexedSeq(Search, SearchLang, HybridHttp, SqlHybrid, Rag)
  }

  /** A read request: what to ask, through which surface, with an
    * optional typed `lang` filter.
    */
  final case class ReadOp(kind: Kind, query: String, lang: Option[String])

  /** The read mix: an endless stream of blocks, each holding one op of
    * every kind in a seeded order, so every stretch of the stream has
    * the same share of each kind. A filtered search ranks every
    * document (no window), so it is a kind of its own; a fifth of the
    * hybrid requests carry a `lang` filter, which costs them about
    * nothing; RAG takes none. `stream` separates the clients of a run.
    */
  def readOps(seed: Long, stream: Int): Iterator[ReadOp] = {
    val rnd = new SplittableRandom(seed * 1000003L + stream)
    Iterator.continually {
      val order = Kind.reads.map(k => (rnd.nextDouble(), k)).sortBy(_._1).map(_._2)
      order.map { k =>
        val q = queryText(rnd)
        val l = k match {
          case Kind.SearchLang => Some(lang(rnd))
          case Kind.HybridHttp | Kind.SqlHybrid if rnd.nextDouble() < 0.2 => Some(lang(rnd))
          case _ => None
        }
        ReadOp(k, q, l)
      }
    }.flatten
  }

  /** A refresh delta: `changed` existing documents get new text and
    * `added` new ones appear, every row carrying the cycle's unique
    * marker token so one search can confirm them all.
    */
  final case class Delta(marker: String, docs: Seq[Doc])

  /** A marker token: letters only (it must survive the lexical
    * analyzer), never a vocabulary word, unique per (seed, cycle).
    */
  def marker(seed: Long, cycle: Int): String = {
    var h = (seed * 0x9E3779B97F4A7C15L) ^ (cycle.toLong * 0xBF58476D1CE4E5B9L)
    val sb = new StringBuilder("qz")
    for (_ <- 0 until 8) {
      h ^= h >>> 31; h *= 0x94D049BB133111EBL; h ^= h >>> 29
      sb += ('b' + java.lang.Long.remainderUnsigned(h, 20).toInt).toChar
    }
    sb.toString
  }

  def delta(seed: Long, cycle: Int, existing: IndexedSeq[Long], nextId: Long,
      changed: Int, added: Int): Delta = {
    val rnd = new SplittableRandom(seed * 7919L + cycle)
    val mk = marker(seed, cycle)
    def text(): String = {
      val ws = words(rnd, 10, 40)
      val at = rnd.nextInt(ws.size + 1)
      (ws.take(at) ++ Seq(mk) ++ ws.drop(at)).mkString(" ")
    }
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (picked.size < changed.min(existing.size))
      picked += existing(rnd.nextInt(existing.size))
    val docs = (picked.toSeq ++ (nextId until nextId + added)).map { id =>
      Doc(id, text(), lang(rnd), s"src${id % 20}")
    }
    Delta(mk, docs)
  }
}
