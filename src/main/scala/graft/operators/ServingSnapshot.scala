package graft.operators

import graft.types._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BasePredicate, GenericInternalRow, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** A driver-local copy of one job's search state — source rows,
  * vectors and search tokens — answering [[Search.semanticSearch]] and
  * [[Search.hybridSearch]] without a Spark job.
  *
  * The answers are those of the Spark plans, exactly: the same columns
  * (names, types, nullability), the same rows in the same order, the
  * same scores to the bit.
  *   - Cosine accumulates dot, Σx² and Σy² in double in
  *     `CosineSimilarity`'s loop order (Σx² is kept per row: the same
  *     sum in the same order), then `dot / (sqrt(Σx²) * sqrt(Σy²))`;
  *     a zero norm is a null score and the row does not rank, and a
  *     vector of another dimension throws the expression's error.
  *   - Orderings are the plans' sort orders: the semantic window by
  *     `1.0 - sim` ascending, then pkey ascending; answers by score
  *     descending, then pkey ascending; doubles compare as Spark sorts
  *     them and pkeys as UTF-8 bytes (nulls first).
  *   - The FTS score is `0.1 * Σ` matched position counts over a long
  *     sum, with `zip_with`'s null padding; RRF sums
  *     `coalesce(w / (k + rank), 0.0)` semantic first.
  *   - The source join is an inner equi-join on `cast(pk as string)`,
  *     which Spark computes while the snapshot is built: duplicate
  *     source keys each appear, and window entries whose key the
  *     source lacks drop after the window cap.
  *   - Typed filters are `Search.filterColumn` analyzed against the
  *     source schema and run by `Predicate.create` over the source
  *     rows, so coercion and null handling are Spark's.
  *
  * Three parts — the source rows, the vector rows and the token rows —
  * each built from one collected frame ([[ServingSnapshot.build]]).
  * After a store commit that kept a table's base and only moved its
  * delta, [[ServingSnapshot.patch]] brings a snapshot forward from the
  * delta's rows alone and shares every part that did not change.
  * Immutable once built, so any number of threads may query it, and
  * patching leaves the old snapshot as it was.
  */
final class ServingSnapshot private (private val spark: SparkSession,
    private val source: ServingSnapshot.Source, private val vectors: ServingSnapshot.Vectors,
    private val tokens: ServingSnapshot.Tokens) {
  import ServingSnapshot._
  import source.{attrs => srcAttrs, byKey, rows => srcRows}
  import tokens.{cnts, ids => tokIds, keys => tokKeys, toks}
  import vectors.{data => vecs, keys => vecKeys, off => vecOff, sq => vecSq}

  /** Whether the snapshot answers with these filters and return
    * columns exactly; callers take the Spark plan when it does not.
    * Every name must resolve to exactly one source column, and no
    * filter may name a column the plan joins in beside the source's.
    */
  def supports(filters: Map[String, FilterValue], returnCols: Seq[String]): Boolean = {
    val resolver = GraftColumnBridge.resolver(spark)
    def unique(n: String) = srcAttrs.count(a => resolver(a.name, n)) == 1
    filters.keys.forall(n => unique(n) && !JoinedCols.exists(resolver(_, n))) &&
      (returnCols == Seq("*") || returnCols.forall(unique))
  }

  /** [[Search.semanticSearch]] without `preFilter` or `whereSql`. */
  def semanticSearch(queryVec: Array[Float], limit: Int,
      filters: Map[String, FilterValue], returnCols: Seq[String]): DataFrame = {
    val (sims, ok) = cosines(queryVec)
    val bySim: Ordering[Hit] = (a, b) => {
      val c = SQLOrderingUtil.compareDoubles(sims(b.v), sims(a.v))
      if (c != 0) c else byKeyThenRow.compare(a, b)
    }
    val hits =
      if (filters.isEmpty) {
        // the plan caps the ranking at 5 × limit before the join
        val window = top(vecKeys.indices.filter(ok(_)), limit * 5, byDistance(sims))
        window.flatMap(v => joined(vecKeys(v)).map(Hit(v, _))).sorted(bySim).take(limit)
      } else {
        // post-filtering ranks every row (no window cap)
        val pass = predicate(filters)
        top(vecKeys.indices.iterator.filter(ok(_))
            .flatMap(v => joined(vecKeys(v)).iterator.map(Hit(v, _))),
          limit, bySim, (h: Hit) => pass.eval(srcRows(h.s)))
      }
    result(returnCols, SearchCols, hits.map(h => h.s -> Seq[Any](sims(h.v))))
  }

  /** [[Search.hybridSearch]] with the `ts_rank_cd` leg, without
    * `whereSql`.
    */
  def hybridSearch(queryVec: Array[Float], queryText: String, limit: Int,
      windowSize: Int, rrfK: Double, semanticWt: Double, ftsWt: Double,
      filters: Map[String, FilterValue], returnCols: Seq[String]): DataFrame = {
    val (sims, ok) = cosines(queryVec)
    val sem = top(vecKeys.indices.filter(ok(_)), windowSize, byDistance(sims))
    val (fts, ftsScore) = ftsWindow(queryText, windowSize)
    // full outer join of the two windows on pkey (a null key joins nothing)
    val ftsAt = new java.util.HashMap[UTF8String, List[Int]]()
    fts.indices.foreach { j =>
      val k = tokKeys(fts(j))
      if (k != null) ftsAt.put(k, j :: ftsAt.getOrDefault(k, Nil))
    }
    val ftsJoined = new Array[Boolean](fts.length)
    val fused = sem.indices.flatMap { i =>
      val k = vecKeys(sem(i))
      val js = if (k == null) Nil else ftsAt.getOrDefault(k, Nil)
      js.foreach(ftsJoined(_) = true)
      if (js.isEmpty) Seq(Fused(k, i, -1)) else js.map(Fused(k, i, _))
    } ++ fts.indices.filterNot(ftsJoined(_)).map(j => Fused(tokKeys(fts(j)), -1, j))
    def rrf(f: Fused): Double =
      (if (f.sem < 0) 0.0 else semanticWt / (rrfK + (f.sem + 1))) +
        (if (f.fts < 0) 0.0 else ftsWt / (rrfK + (f.fts + 1)))
    val pass = if (filters.isEmpty) None else Some(predicate(filters))
    val rows = fused.flatMap { f =>
      val score = rrf(f)
      joined(f.key).filter(s => pass.forall(_.eval(srcRows(s))))
        .map(s => (f, score, s))
    }.sortWith { case ((fa, ra, sa), (fb, rb, sb)) =>
      val c = SQLOrderingUtil.compareDoubles(rb, ra)
      val c2 = if (c != 0) c else compareKeys(fa.key, fb.key)
      (if (c2 != 0) c2 else Integer.compare(sa, sb)) < 0
    }.take(limit)
    result(returnCols, HybridCols, rows.map { case (f, score, s) =>
      s -> Seq[Any](
        if (f.sem < 0) null else sims(sem(f.sem)),
        if (f.fts < 0) null else ftsScore(fts(f.fts)),
        if (f.sem < 0) null else f.sem + 1,
        if (f.fts < 0) null else f.fts + 1,
        score)
    })
  }

  private case class Hit(v: Int, s: Int)
  private case class Fused(key: UTF8String, sem: Int, fts: Int)

  private val byKeyThenRow: Ordering[Hit] = (a, b) => {
    val c = compareKeys(vecKeys(a.v), vecKeys(b.v))
    if (c != 0) c else Integer.compare(a.s, b.s)
  }

  private def byDistance(sims: Array[Double]): Ordering[Int] = (a, b) => {
    val c = SQLOrderingUtil.compareDoubles(1.0 - sims(a), 1.0 - sims(b))
    if (c != 0) c else compareKeys(vecKeys(a), vecKeys(b))
  }

  private def joined(key: UTF8String): Array[Int] =
    if (key == null) NoRows else byKey.getOrDefault(key, NoRows)

  /** Cosine of every vector row against `q`; `ok(r)` is false where
    * the score is null (a zero norm). */
  private def cosines(q: Array[Float]): (Array[Double], Array[Boolean]) = {
    var nb = 0.0
    q.foreach { y => nb += y.toDouble * y.toDouble }
    val sims = new Array[Double](vecKeys.length)
    val ok = new Array[Boolean](vecKeys.length)
    var r = 0
    while (r < vecKeys.length) {
      val off = vecOff(r)
      val n = vecOff(r + 1) - off
      if (n != q.length)
        throw new IllegalArgumentException(
          s"cosine_similarity: different vector dimensions $n and ${q.length}")
      var dot = 0.0
      var i = 0
      while (i < n) { dot += vecs(off + i).toDouble * q(i).toDouble; i += 1 }
      val denom = math.sqrt(vecSq(r)) * math.sqrt(nb)
      if (denom != 0.0) { sims(r) = dot / denom; ok(r) = true }
      r += 1
    }
    (sims, ok)
  }

  /** The FTS leg's window (token rows in rank order) and each token
    * row's score (null where a matched token has a null count). */
  private def ftsWindow(query: String, windowSize: Int): (IndexedSeq[Int], Array[java.lang.Double]) = {
    val q = new java.util.BitSet()
    graft.functions.TextAnalyzer.queryLexemes(query).foreach { l =>
      val id = tokIds.get(UTF8String.fromString(l))
      if (id != null) q.set(id)
    }
    def hit(t: Int) = t >= 0 && q.get(t)
    val scores = new Array[java.lang.Double](toks.length)
    val matched = if (q.isEmpty) IndexedSeq.empty[Int] else toks.indices.filter { r =>
      val ts = toks(r)
      // arrays_overlap: a non-null token among the query lexemes
      ts != null && ts.exists(hit) && {
        // zip_with pads the shorter array with nulls; a matched token's
        // null count nulls the sum
        val cs = cnts(r)
        val n = if (cs == null) ts.length else math.max(ts.length, cs.length)
        var sum = 0L
        var isNull = false
        var i = 0
        while (i < n) {
          if (i < ts.length && hit(ts(i))) {
            val c: Integer = if (cs == null) 1 else if (i < cs.length) cs(i) else null
            if (c == null) isNull = true else sum += c.intValue
          }
          i += 1
        }
        scores(r) = if (isNull) null else java.lang.Double.valueOf(0.1 * sum.toDouble)
        true
      }
    }
    val byScore: Ordering[Int] = (a, b) => {
      // fts_score descending (nulls last), then pkey ascending
      val (x, y) = (scores(a), scores(b))
      val c =
        if (x == null) (if (y == null) 0 else 1)
        else if (y == null) -1
        else SQLOrderingUtil.compareDoubles(y, x)
      if (c != 0) c else compareKeys(tokKeys(a), tokKeys(b))
    }
    (top(matched, windowSize, byScore), scores)
  }

  /** Filters as one predicate over the source rows: the plan's
    * `Search.filterColumn` conditions, analyzed against the source. */
  private def predicate(filters: Map[String, FilterValue]): BasePredicate = {
    val cond = filters.map { case (k, v) => Search.filterColumn(k, v) }.reduce(_ && _)
    val analyzed = GraftColumnBridge.dataFrame(spark, LocalRelation(srcAttrs))
      .filter(cond).queryExecution.analyzed
    val p = Predicate.create(analyzed.collectFirst { case f: Filter => f.condition }.get, srcAttrs)
    p.initialize(0)
    p
  }

  /** Answer rows — each source row's projected columns, then its
    * scores — as a frame over a local relation. */
  private def result(returnCols: Seq[String], scoreCols: Seq[StructField],
      rows: Seq[(Int, Seq[Any])]): DataFrame = {
    val resolver = GraftColumnBridge.resolver(spark)
    // a named column keeps the name it was asked by, as `src(name)` does
    val (projected, names) =
      if (returnCols == Seq("*")) (srcAttrs.indices, srcAttrs.map(_.name))
      else (returnCols.map { n =>
        Identifiers.validate(n)
        srcAttrs.indexWhere(a => resolver(a.name, n))
      }, returnCols)
    val attrs = projected.zip(names).map { case (c, n) =>
      val a = srcAttrs(c)
      AttributeReference(n, a.dataType, a.nullable, a.metadata)()
    } ++ scoreCols.map(f => AttributeReference(f.name, f.dataType, f.nullable, f.metadata)())
    val data = rows.map { case (s, scores) =>
      val src = srcRows(s)
      new GenericInternalRow(
        (projected.map(c => src.get(c, srcAttrs(c).dataType)) ++ scores).toArray[Any]): InternalRow
    }
    GraftColumnBridge.dataFrame(spark, LocalRelation(attrs, data))
  }

  /** The best `k` of `items` by `ord`, best first. `keep` filters, and
    * runs only for an item that would enter the best `k`.
    */
  private def top[T](items: IterableOnce[T], k: Int, ord: Ordering[T],
      keep: T => Boolean = (_: T) => true): IndexedSeq[T] = {
    val heap = new java.util.PriorityQueue[T](math.max(1, math.min(k, 1024)), ord.reverse)
    items.iterator.foreach { x =>
      if (heap.size < k) { if (keep(x)) heap.add(x) }
      else if (ord.compare(x, heap.peek()) < 0 && keep(x)) { heap.poll(); heap.add(x) }
    }
    heap.asScala.toIndexedSeq.sorted(ord)
  }
}

object ServingSnapshot {
  private val NoRows = Array.empty[Int]

  /** Columns the plans join in beside the source's: a filter naming one
    * is resolved against the joined frame, not the source. */
  private val JoinedCols = Seq("pkey", "similarity_score", "distance", "semantic_rank",
    "fts_score", "fts_rank", "rrf_score")

  private val SearchCols = Seq(StructField("similarity_score", DoubleType, nullable = true))
  private val HybridCols = Seq(
    StructField("similarity_score", DoubleType, nullable = true),
    StructField("fts_score", DoubleType, nullable = true),
    StructField("semantic_rank", IntegerType, nullable = true),
    StructField("fts_rank", IntegerType, nullable = true),
    StructField("rrf_score", DoubleType, nullable = false))

  /** pkey ascending as Spark sorts strings: UTF-8 bytes, nulls first. */
  private def compareKeys(a: UTF8String, b: UTF8String): Int =
    if (a == null) (if (b == null) 0 else -1)
    else if (b == null) 1
    else a.binaryCompare(b)

  /** Collect the job's source (keyed by `cast(pk as string)`), vectors
    * (`pkey`, `embeddings`) and search tokens (`pkey`, `search_tokens`,
    * optional `search_token_counts`) — three Spark jobs, run side by
    * side.
    */
  def build(spark: SparkSession, src: DataFrame, pk: String, emb: DataFrame,
      tokens: DataFrame): ServingSnapshot = {
    val (source, vr, tr) = together(spark)(Source(src, pk), vectorRows(emb), tokenRows(tokens))
    new ServingSnapshot(spark, source, Vectors(vr),
      Tokens(tr, hasCounts(tokens), new java.util.HashMap[UTF8String, Integer]()))
  }

  /** `old` brought forward to a later commit of its store tables that
    * kept their bases and only moved their deltas. `src`, when given,
    * is collected afresh (a re-registered source). For each of `emb`
    * and `tokens` that is given — the table's delta rows, every row
    * changed since the base, last writer per `pkey` — the old rows
    * whose key the delta carries (a null key included) are removed and
    * the delta's rows appended; a null vector removes its key's row and
    * adds none. One Spark job per frame given, run side by side; the
    * parts not given are shared with `old`. The answers are those of a
    * [[build]] over the later commit: the delta holds every key an
    * earlier delta over the same base held, so every row `old` took
    * from one is replaced.
    */
  def patch(old: ServingSnapshot, src: Option[DataFrame], pk: String, emb: Option[DataFrame],
      tokens: Option[DataFrame]): ServingSnapshot = {
    val (source, vr, tr) = together(old.spark)(src.map(Source(_, pk)), emb.map(vectorRows),
      tokens.map(d => (tokenRows(d), hasCounts(d))))
    new ServingSnapshot(old.spark, source.getOrElse(old.source),
      vr.fold(old.vectors)(rows => Vectors.concat(old.vectors, kept(old.vectors.keys, rows), Vectors(rows))),
      tr.fold(old.tokens) { case (rows, counts) => Tokens.concat(old.tokens, kept(old.tokens.keys, rows),
        Tokens(rows, counts, new java.util.HashMap(old.tokens.ids))) })
  }

  /** `a`, `b` and `c`, with `b` and `c` on pool threads while this one
    * runs `a`; returns once all three have finished. */
  private def together[A, B, C](spark: SparkSession)(a: => A, b: => B, c: => C): (A, B, C) = {
    val (fb, fc) = (GraftColumnBridge.async(spark)(b), GraftColumnBridge.async(spark)(c))
    val ra = scala.util.Try(a)
    val (rb, rc) = (scala.util.Try(GraftColumnBridge.await(fb)), scala.util.Try(GraftColumnBridge.await(fc)))
    (ra.get, rb.get, rc.get)
  }

  /** The indices of `keys` that no collected row carries as its first
    * column, null alike. */
  private def kept(keys: Array[UTF8String], rows: Array[InternalRow]): IndexedSeq[Int] = {
    val gone = new java.util.HashSet[UTF8String]()
    rows.foreach(r => gone.add(if (r.isNullAt(0)) null else r.getUTF8String(0)))
    keys.indices.filterNot(r => gone.contains(keys(r)))
  }

  /** The first column's key, copied out of the collected row: a string
    * read from a row points into the row's bytes and would keep them. */
  private def key(r: InternalRow): UTF8String = if (r.isNullAt(0)) null else r.getUTF8String(0).clone()

  /** The source's columns, then cast(pk as string), and each key's rows. */
  private final class Source(val attrs: Seq[AttributeReference], val rows: Array[InternalRow],
      val byKey: java.util.HashMap[UTF8String, Array[Int]])

  private object Source {
    def apply(src: DataFrame, pk: String): Source = {
      val attrs = src.schema.map(f => AttributeReference(f.name, f.dataType, f.nullable, f.metadata)())
      val rows = GraftColumnBridge.collectInternal(src.select(col("*"), src(pk).cast("string")))
      val keyAt = attrs.length
      val byKey = new java.util.HashMap[UTF8String, Array[Int]]()
      rows.indices.foreach { i =>
        if (!rows(i).isNullAt(keyAt)) {
          val k = rows(i).getUTF8String(keyAt)
          byKey.put(k, byKey.getOrDefault(k, NoRows) :+ i)
        }
      }
      new Source(attrs, rows, byKey)
    }
  }

  /** Vector rows: row r's key, its vector `data(off(r) until off(r + 1))`
    * and its Σx². */
  private final class Vectors(val keys: Array[UTF8String], val off: Array[Int],
      val data: Array[Float], val sq: Array[Double])

  // the plan's cosine casts its input to array<float>
  private def vectorRows(emb: DataFrame): Array[InternalRow] =
    GraftColumnBridge.collectInternal(emb.select(col("pkey"), col("embeddings").cast("array<float>")))

  private object Vectors {
    /** Collected (`pkey`, `array<float>`) rows, less those with a null
      * vector, which never scores. */
    def apply(rows: Array[InternalRow]): Vectors = {
      val vr = rows.filterNot(_.isNullAt(1))
      val off = vr.scanLeft(0)(_ + _.getArray(1).numElements())
      val data = new Array[Float](off.last)
      val sq = vr.indices.map { r =>
        val a = vr(r).getArray(1)
        var s = 0.0
        var i = 0
        while (i < a.numElements()) {
          val x = a.getFloat(i)
          data(off(r) + i) = x
          s += x.toDouble * x.toDouble
          i += 1
        }
        s
      }.toArray
      new Vectors(vr.map(key), off, data, sq)
    }

    /** `a`'s rows `kept`, then every row of `b`. */
    def concat(a: Vectors, kept: IndexedSeq[Int], b: Vectors): Vectors = {
      val rows = kept.map(a -> _) ++ b.keys.indices.map(b -> _)
      val off = rows.scanLeft(0) { case (o, (v, r)) => o + v.off(r + 1) - v.off(r) }.toArray
      val data = new Array[Float](off.last)
      rows.indices.foreach { i =>
        val (v, r) = rows(i)
        System.arraycopy(v.data, v.off(r), data, off(i), off(i + 1) - off(i))
      }
      new Vectors(rows.map { case (v, r) => v.keys(r) }.toArray, off, data,
        rows.map { case (v, r) => v.sq(r) }.toArray)
    }
  }

  /** Token rows: row r's key, its token ids (null = a null token array,
    * -1 = a null token; `ids` maps each distinct token to its id) and
    * its counts (null = no counts, count 1 per token; a null element is
    * a null count). */
  private final class Tokens(val keys: Array[UTF8String], val ids: java.util.HashMap[UTF8String, Integer],
      val toks: Array[Array[Int]], val cnts: Array[Array[Integer]])

  private def hasCounts(tokens: DataFrame): Boolean = tokens.columns.contains("search_token_counts")

  private def tokenRows(tokens: DataFrame): Array[InternalRow] =
    GraftColumnBridge.collectInternal(tokens.select(col("pkey") +: col("search_tokens") +:
      (if (hasCounts(tokens)) Seq(col("search_token_counts")) else Nil): _*))

  private object Tokens {
    /** Collected (`pkey`, `search_tokens`, optional
      * `search_token_counts`) rows; `ids` gains each new token. */
    def apply(tr: Array[InternalRow], hasCounts: Boolean,
        ids: java.util.HashMap[UTF8String, Integer]): Tokens = {
      val toks = tr.map { r =>
        if (r.isNullAt(1)) null
        else {
          val a = r.getArray(1)
          Array.tabulate(a.numElements()) { i =>
            if (a.isNullAt(i)) -1
            else {
              val t = a.getUTF8String(i)
              val id = ids.get(t)
              if (id != null) id.intValue
              else { ids.put(t.clone(), ids.size); ids.size - 1 }
            }
          }
        }
      }
      val cnts = tr.map { r =>
        if (!hasCounts || r.isNullAt(2)) null
        else {
          val a = r.getArray(2)
          Array.tabulate[Integer](a.numElements())(i =>
            if (a.isNullAt(i)) null else Integer.valueOf(a.getInt(i)))
        }
      }
      new Tokens(tr.map(key), ids, toks, cnts)
    }

    /** `a`'s rows `kept`, then every row of `b`, whose token ids extend
      * `a`'s. */
    def concat(a: Tokens, kept: IndexedSeq[Int], b: Tokens): Tokens =
      new Tokens((kept.map(a.keys) ++ b.keys).toArray, b.ids, (kept.map(a.toks) ++ b.toks).toArray,
        (kept.map(a.cnts) ++ b.cnts).toArray)
  }
}
