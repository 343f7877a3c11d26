package graft

import graft.operators.{Dedup, IngestChain}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The shape of [[IngestChain.Chain]] on its own, without a stream: the
  * one-stage chains the streaming entry runs ([exact] and [boilerplate])
  * equal a hand-written filter cascade, and the near-dup stage can only
  * come last, once. */
class IngestChainSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import IngestChain._

  private val g = Geometry(shingleN = 3, numHashes = 64, bands = 16,
    threshold = 0.5)

  private def store() = new graft.sources.ParquetStore(
    spark, TestSpark.tempDir("graft_ics_store_"))

  private def batch = {
    val s = spark
    import s.implicits._
    Seq(1L -> "alpha beta gamma fresh content one",
      2L -> "no boiler here at all",
      3L -> "  NO boiler   here at all ", // exact dup of 2 (case, spaces)
      4L -> "alpha beta gamma",           // boilerplate alone
      5L -> "seen before in the corpus",
      6L -> "alpha beta gamma fresh content two").toDF("doc_id", "text")
  }

  private def funnel(c: Chain, tagged: org.apache.spark.sql.DataFrame) =
    c.funnel(tagged).collect().map(r => r.getString(0) -> r.getLong(1)).toSeq

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet

  test("[exact] equals the cascade: keep-first within the batch, drop what the index holds") {
    val s = spark
    import s.implicits._
    val st = store()
    val corpus = Seq(90L -> "Seen before in the corpus").toDF("doc_id", "text")
    Dedup.buildNearDupStore(st, "sigs", corpus, "doc_id", "text")
    val chain = Chain("doc_id", "text", g, Seq(exact(st, "sigs")))
    val tagged = chain.tagged(batch)
    // the cascade: one semi-join against the storeless exact dedup
    val cascade = batch.join(Dedup.incrementalExact(corpus, batch, "doc_id",
      "text").select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
    assert(rows(chain.survivors(tagged)) == rows(cascade))
    assert(rows(cascade).map(_._1) == Set(1L, 2L, 4L, 6L))
    assert(funnel(chain, tagged) == Seq("0_batch" -> 6L, "1_exact_dedup" -> 4L))
  }

  test("[boilerplate] equals the cascade: the cleaned text ships, emptied docs drop") {
    val s = spark
    import s.implicits._
    val st = store()
    Dedup.buildSpanDfStore(st, "span_df", (0L until 10L)
      .map(id => id -> s"alpha beta gamma unique tail $id")
      .toDF("doc_id", "text"), "doc_id", "text", 3)
    val chain = Chain("doc_id", "text", g, Seq(boilerplate(v =>
      Dedup.boilerplateRemoveStored(st, "span_df", v.rows, "doc_id", "text",
        3, 3).transform(truncate))))
    val tagged = chain.tagged(batch)
    val cascade = Dedup.boilerplateRemoveStored(st, "span_df", batch,
        "doc_id", "text", 3, 3)
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("clean_text").as("text"))
    val survivors = chain.survivors(tagged)
    assert(survivors.columns.toSeq == Seq("doc_id", "text"))
    assert(rows(survivors) == rows(cascade))
    assert(rows(cascade).contains(1L -> "fresh content one") &&
      !rows(cascade).exists(_._1 == 4L))
    assert(funnel(chain, tagged) == Seq("0_batch" -> 6L, "2b_boilerplate" -> 5L))
  }

  test("near-dup must be the last stage, and the only one") {
    val st = store()
    val nd = nearDup(3, st, "sigs", g)
    intercept[IllegalArgumentException] {
      Chain("doc_id", "text", g, Seq(nd, blocklist(Nil)))
    }
    intercept[IllegalArgumentException] {
      Chain("doc_id", "text", g, Seq(exact(st, "sigs"), nd, nearDup(4, st, "sigs", g)))
    }
    intercept[IllegalArgumentException](Chain("doc_id", "text", g, Nil))
    // near-dup is optional; last, it is accepted
    Chain("doc_id", "text", g, Seq(blocklist(Nil)))
    Chain("doc_id", "text", g, Seq(exact(st, "sigs"), nd))
  }
}
