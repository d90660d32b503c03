package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** BM25 parity: the r18 native model-collapse path
  * ([[graft.operators.Retrieval.bm25MoreLikeThis]] via
  * [[graft.expressions.Bm25QueryScores]]) must reproduce the exploded
  * inverted-index formulation ([[graft.operators.Retrieval.bm25ExplodedJoin]])
  * BIT-EXACTLY — same rows, same ranks, same score doubles
  * (doubleToLongBits) — on adversarial corpora: empty texts (the ""
  * token), consecutive/leading/trailing spaces (empty tokens kept by
  * limit -1), null-text docs (no score rows), null-text QUERY docs (no
  * rows for that query), multi-byte UTF-8, docs sharing no term with
  * any query (absent from output), and tie-heavy scores (rank
  * determinism).
  */
class Bm25ParitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def corpus(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  private def canon(df: DataFrame): Seq[(Long, Int, Long, Long)] =
    df.collect().map { r =>
      (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }.toSeq.sorted

  private def assertParity(docs: DataFrame, nQueries: Long, k: Int): Unit = {
    val R = graft.operators.Retrieval
    val native = canon(R.bm25MoreLikeThis(docs, nQueries, k))
    val exploded = canon(R.bm25ExplodedJoin(docs, nQueries, k))
    assert(native == exploded)
    assert(native.nonEmpty || exploded.isEmpty)
  }

  test("adversarial corpus: empty tokens, UTF-8, nulls, no-overlap docs") {
    val docs = corpus(Seq(
      0L -> "alpha beta gamma alpha",
      1L -> "beta  beta gamma", // double space: empty token
      2L -> " alpha", // leading space: empty first token
      3L -> "", // single "" token
      4L -> null, // no rows anywhere
      5L -> "alpha beta gamma delta epsilon",
      6L -> "zeta eta theta", // shares no term with queries 0/1/2
      7L -> "émigré データ alpha",
      8L -> "beta gamma ",
      9L -> "alpha alpha alpha alpha alpha alpha"))
    assertParity(docs, nQueries = 3L, k = 4)
  }

  test("null-text query doc yields no rows for that query, others intact") {
    val docs = corpus(Seq(
      0L -> "alpha beta",
      1L -> null, // query doc with no terms
      2L -> "alpha gamma",
      3L -> "beta gamma",
      4L -> "alpha beta gamma"))
    assertParity(docs, nQueries = 2L, k = 10)
    val out = graft.operators.Retrieval
      .bm25MoreLikeThis(docs, nQueries = 2L, k = 10)
      .select("q_id").distinct().collect().map(_.getLong(0)).toSet
    assert(out == Set(0L))
  }

  test("tie-heavy scores rank deterministically in both forms") {
    // identical docs → identical scores → doc_id tiebreak everywhere
    val docs = corpus((0L to 9L).map(i => i -> "same text every time"))
    assertParity(docs, nQueries = 4L, k = 3)
  }

  test("k truncation and self-exclusion match") {
    val docs = corpus(Seq(
      0L -> "a b c",
      1L -> "a b c",
      2L -> "a b",
      3L -> "c",
      4L -> "a b c d"))
    assertParity(docs, nQueries = 5L, k = 2)
  }

  test("sf0.001 corpus parity (the oracle's own inputs)") {
    val dir = "/root/testdata/sf0.001"
    if (new java.io.File(dir).isDirectory) {
      val docs = Tables(spark, dir).documents
      assertParity(docs, nQueries = 5L, k = 5)
    }
  }

  test("a query vocabulary over MaxQueryVocab takes the exploded join") {
    val R = graft.operators.Retrieval
    def scoresNatively(df: DataFrame): Boolean =
      df.queryExecution.analyzed.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[graft.expressions.Bm25QueryScores])))
    val rest = Seq(1L -> "t1 t2 x", 2L -> "t3 y t3 t99999", 3L -> "z",
      4L -> s"t${R.MaxQueryVocab} t0")
    // control: at the cap the native expression scores the corpus
    val atCap = corpus((0L -> (0 until R.MaxQueryVocab).map(i => s"t$i")
      .mkString(" ")) +: rest)
    assert(scoresNatively(R.bm25MoreLikeThis(atCap, 1L, 3)))
    // one query document with MaxQueryVocab + 1 distinct tokens
    val docs = corpus((0L -> (0 to R.MaxQueryVocab).map(i => s"t$i")
      .mkString(" ")) +: rest)
    val got = R.bm25MoreLikeThis(docs, 1L, 3)
    assert(!scoresNatively(got))
    val rows = canon(got)
    assert(rows == canon(R.bm25ExplodedJoin(docs, 1L, 3)))
    assert(rows.map(_._3).toSet == Set(1L, 2L, 4L))
  }
}
