package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval over the corpus — the BM25 side of a RAG /
  * retrieval-augmented training-data pipeline, complementing the dense
  * tiers ([[Similarity]]: brute/LSH/IVF/PQ) the way production
  * retrieval stacks pair a lexical and a vector leg. Reference
  * capability analog: the keyed join-and-fold composition
  * (`/root/reference/src/main/scala/SimpleStreamProcessor/Stream.scala:56-68`,
  * `Node.scala:118-160`) — term-keyed candidate generation, per-pair
  * score fold.
  *
  * Scoring is Okapi BM25 with the RATIONAL idf core
  * `(N − df + 0.5)/(df + 0.5)` instead of its logarithm — libm `ln` is
  * not cross-engine bit-exact (the n20/n42/n59 no-transcendentals
  * policy); the rational form preserves the ranking signal (monotone
  * per term) and keeps every per-term value a chain of +,·,/ that both
  * engines evaluate identically, so scores sit under the exact-decimal
  * hash oracle.
  */
object Retrieval {

  /** The most distinct query terms [[bm25MoreLikeThis]] embeds in a
    * plan; above it the query set falls back to [[bm25ExplodedJoin]].
    */
  val MaxQueryVocab: Int = 100000

  /** Query-by-document BM25 ("more like this"): each document with
    * `doc_id < nQueries` becomes a query (its DISTINCT tokens are the
    * query terms), every other document is scored
    *
    *   Σ_t idf'(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * over the shared terms, and the top `k` per query are kept
    * (score desc, doc_id ties). Self-matches are excluded.
    *
    * Execution (the r17-verdict "BM25 term-score inner loop" move —
    * the s19/n59 DSIR collapse applied here): the per-query term sets,
    * their corpus document frequencies and the (n_docs, avgdl) stats
    * are a QUERY-BOUNDED model, so they are computed with two narrow
    * passes (a scalar stats aggregation and a query-vocab-bounded df
    * aggregation), bounded-collected ([[DriverModel.collectBounded]])
    * and driven back in as ONE native per-row expression
    * ([[graft.expressions.Bm25QueryScores]]) that scores a document
    * against ALL queries in a single pass over its text. That replaces
    * the corpus-wide (doc, term, tf) explode + shuffle + persist, the
    * df/dl hydration joins and the per-(q, doc) decimal aggregation —
    * the only remaining corpus-wide shuffle is the per-query top-k
    * window over rows that already survived the shared-term filter.
    * Bit-exact by [[Bm25QueryScores]]'s contract (same IEEE chain per
    * term, same double→DECIMAL(38,12) cast, exact order-free decimal
    * sum — the [[graft.expressions.TokenBucketMargin]] discipline), so
    * the DuckDB oracle over the join formulation stays hash-green;
    * `BM25 parity` in NativeExpressionSpec pins new == exploded on
    * adversarial corpora.
    *
    * Scale shape: model build is query-bounded (guarded collect);
    * scoring is scan-stage over the corpus; the final top-k is a
    * window partitioned BY QUERY. The expression supports ≤ 64 queries
    * per pass (one bitmask word), and the query vocabulary rides the
    * plan (an InSet scan filter plus the expression's term map,
    * serialized per task), so it is capped at [[MaxQueryVocab]]
    * distinct terms. Larger query sets or vocabularies take the
    * exploded inverted-index path ([[bm25ExplodedJoin]]), whose
    * per-query cost is posting-list-bounded and whose query terms are
    * a broadcast join side, not plan literals.
    *
    * Output: (q_id, rank, doc_id, score).
    */
  def bm25MoreLikeThis(
      docs: DataFrame,
      nQueries: Long,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(nQueries >= 1, s"nQueries must be >= 1, got $nQueries")
    require(k >= 1, s"k must be >= 1, got $k")
    if (nQueries > 64)
      return bm25ExplodedJoin(docs, nQueries, k, k1, b)
    import org.apache.spark.sql.graft.ColumnBridge
    val toks = array_distinct(split(col("text"), " "))
    // query docs' DISTINCT terms — query-bounded by contract (each of
    // the ≤ 64 query documents contributes its own vocabulary)
    val qtRows = DriverModel.collectBounded(
      docs.filter(col("doc_id") < nQueries && col("text").isNotNull)
        .select(col("doc_id"), explode(toks).as("t")),
      "Retrieval.bm25 query terms")
    val qIds: IndexedSeq[Long] =
      qtRows.map(_.getLong(0)).distinct.sorted.toIndexedSeq
    if (qIds.isEmpty) {
      // no query doc has text: the join formulation generated no rows
      return docs.select(col("doc_id").as("q_id"),
        lit(1).cast("int").as("rank"), col("doc_id"),
        lit(0.0).as("score")).filter(lit(false))
    }
    val qvocab = qtRows.map(_.getString(1)).distinct.toSeq
    if (qvocab.size > MaxQueryVocab)
      return bm25ExplodedJoin(docs, nQueries, k, k1, b)
    // corpus stats over docs with ≥ 1 token row (text non-null): the
    // same population the tf-based dl table counted
    val statsRow = docs.filter(col("text").isNotNull)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("tok_sum"))
      .head()
    val nDocs = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / nDocs.toDouble
    // corpus df of the query terms only: one scan, query-vocab-bounded
    // aggregation (the InSet filter runs inside the scan stage)
    val dfMap = DriverModel.collectBounded(
      docs.filter(col("text").isNotNull)
        .select(explode(toks).as("t"))
        .filter(col("t").isInCollection(qvocab))
        .groupBy("t").agg(count(lit(1)).as("df")),
      "Retrieval.bm25 term df")
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val slot: Map[Long, Int] = qIds.zipWithIndex.toMap
    val terms: Map[String, (Long, Long)] = qtRows
      .groupBy(_.getString(1))
      .map { case (t, rows) =>
        val mask = rows.foldLeft(0L)((m, r) =>
          m | (1L << slot(r.getLong(0))))
        t -> (dfMap(t), mask)
      }
    val scores = ColumnBridge.column(graft.expressions.Bm25QueryScores(
      ColumnBridge.expression(col("text")),
      qIds, terms, nDocs, avgdl, k1, b))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(desc("score"), asc("doc_id"))
    docs
      .select(col("doc_id"), posexplode(scores).as(Seq("slot", "score")))
      // null slot = no shared term: the rows the posting join never
      // generated; null-text docs yield a null array = no rows at all
      .filter(col("score").isNotNull)
      .select(element_at(typedLit(qIds), col("slot") + 1).as("q_id"),
        col("doc_id"), col("score"))
      .filter(col("doc_id") =!= col("q_id"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "doc_id", "score")
  }

  /** The pre-r18 inverted-index formulation of [[bm25MoreLikeThis]] —
    * corpus-wide (doc, term, tf) index, broadcast query-term join,
    * per-(q, doc) decimal fold. Retained as the reference the native
    * path is property-tested against, as the > 64-query fallback, and
    * for the ScaleProbe rows (`bm25_retrieval` / `bm25_nopersist`)
    * whose committed growth ratios measure THIS plan's persist trade.
    */
  private[graft] def bm25ExplodedJoin(
      docs: DataFrame,
      nQueries: Long,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      materializeTf: Boolean = true): DataFrame = {
    require(nQueries >= 1, s"nQueries must be >= 1, got $nQueries")
    require(k >= 1, s"k must be >= 1, got $k")
    // tf feeds dl, df, the query-term extraction AND the posting join —
    // four consumers, and the executed plan re-explodes the corpus for
    // each without materialization (ScanAudit: documents×4, zero
    // exchange reuse); the n110 policy: one spillable materialization.
    // `materializeTf = false` exists ONLY so ScaleProbe can measure the
    // trade (cache-fill barrier vs four explode passes) instead of
    // arguing it — production callers always materialize.
    val tfBase = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val tf =
      if (materializeTf)
        tfBase.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else tfBase
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val stats = dl.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    val qterms = tf.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("t")).distinct()
    // per-(query, doc, term) partial — written operation for operation
    // like the oracle so the double chain is bit-identical
    val termScore: Column =
      ((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))) *
        (col("tf").cast("double") * lit(k1 + 1.0)) /
        (col("tf").cast("double") +
          lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast("double") / col("avgdl")))
    // df and dl plan as BroadcastHashJoins at bench SF and that is the
    // RIGHT local plan (r17 measured receipt): the broadcasts keep the
    // big tf frame un-shuffled through all three probes in one stage,
    // and hinting them SHUFFLE_HASH — the n44 dupGrams fix — doubled
    // n86 (1.74 → 3.28 cold) because tf then shuffles twice (by t,
    // then by doc_id) to spare two small single-threaded builds. The
    // n44 pattern applies only when the build aggregate is LARGE
    // relative to the probe (dup-gram sets); df/dl are vocab-/doc-
    // count-sized. At 100 TB both exceed the broadcast threshold and
    // the planner falls to shuffle joins on its own — no hint needed
    // for the scale story.
    val scored = tf
      .join(broadcast(qterms), "t")
      .filter(col("doc_id") =!= col("q_id"))
      .join(df, "t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy(col("q_id"), col("doc_id"))
      // DECIMAL(38,12) route, NOT dsum's (28,6): per-term BM25 values
      // are quotients, and the 12-dp VARCHAR-routed contract
      // (Sql.oSum12 oracle-side) is the one engineered for summing
      // arbitrary doubles across engines (the n68 err/n precedent)
      .agg(QualityModel.xsum(termScore).as("score"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(desc("score"), asc("doc_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "doc_id", "score")
  }

  /** Two-stage retrieve-then-rerank: cheap BM25 candidate generation
    * (top `candidateK` per query) followed by a LEARNED reranker —
    * the [[Preference]] Bradley–Terry reward model trained on the
    * corpus's own preference pairs — keeping the top `k` by reward.
    * This is the production retrieval shape: the lexical stage bounds
    * the candidate set by posting lists, the trained stage orders it
    * by quality, and neither ever scores the full corpus per query.
    *
    * Scale shape: [[bm25MoreLikeThis]]'s shapes, plus one doc-keyed
    * reward aggregation over the corpus (computed ONCE, joined to
    * candidates — not per query) and a query-partitioned rerank
    * window. Output: (q_id, rerank, doc_id, bm25_rank, bm25_score,
    * reward).
    */
  def hybridRerank(
      docs: DataFrame,
      nQueries: Long,
      candidateK: Int,
      k: Int): DataFrame = {
    require(k >= 1 && candidateK >= k,
      s"need candidateK >= k >= 1, got candidateK=$candidateK k=$k")
    val cands = bm25MoreLikeThis(docs, nQueries, candidateK)
    // score ONLY the surviving candidates: the reward aggregation is a
    // full tokenize+hash pass per doc it touches, and the join below
    // discards every non-candidate row anyway — the semi-join bounds
    // the reranker's cost by nQueries·candidateK, not the corpus
    val candDocs = docs.join(
      cands.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
    val rewards = Preference
      .scoreWith(candDocs, Preference.btTrain(docs))
      .withColumnRenamed("score", "reward")
    val win = Window.partitionBy(col("q_id"))
      .orderBy(desc("reward"), asc("rank"))
    cands.join(rewards, "doc_id")
      .withColumn("rerank", row_number().over(win).cast("int"))
      .filter(col("rerank") <= k)
      .select(col("q_id"), col("rerank"), col("doc_id"),
        col("rank").as("bm25_rank"), col("score").as("bm25_score"),
        col("reward"))
  }
}
