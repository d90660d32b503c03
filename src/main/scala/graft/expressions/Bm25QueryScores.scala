package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All nQueries BM25 scores of one document as ONE native per-row pass
  * over the text — the r17 DSIR-collapse move applied to the BM25
  * term-score inner loop (r17 verdict "Next round" #3). Slot i of the
  * returned array is the document's score for query `qIds(i)`, or SQL
  * null when the document shares no term with that query (the rows the
  * old posting-join never generated; callers posexplode and filter).
  *
  * Replaces, per call site: the corpus-wide (doc, term, tf) explode +
  * aggregation + MEMORY_AND_DISK persist, the vocab-sized df
  * aggregation, the doc-sized dl aggregation, the qterm broadcast
  * join, the df/dl hydration joins, and the per-(q, doc) decimal SUM —
  * with a single stateless expression over a scan. The model driven in
  * (`terms`: term → (df, query-membership bitmask)) is QUERY-bounded,
  * not corpus-bounded: only terms of the nQueries query documents, with
  * their corpus document frequencies.
  *
  * Bit-exactness contract (the cross-engine hash gate):
  *   - tokens are `split(" ", -1)` — identical to Spark's
  *     `split(text, ' ')` (trailing empties kept, `""` → `[""]`; the
  *     [[DsirGramScore]] argument), and dl = token count matches
  *     `CAST(SUM(tf) AS DOUBLE)` because Σ tf over a doc's distinct
  *     terms IS its token count;
  *   - per distinct shared term, the double chain associates exactly
  *     as the Column tree the join formulation evaluated:
  *     `((nd − df + 0.5) / (df + 0.5)) * (tf·(k1+1)) /
  *      (tf + k1·((1−b) + (b·dl)/avgdl))` — same operands, same IEEE
  *     operation order, so the same double;
  *   - each term value is cast to DECIMAL(38,12) exactly as Spark's
  *     double→decimal Cast (shortest decimal representation rounded
  *     HALF_UP at scale 12 — the [[TokenBucketMargin]] discipline),
  *     summed with exact decimal addition (order-free), and the final
  *     value is the decimal's `doubleValue`, matching
  *     `QualityModel.xsum`'s closing cast.
  *
  * Scale: the table is the MODEL, not data — bounded by the query
  * documents' vocabulary (nQueries is a per-call constant), riding the
  * plan to executors like a broadcast hashed relation. Null text yields
  * SQL null (the explode path produced no rows for such docs; callers
  * filter them before the scan).
  */
case class Bm25QueryScores(
    child: Expression,
    qIds: Seq[Long],
    terms: Map[String, (Long, Long)],
    nDocs: Long,
    avgdl: Double,
    k1: Double,
    b: Double) extends UnaryExpression {

  require(qIds.nonEmpty && qIds.size <= 64,
    s"graft_bm25_scores supports 1..64 queries per pass, got ${qIds.size}")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_bm25_scores expects a string argument, got ${child.dataType.sql}")

  // immutable-Map lookups box and hash per probe through the Scala
  // wrapper; one java.util.HashMap per executor keeps the token loop
  // allocation-free on the probe side (the DsirGramScore pattern).
  // Each entry carries its slot in `entries`, so a row's tf counts are
  // plain ints over slots, not a per-row map of boxed counts.
  @transient private lazy val table
      : java.util.HashMap[String, Bm25QueryScores.Entry] = {
    val m = new java.util.HashMap[String, Bm25QueryScores.Entry](
      terms.size * 2)
    terms.iterator.zipWithIndex.foreach { case ((t, (df, mask)), slot) =>
      val dfD = df.toDouble
      m.put(t, new Bm25QueryScores.Entry(
        dfD, mask, (nDocs.toDouble - dfD + 0.5) / (dfD + 0.5), slot))
    }
    m
  }

  @transient private lazy val entries: Array[Bm25QueryScores.Entry] = {
    val a = new Array[Bm25QueryScores.Entry](table.size)
    table.values.forEach(e => a(e.slot) = e)
    a
  }

  def compute(text: UTF8String): GenericArrayData = {
    val ts = text.toString.split(" ", -1)
    // dl = Σ tf over the doc's distinct terms = its token count
    val dlD = ts.length.toDouble
    // per-doc constant half of every term's denominator: the SAME
    // double the Column tree computes (k1·((1−b) + (b·dl)/avgdl)),
    // hoisted out of the term loop
    val denomBase = k1 * ((1.0 - b) + (b * dlD) / avgdl)
    val k1p1 = k1 + 1.0
    // the entry slot of every token that is a query term (terms outside
    // every query contribute to no score and are never counted), one
    // table probe per token; sorted, equal slots form one run per
    // distinct term and the run length is its tf
    val hits = new Array[Int](ts.length)
    var nHits = 0
    var i = 0
    while (i < ts.length) {
      val e = table.get(ts(i))
      if (e != null) { hits(nHits) = e.slot; nHits += 1 }
      i += 1
    }
    java.util.Arrays.sort(hits, 0, nHits)
    val n = qIds.size
    val acc = new Array[java.math.BigDecimal](n)
    var j = 0
    while (j < nHits) {
      val slot = hits(j)
      var end = j + 1
      while (end < nHits && hits(end) == slot) end += 1
      val e = entries(slot)
      val tfD = (end - j).toDouble
      j = end
      val term = e.idf * (tfD * k1p1) / (tfD + denomBase)
      // Spark's double→DECIMAL(38,12) Cast: shortest decimal
      // representation, HALF_UP at scale 12 (TokenBucketMargin)
      val dec = new java.math.BigDecimal(java.lang.Double.toString(term))
        .setScale(12, java.math.RoundingMode.HALF_UP)
      var mask = e.mask
      while (mask != 0L) {
        val q = java.lang.Long.numberOfTrailingZeros(mask)
        acc(q) = if (acc(q) == null) dec else acc(q).add(dec)
        mask &= mask - 1L
      }
    }
    val out = new Array[Any](n)
    var q = 0
    while (q < n) {
      out(q) =
        if (acc(q) == null) null else java.lang.Double.valueOf(acc(q).doubleValue())
      q += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bm25QueryScores", this,
      classOf[Bm25QueryScores].getName)
    defineCodeGen(ctx, ev, s => s"$ref.compute($s)")
  }

  override protected def withNewChildInternal(c: Expression): Bm25QueryScores =
    copy(child = c)
}

object Bm25QueryScores {
  /** One query-term model entry: corpus document frequency (as the
    * double the score chain consumes), the bitmask of query slots whose
    * term set contains it, and the per-term idf core
    * `(N − df + 0.5)/(df + 0.5)` — a pure function of (N, df),
    * precomputed once per term at table build instead of once per
    * (doc, term) probe; same operands, same IEEE ops, same double.
    * `slot` is the entry's index in the expression's entry array.
    */
  final class Entry(val df: Double, val mask: Long, val idf: Double,
      val slot: Int)
}
