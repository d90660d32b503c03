package graft

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics tests for the LLM-data operators that have no SQL oracle
  * (SimHash, winnowing, LSH recall) plus cross-checks of the oracled
  * ones on small synthetic corpora.
  */
class NorthStarSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docsDF(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  private val corpus = docsDF(
    1L -> "the quick brown fox jumps over the lazy dog near the river bank",
    2L -> "the quick brown fox jumps over the lazy dog near the river shore",
    3L -> "completely different content about spark query engines and shuffles",
    4L -> "another unrelated document mentioning embeddings and similarity search",
    5L -> "the quick brown fox jumps over the lazy dog near the river bank")

  test("exact dedup groups identical normalized texts") {
    val groups = Dedup.exactGroups(docsDF(
      1L -> "Hello  World", 2L -> "hello world", 3L -> "other"))
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
    assert(groups.toSet == Set((1L, 2L), (3L, 1L)))
  }

  test("exactDedup keeps one survivor per normalized text (lowest id)") {
    val out = Dedup.exactDedup(docsDF(
      1L -> "Hello  World", 2L -> "hello world", 3L -> "other", 4L -> "other"))
      .select("doc_id").as[Long].collect().sorted
    assert(out.toList == List(1L, 3L))
  }

  test("jaccard pairs find the planted near-dups and nothing else") {
    val pairs = Dedup.jaccardPairs(corpus, 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 5L), (2L, 5L)))
  }

  test("jaccard pairs under one giant prefix key are exactly the identical-doc pairs") {
    // docs 0-9 are identical (shingles {7,8,9}), so every prefix key
    // they hold has df >= 10 and the candidate join cross-products
    // inside it; docs 10-14 share only shingle 7 and pair with nothing
    val tok = ((0L until 10L).map(i => (i, Seq(7L, 8L, 9L))) ++
      (10L until 15L).map(i => (i, Seq(7L, 100L + i, 200L + i))))
      .toDF("doc_id", "sh")
    val rows = Dedup.jaccardPairsOn(tok, 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(rows.length == 45)
    assert(rows.forall(_._3 == 1.0))
    assert(rows.map(r => (r._1, r._2)).toSet == (for {
      a <- 0L until 10L; b <- (a + 1) until 10L
    } yield (a, b)).toSet)
  }

  test("minhash LSH pairs == exact jaccard pairs on the corpus") {
    val exact = Dedup.jaccardPairs(corpus, 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashPairs(corpus, 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
  }

  test("simhash: near-dups within hamming 3, distinct docs far apart") {
    val pairs = Dedup.simHashPairs(corpus, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 5L)), "identical docs must collide")
    assert(!pairs.contains((3L, 4L)), "unrelated docs must not collide")
  }

  test("winnowing fingerprints overlap heavily for near-dups") {
    val fps = corpus.select(col("doc_id"),
      TextFunctions.winnowingFingerprints(col("text"), 5, 4).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    def overlap(a: Long, b: Long): Double = {
      val (sa, sb) = (fps(a).toSet, fps(b).toSet)
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    assert(overlap(1L, 5L) == 1.0, "identical docs share all fingerprints")
    assert(overlap(1L, 2L) > 0.5, "near-dup overlap must be high")
    assert(overlap(1L, 3L) < 0.2, "unrelated overlap must be low")
  }

  test("brute-force cosine top-k matches a local naive computation") {
    val rng = new scala.util.Random(1)
    val vecs = (0L until 30L).map(i =>
      (i, Array.fill(8)(rng.nextGaussian().toFloat))).toList
    val df = vecs.toDF("id", "embedding")
    val got = Similarity.bruteTopK(df.filter(col("id") < 3), df, 4)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)]
      .collect().toList.sortBy(t => (t._1, t._2)).map(t => (t._1, t._3))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val want = (0L until 3L).flatMap { q =>
      val qv = vecs(q.toInt)._2
      vecs.filter(_._1 != q)
        .map { case (i, v) => (i, cos(qv, v)) }
        .sortBy { case (i, s) => (-s, i) }.take(4).map(p => (q, p._1))
    }.toList
    assert(got == want)
  }

  test("LSH ANN results are a same-bucket subset re-ranked by exact cosine") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val ann = Similarity.lshTopK(emb.filter(col("id") < 5), emb, 3)
    val brute = Similarity.bruteTopK(emb.filter(col("id") < 5), emb, 1000)
      .select("q_id", "n_id", "cos_sim")
    // every ANN score must equal the exact score for that pair
    val joined = ann.alias("a").join(brute.alias("b"),
      col("a.q_id") === col("b.q_id") && col("a.n_id") === col("b.n_id"))
      .filter(col("a.cos_sim") =!= col("b.cos_sim"))
    assert(joined.count() == 0)
  }

  test("multi-table LSH (OR-construction) only adds candidates") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = emb.filter(col("id") < 5)
    val one = Similarity.lshTopK(q, emb, 50, numTables = 1)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val two = Similarity.lshTopK(q, emb, 50, numTables = 2)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    assert(one.subsetOf(two), "second table must only widen the candidate set")
    assert(two.size >= one.size)
  }

  test("two-table LSH top-3 recall vs brute >= single-table (n52 fixture)") {
    // candidate growth is monotone (test above), and any pair that can
    // displace a brute-top-3 member from a ranked top-3 is itself a
    // brute-top-3 member — so recall must not drop when a table is added
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = emb.filter(col("id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val brute = pairs(Similarity.bruteTopK(q, emb, 3))
    val r1 = (pairs(Similarity.lshTopK(q, emb, 3)) intersect brute).size
    val r2 = (pairs(Similarity.lshTopK(q, emb, 3, numTables = 2))
      intersect brute).size
    assert(r2 >= r1,
      s"adding an LSH table dropped top-3 recall: $r2 < $r1 of ${brute.size}")
  }

  test("multi-probe LSH only adds candidates; top-3 recall >= single-probe") {
    // probe set {home} ⊂ {home + single-bit flips}: candidates are a
    // superset, and (as with n52's table argument) any displacing pair
    // in a ranked top-3 is itself a brute-top-3 member — recall is
    // monotone in probes
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = emb.filter(col("id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val home = pairs(Similarity.lshMultiProbeTopK(q, emb, 50, probeBits = 0))
    val probed = pairs(Similarity.lshMultiProbeTopK(q, emb, 50, probeBits = 1))
    assert(home.subsetOf(probed), "probing must only widen the candidate set")
    val brute = pairs(Similarity.bruteTopK(q, emb, 3))
    val r0 = (pairs(Similarity.lshMultiProbeTopK(q, emb, 3, probeBits = 0))
      intersect brute).size
    val r1 = (pairs(Similarity.lshMultiProbeTopK(q, emb, 3, probeBits = 1))
      intersect brute).size
    assert(r1 >= r0, s"probing dropped recall: $r1 < $r0 of ${brute.size}")
  }

  test("Lineage.ckpt identifies the persisted RDD on this Spark version") {
    // release() depends on pattern-matching the checkpoint plan's
    // LogicalRDD; if a Spark upgrade changes that shape this must fail
    // CI, not degrade to a silent superseded-generation leak (the
    // stderr WARN alone can be dropped by harness log capture)
    val before = graft.operators.Lineage.noOpCkpts.get()
    val (out, gen) = graft.operators.Lineage.ckpt(
      docsDF(1L -> "a", 2L -> "b").toDF("doc_id", "text"))
    assert(gen.isDefined, "checkpoint plan no longer exposes a LogicalRDD")
    assert(graft.operators.Lineage.noOpCkpts.get() == before)
    assert(out.count() == 2)
    graft.operators.Lineage.release(gen)
  }

  test("IVF ANN scores equal exact scores; top-1 recall is sane") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val ivf = Similarity.ivfTopK(emb.filter(col("id") < 5), emb, 3)
    val brute = Similarity.bruteTopK(emb.filter(col("id") < 5), emb, 1000)
      .select("q_id", "n_id", "cos_sim")
    val mismatched = ivf.alias("a").join(brute.alias("b"),
      col("a.q_id") === col("b.q_id") && col("a.n_id") === col("b.n_id"))
      .filter(col("a.cos_sim") =!= col("b.cos_sim"))
    assert(mismatched.count() == 0, "IVF re-rank must use exact cosine")
    assert(ivf.groupBy("q_id").count().collect().forall(_.getLong(1) <= 3))
  }

  test("Lloyd IVF: exact scores, <= k per query, recall monotone in nProbe") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = emb.filter(col("id") < 5)
    val ivf = Similarity.ivfTopKLloyd(q, emb, 3)
    // scores must be the exact cosine (re-rank never uses list geometry)
    val brute = Similarity.bruteTopK(q, emb, 1000)
      .select("q_id", "n_id", "cos_sim")
    val mismatched = ivf.alias("a").join(brute.alias("b"),
      col("a.q_id") === col("b.q_id") && col("a.n_id") === col("b.n_id"))
      .filter(col("a.cos_sim") =!= col("b.cos_sim"))
    assert(mismatched.count() == 0, "Lloyd IVF re-rank must use exact cosine")
    assert(ivf.groupBy("q_id").count().collect().forall(_.getLong(1) <= 3))
    // probing more lists only widens candidates → top-3 recall monotone
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val exact3 = pairs(Similarity.bruteTopK(q, emb, 3))
    val r2 = (pairs(ivf) intersect exact3).size
    val r4 = (pairs(Similarity.ivfTopKLloyd(q, emb, 3, nProbe = 4))
      intersect exact3).size
    val r8 = (pairs(Similarity.ivfTopKLloyd(q, emb, 3, nProbe = 8))
      intersect exact3).size
    assert(r2 <= r4 && r4 <= r8,
      s"recall not monotone in nProbe: $r2/$r4/$r8 of ${exact3.size}")
    // probing ALL lists is exhaustive — must equal brute top-3 exactly
    assert(r8 == exact3.size,
      s"nProbe = numCentroids must be exact: $r8 != ${exact3.size}")
  }

  test("PQ-ADC degenerates to exact squared L2 when the codebook is the corpus") {
    // numSub=1, codebookK=N, iters=1: the codebook is the corpus itself,
    // every vector encodes to itself (self-distance 0), and the ADC
    // lookup IS ||q - x||^2 — so PQ top-k must equal the exact answer.
    val rng = new scala.util.Random(7)
    val vecs = (0L until 30L).map(i =>
      (i, Array.fill(8)(rng.nextGaussian().toFloat))).toList
    val df = vecs.toDF("id", "embedding")
    val got = Similarity.pqTopK(df.filter(col("id") < 3), df, 4,
        numSub = 1, codebookK = 30, iters = 1, dim = 8)
      .select("q_id", "rank", "n_id").as[(Long, Int, Long)]
      .collect().toList.sortBy(t => (t._1, t._2)).map(t => (t._1, t._3))
    def l2sq(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) =>
        (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
    val want = (0L until 3L).flatMap { q =>
      val qv = vecs(q.toInt)._2
      vecs.filter(_._1 != q)
        .map { case (i, v) => (i, l2sq(qv, v)) }
        .sortBy { case (i, d) => (d, i) }.take(4).map(p => (q, p._1))
    }.toList
    assert(got == want)
  }

  test("PQ-ADC output shape: k rows per query, ranks dense, no self-pairs") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val pq = Similarity.pqTopK(emb.filter(col("id") < 5), emb, 3)
      .select("q_id", "n_id", "adc_dist", "rank")
      .as[(Long, Long, Double, Int)].collect().toList
    val byQ = pq.groupBy(_._1)
    assert(byQ.keySet == (0L until 5L).toSet)
    byQ.values.foreach { rows =>
      assert(rows.map(_._4).sorted == (1 to 3).toList, "ranks must be dense 1..k")
      val sorted = rows.sortBy(_._4)
      assert(sorted == sorted.sortBy(r => (r._3, r._2)),
        "rank order must follow (adc_dist, n_id)")
      assert(rows.forall(r => r._2 != r._1), "no self-pairs")
    }
  }

  test("multimodal feature extraction matches the stub decoder") {
    val recs = List(
      Multimodal.MediaRecord(1L, "image", "abcdef".getBytes),
      Multimodal.MediaRecord(2L, "video", ("x" * 100).getBytes),
      Multimodal.MediaRecord(3L, "audio", Array[Byte](1, 2, 3)))
    val got = Multimodal.extractFeatures(spark.createDataset(recs))
      .collect().map(f => f.media_id -> f).toMap
    recs.foreach { r =>
      val (w, h, fr) = Multimodal.decodeStub(r.kind, r.payload)
      val f = got(r.media_id)
      assert(f.width == w && f.height == h && f.n_frames == fr)
      assert(f.n_bytes == r.payload.length.toLong)
    }
  }

  test("multimodal features are octet-based for non-ASCII text (n11 parity)") {
    import spark.implicits._
    // 'héllo wörld' is 11 characters but 13 UTF-8 octets; the stub (and
    // therefore the n11 oracle) must sum the first min(16, octets) BYTES,
    // not codepoints — a codepoint-based width would differ here.
    val text = "héllo wörld — ützíñ"
    val utf8 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val octetSum = utf8.take(16).map(_ & 0xff).sum
    val docs = Seq((0L, text, "de", "web", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = Multimodal.extractFeatures(
      Multimodal.fromDocuments(spark, docs)).head()
    assert(f.n_bytes == utf8.length.toLong, "n_bytes counts octets")
    assert(f.width == 16 + octetSum % 640, "width sums the first 16 octets")
    assert(f.height == 16 + utf8.length % 480)
    val codepointSum = text.take(16).map(_.toInt).sum
    assert(octetSum != codepointSum, "fixture genuinely exercises the gap")
  }

  test("sequence packing: offsets are gapless and packs chunk the token stream") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val packed = graft.operators.Packing.packSequences(t.documents, 128L)
      .orderBy("doc_id").collect()
    // gapless layout: each doc starts where the previous one ended
    packed.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(2) == a.getLong(2) + a.getInt(1),
          s"doc ${b.getLong(0)} offset must continue doc ${a.getLong(0)}")
      case _ => ()
    }
    assert(packed.head.getLong(2) == 0L, "first doc starts at offset 0")
    // pack id is the chunk of the first token
    packed.foreach { r =>
      assert(r.getLong(3) == r.getLong(2) / 128L)
    }
    // multiple packs actually exist at this corpus size
    assert(packed.map(_.getLong(3)).distinct.length > 1)
  }

  test("epoch packing plan: budget-exact chunks, decorrelated epoch orders") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val plan = graft.operators.Packing
      .epochPackingPlan(t.documents, epochs = 3, budget = 512L)
      .orderBy("epoch", "chunk_id").collect()
    val byEpoch = plan.groupBy(_.getLong(0))
    assert(byEpoch.keySet == Set(0L, 1L, 2L))
    byEpoch.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(1))
      // every context carries exactly 512 tokens except the final one
      sorted.init.foreach(r => assert(r.getLong(5) == 512L,
        s"chunk ${r.getLong(1)} of epoch ${r.getLong(0)} not full"))
      assert(sorted.last.getLong(5) <= 512L && sorted.last.getLong(5) > 0L)
      // chunk ids are gapless from 0
      assert(sorted.map(_.getLong(1)).toSeq == sorted.indices.map(_.toLong))
    }
    // all epochs pack the same token stream: identical totals and
    // chunk counts, but the md5 shuffle gives each a different layout —
    // the first chunk's document set must differ between epochs
    val totals = byEpoch.values.map(_.map(_.getLong(5)).sum).toSet
    assert(totals.size == 1, s"epoch token totals diverged: $totals")
    val firstDocs = byEpoch.toSeq.sortBy(_._1)
      .map(_._2.minBy(_.getLong(1)).getLong(3))
    assert(firstDocs.distinct.size > 1,
      s"every epoch started with doc $firstDocs — orders not decorrelated")
  }

  test("multimodal packing: hand-computed media/text split per context") {
    import spark.implicits._
    // doc 0 (image): "a b c" = 5 bytes, octet sum 358 → 374x21 → 24·2 =
    // 48 patches, 3 text tokens; doc 1 (audio): nb=3 → 4 frames → 1
    // token, 2 text; doc 2 (video): nb=5 → 6 frames → 2 sampled · 64 =
    // 128 media, 1 text. Stream: [0,51) [51,54) [54,183), budget 64.
    val docs = Seq((0L, "a b c"), (1L, "x y"), (2L, "hello"))
      .toDF("doc_id", "text")
    val out = graft.operators.Multimodal.packingPlan(spark, docs, 64L)
      .orderBy("chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      (0L, 3L, 59L, 5L, 64L),
      (1L, 1L, 64L, 0L, 64L),
      (2L, 1L, 54L, 1L, 55L)))
    // the invariants the dataloader relies on: split sums to total,
    // every context full except the tail
    out.foreach { case (_, _, m, t, n) => assert(m + t == n) }
  }

  test("multimodal resize clamps into the box preserving aspect") {
    val recs = spark.createDataset(List(
      Multimodal.MediaFeatures(1L, "image", 10L, 640, 480, 1, 0L),
      Multimodal.MediaFeatures(2L, "image", 10L, 100, 50, 1, 0L)))
    val out = Multimodal.resize(recs, 320, 320).collect()
      .map(f => f.media_id -> ((f.width, f.height))).toMap
    assert(out(2L) == ((100, 50)), "already inside the box: untouched")
    val (w, h) = out(1L)
    assert(w <= 320 && h <= 320, "inside the box after resize")
    assert(math.abs(w.toDouble / h - 640.0 / 480.0) < 0.05, "aspect kept")
  }

  test("multimodal rebalance preserves rows") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val media = Multimodal.fromDocuments(spark, t.documents).toDF()
    val balanced = Multimodal.rebalanceBySize(media, 4096)
    assert(balanced.count() == media.count())
  }

  test("stratified systematic sampling: exact per-stratum fractions") {
    val df = (0L until 100L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "lang")
    val out = operators.Sampling
      .stratifiedSystematic(df, col("lang"), col("doc_id"), 7)
      .select("doc_id", "lang").as[(Long, String)].collect().toSet
    // 50 rows per stratum, every 7th in doc_id order => ceil(50/7) = 8 each
    assert(out.count(_._2 == "a") == 8)
    assert(out.count(_._2 == "b") == 8)
    // stratum "a" = even ids 0,2,..; ranks 1,8,15,.. => ids 0,14,28,..
    assert(out.filter(_._2 == "a").map(_._1) ==
      Set(0L, 14L, 28L, 42L, 56L, 70L, 84L, 98L))
    // deterministic: same input, same sample
    val again = operators.Sampling
      .stratifiedSystematic(df, col("lang"), col("doc_id"), 7)
      .select("doc_id", "lang").as[(Long, String)].collect().toSet
    assert(again == out)
    // identity case: k = 1 keeps every row
    assert(operators.Sampling
      .stratifiedSystematic(df, col("lang"), col("doc_id"), 1)
      .count() == 100L)
  }

  test("decontamination flags containment, asymmetrically") {
    // doc 10 fully contains bench 1's text (plus more); doc 11 unrelated.
    val docs = docsDF(
      10L -> ("the quick brown fox jumps over the lazy dog " +
        "and then the training document keeps going with extra content"),
      11L -> "nothing in common with any benchmark item at all here")
    val bench = docsDF(1L -> "the quick brown fox jumps over the lazy dog")
    val out = operators.Decontamination
      .flagContaminated(docs, bench, 3, 0.3)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("bench_id"), r.getAs[Double]("containment")))
    assert(out.map(_._1).toSet == Set(10L), "only the containing doc flags")
    assert(out.head._2 == 1L)
    // bench has 7 3-shingles, all present in doc 10's 17 => 7/17
    assert(math.abs(out.head._3 - 7.0 / 17.0) < 1e-12)
    // reversed roles: the short bench text is NOT 30% of nothing — the
    // long doc as bench against the short doc as corpus scores higher
    val rev = operators.Decontamination
      .flagContaminated(bench, docs, 3, 0.3).collect()
    assert(rev.map(_.getAs[Long]("doc_id")).toSet == Set(1L))
    assert(rev.head.getAs[Double]("containment") == 1.0,
      "short doc fully contained in the long one")
  }

  test("decontamination breaks ties on lowest bench_id") {
    val docs = docsDF(10L -> "alpha beta gamma delta")
    val bench = docsDF(
      2L -> "alpha beta gamma delta", 1L -> "alpha beta gamma delta")
    val out = operators.Decontamination
      .flagContaminated(docs, bench, 3, 0.3).collect()
    assert(out.length == 1 && out.head.getAs[Long]("bench_id") == 1L)
  }

  test("repetition stats: planted repeats produce the exact ratios") {
    import graft.operators.TextAnalysis
    val out = TextAnalysis.repetitionStats(docsDF(
      1L -> "a b a b a b",         // 6 tokens, 2 distinct; top bigram "a b" 3/5
      2L -> "all words differ here completely",
      3L -> "x",                   // 1 token: no bigrams/trigrams
      4L -> "w w w w"))            // all same
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d1 = out(1L)
    assert(d1.getAs[Double]("dup_word_frac") == 4.0 / 6)
    assert(d1.getAs[Double]("top_bigram_frac") == 3.0 / 5)
    assert(d1.getAs[Double]("dup_trigram_frac") == 2.0 / 4)
    assert(!d1.getAs[Boolean]("rep_ok"))
    val d2 = out(2L)
    assert(d2.getAs[Double]("dup_word_frac") == 0.0)
    assert(d2.getAs[Double]("top_bigram_frac") == 1.0 / 4)
    assert(d2.getAs[Double]("dup_trigram_frac") == 0.0)
    val d3 = out(3L)
    assert(d3.isNullAt(d3.fieldIndex("top_bigram_frac")))
    assert(d3.isNullAt(d3.fieldIndex("dup_trigram_frac")))
    assert(d3.getAs[Boolean]("rep_ok"), "a 1-token doc is not repetitive")
    assert(out(4L).getAs[Double]("top_bigram_frac") == 1.0)
  }

  test("tf-idf ranks the rare term above the ubiquitous one") {
    import graft.operators.TextAnalysis
    val docs = docsDF(
      1L -> "common common zebra",
      2L -> "common other words",
      3L -> "common filler text")
    val out = TextAnalysis.tfIdfTopTerms(docs, 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank")) ->
        (r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Long]("df"),
          r.getAs[Double]("score"))).toMap
    // doc 1: zebra tf=1 df=1 score=3; common tf=2 df=3 score=2
    assert(out((1L, 1)) == (("zebra", 1L, 1L, 3.0)))
    assert(out((1L, 2)) == (("common", 2L, 3L, 2.0)))
    // doc 2: both uniques score 3.0, tie broken alphabetically
    assert(out((2L, 1))._1 == "other" && out((2L, 2))._1 == "words")
  }

  test("mixture upsample realizes exact per-mille fractions, seedless") {
    import graft.operators.Sampling
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "source")
    val out = Sampling.mixtureUpsample(
      df, col("doc_id"), col("source"), Map("a" -> 2500, "b" -> 300))
      .groupBy("source").count().as[(String, Long)].collect().toMap
    // a: 1000 rows at 2.5x => 2*1000 + |{even ids with id%1000 < 500}| = 2500
    assert(out("a") == 2500L)
    // b: 1000 rows at 0.3x => |{odd ids with id%1000 < 300}| = 300
    assert(out("b") == 300L)
    // copy_idx distinguishes replicas: doc 0 (weight 2500, 0 % 1000 < 500)
    val copies = Sampling.mixtureUpsample(
      df, col("doc_id"), col("source"), Map("a" -> 2500, "b" -> 300))
      .filter(col("doc_id") === 0).select("copy_idx").as[Long]
      .collect().sorted
    assert(copies.toList == List(0L, 1L, 2L))
  }

  test("connected components: chains close transitively, matches union-find") {
    import graft.operators.Clustering
    // a 6-node chain (worst case for plain propagation), a triangle, an
    // isolated edge — plus a seeded random graph checked against a model
    val fixed = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
    val rng = new scala.util.Random(42)
    val random = Seq.fill(40)((rng.nextInt(30).toLong, rng.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
    val edges = (fixed ++ random).toDF("id_a", "id_b")
    val got = Clustering.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    // union-find model
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    (fixed ++ random).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = (fixed ++ random).flatMap(e => Seq(e._1, e._2)).distinct
    val model = nodes.map { v =>
      // representative = min id in the component
      val r = find(v)
      v -> nodes.filter(find(_) == r).min
    }.toMap
    assert(got == model)
  }

  test("dupClusters keeps exactly one survivor per near-dup cluster") {
    import graft.operators.Clustering
    val out = Clustering.dupClusters(corpus, 3, 0.5)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component"),
        r.getAs[Boolean]("keep")))
    // docs 1,2,5 are a cluster (component 1); 3 and 4 singletons
    assert(out.toSet == Set(
      (1L, 1L, true), (2L, 1L, false), (5L, 1L, false),
      (3L, 3L, true), (4L, 4L, true)))
  }

  test("pii scrub redacts planted emails, IPs, and long digit runs") {
    import graft.operators.TextAnalysis
    val out = TextAnalysis.scrubPii(docsDF(
      1L -> "contact alice.b+test@example.co.uk or 10.0.255.1 ref 123456789",
      2L -> "clean text with short 1234 number"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d1 = out(1L)
    assert(d1.getAs[String]("scrubbed") ==
      "contact <EMAIL> or <IP> ref <ID>")
    assert(d1.getAs[Int]("n_email") == 1)
    assert(d1.getAs[Int]("n_ipv4") == 1)
    assert(d1.getAs[Int]("n_longnum") == 1)
    val d2 = out(2L)
    assert(d2.getAs[String]("scrubbed") == "clean text with short 1234 number")
    assert(d2.getAs[Int]("n_email") + d2.getAs[Int]("n_ipv4") +
      d2.getAs[Int]("n_longnum") == 0)
  }

  test("chunking: overlapping windows cover every token, last chunk short") {
    import graft.operators.Packing
    val doc = (1 to 10).map(i => s"t$i").mkString(" ") // 10 tokens
    val out = Packing.chunkDocs(docsDF(1L -> doc), 4, 1) // step 3
      .orderBy("chunk_idx")
      .collect()
      .map(r => (r.getAs[Int]("chunk_idx"), r.getAs[Int]("start"),
        r.getAs[Int]("n_chunk_tokens"), r.getAs[String]("chunk_text")))
    assert(out.toList == List(
      (0, 0, 4, "t1 t2 t3 t4"),
      (1, 3, 4, "t4 t5 t6 t7"),
      (2, 6, 4, "t7 t8 t9 t10"),
      (3, 9, 1, "t10")))
    // zero overlap partitions exactly
    val noOv = Packing.chunkDocs(docsDF(1L -> doc), 5, 0).collect()
    assert(noOv.map(_.getAs[Int]("n_chunk_tokens")).sum == 10)
  }

  test("l2 normalize: unit norms, zero vector yields nulls") {
    import graft.operators.Similarity
    val emb = Seq(
      (1L, Array(3.0f, 4.0f)),
      (2L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.l2NormalizeTall(emb)
      .orderBy("vec_id", "dim").collect()
    assert(rows(0).getAs[Double]("v_unit") == 0.6)
    assert(rows(1).getAs[Double]("v_unit") == 0.8)
    assert(rows(2).isNullAt(rows(2).fieldIndex("v_unit")))
    assert(rows(3).isNullAt(rows(3).fieldIndex("v_unit")))
  }

  test("dup n-gram coverage: shared span covered, unique and short docs zero") {
    val span = (1 to 10).map(i => s"s$i").mkString(" ")
    val out = Dedup.dupNgramCoverage(docsDF(
      1L -> s"a1 a2 $span b1",            // span at token pos 2..11 of 13
      2L -> s"$span c1 c2 c3",            // span at token pos 0..9 of 13
      3L -> (1 to 13).map(i => s"u$i").mkString(" "), // unique, no dup grams
      4L -> "tiny doc under eight tokens"), 8)        // < 8 tokens, no grams
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_tokens"),
        r.getAs[Long]("n_dup_grams"), r.getAs[Int]("n_dup_covered")))
    // the 10-token shared span yields 3 shared 8-grams in each doc,
    // covering exactly the 10 span tokens (interval union of overlaps)
    assert(out.toList == List(
      (1L, 13, 3L, 10), (2L, 13, 3L, 10), (3L, 13, 0L, 0), (4L, 5, 0L, 0)))
    val fracs = Dedup.dupNgramCoverage(docsDF(
      1L -> s"a1 a2 $span b1", 2L -> s"$span c1 c2 c3"), 8)
      .orderBy("doc_id").collect()
      .map(_.getAs[Double]("dup_coverage_frac"))
    assert(fracs.forall(f => math.abs(f - 10.0 / 13) < 1e-15))
  }

  test("int8 quantization: exact codes, constant vectors, error bound") {
    import graft.operators.Similarity
    val emb = Seq(
      (1L, Array(0.0f, 1.0f, 2.0f, 3.0f)),   // range 3 -> codes v*85
      (2L, Array(7.5f, 7.5f, 7.5f)),          // constant -> q=0, dequant=7.5
      (3L, Array(-1.0f, 0.3f, 0.9f, 1.0f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.quantizeInt8Tall(emb)
      .orderBy("vec_id", "dim").collect()
    val byVec = rows.groupBy(_.getAs[Long]("vec_id"))
    assert(byVec(1L).map(_.getAs[Int]("q")).toList == List(0, 85, 170, 255))
    assert(byVec(2L).map(_.getAs[Int]("q")).toList == List(0, 0, 0))
    assert(byVec(2L).map(_.getAs[Double]("dequant")).forall(_ == 7.5))
    // reconstruction error is at most half a quantization step
    val orig = Map(0 -> -1.0, 1 -> 0.3, 2 -> 0.9, 3 -> 1.0)
    val step = 2.0 / 255
    byVec(3L).foreach { r =>
      val err = math.abs(r.getAs[Double]("dequant") -
        orig(r.getAs[Int]("dim")))
      assert(err <= step / 2 + 1e-12, s"err $err exceeds half-step")
    }
  }

  test("source reputation: gate follows source stats, not the row") {
    import graft.operators.Curation
    val docs = Seq(
      (1L, "clean words flow nicely across here", "good"),
      (2L, "more clean words flow nicely here too", "good"),
      (3L, "12345 99 888 777 66", "good"),            // bad doc, good source
      (4L, "1111 2222 3333 4444 5555", "bad"),
      (5L, "9999 8888 7777 6666 5555", "bad"),
      (6L, "00 11 22 33 44 55", "bad"),
      (7L, "fine text but tiny source here", "small"),
      (8L, "also fine text but tiny source", "small"))
      .toDF("doc_id", "text", "source")
    val rows = Curation.sourceReputation(docs, minDocs = 3, minKeepRate = 0.5)
      .orderBy("doc_id").collect()
    val ok = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("src_ok")).toMap
    // good: 2/3 pass -> gated in (even the bad doc 3); bad: 0/3 -> out;
    // small: high quality but only 2 docs -> out
    assert(ok == Map(1L -> true, 2L -> true, 3L -> true,
      4L -> false, 5L -> false, 6L -> false, 7L -> false, 8L -> false))
    val good = rows.find(_.getAs[Long]("doc_id") == 1L).get
    assert(good.getAs[Long]("src_n_docs") == 3L)
    assert(math.abs(good.getAs[Double]("src_keep_rate") - 2.0 / 3) < 1e-15)
  }

  test("kmeans: converges to the planted 2-cluster split, ties pick low cid") {
    import graft.operators.Clustering
    val emb = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(10.0f, 10.0f)), (4L, Array(10.0f, 11.0f)))
      .toDF("vec_id", "embedding")
    // init = vecs 1,2 (both in the near cluster); after two Lloyd rounds
    // the far pair has pulled centroid 1 away: split is {1,2} vs {3,4}
    val out = Clustering.kmeansLloyd(emb, 2, 2).orderBy("vec_id").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    assert(out == Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1))
    // a point exactly equidistant from both init centroids goes to cid 0
    val tie = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(5.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val t = Clustering.kmeansLloyd(tie, 2, 1).orderBy("vec_id").collect()
    assert(t.find(_.getAs[Long]("vec_id") == 3L).get.getAs[Int]("cluster") == 0)
  }

  test("semdedup: near-parallel pair in a cluster drops the higher id") {
    import graft.operators.Clustering
    val emb = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(10.0f, 10.0f)), (4L, Array(10.0f, 11.0f)))
      .toDF("vec_id", "embedding")
    // clusters are {1,2} and {3,4}; cos(3,4) ≈ 0.9989 ≥ 0.9 → drop 4;
    // cos(1,2) is null (zero-norm side) → both kept
    val out = Clustering.semDedup(emb, 2, 2, 0.9).orderBy("vec_id").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("keep")).toMap
    assert(out == Map(1L -> true, 2L -> true, 3L -> true, 4L -> false))
  }

  test("vocab/oov: top-V by count with lexicographic ties, exact rates") {
    import graft.operators.TextAnalysis
    val docs = docsDF(
      1L -> "a a a b b c",     // counts: a=3 b=2 c=1(+1 below)=2 d=1
      2L -> "c d a b")
    // V=2 -> vocab {a, b}? counts: a=4, b=3, c=2, d=1 -> {a,b}
    val out = TextAnalysis.fitVocabOovRate(docs, 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_terms"),
        r.getAs[Long]("n_oov")))
    assert(out.toList == List((1L, 6L, 1L), (2L, 4L, 2L)))
    // tie at the boundary: b and c both count 2 -> lexicographic keeps b
    val tied = docsDF(1L -> "a a b c", 2L -> "b c a")
    val t = TextAnalysis.fitVocabOovRate(tied, 2)
      .orderBy("doc_id").collect()
    assert(t.map(_.getAs[Long]("n_oov")).toList == List(1L, 1L))
  }

  test("kmeans matches a seeded Scala model (fold order, ties, decimal means)") {
    import graft.operators.Clustering
    val rng = new scala.util.Random(42)
    val dim = 4
    val vecs = (1L to 24L).map(i =>
      i -> Array.fill(dim)((rng.nextInt(21) - 10).toFloat))
    val (k, iters) = (3, 2)
    // model: replicate the operator's exact arithmetic in plain Scala
    def dist2(v: Array[Float], c: IndexedSeq[Double]): Double =
      v.indices.foldLeft(0.0)((a, i) =>
        a + (v(i).toDouble - c(i)) * (v(i).toDouble - c(i)))
    var cents: IndexedSeq[IndexedSeq[Double]] =
      vecs.sortBy(_._1).take(k).map(_._2.map(_.toDouble).toIndexedSeq).toIndexedSeq
    def assign(): Map[Long, Int] = vecs.map { case (id, v) =>
      val ds = cents.map(dist2(v, _))
      id -> ds.indices.minBy(i => (ds(i), i))
    }.toMap
    (1 until iters).foreach { _ =>
      val a = assign()
      cents = cents.indices.map { cid =>
        val members = vecs.filter(p => a(p._1) == cid)
        if (members.isEmpty) cents(cid)
        else (0 until dim).map { d =>
          val s = members.map(m => BigDecimal(m._2(d).toDouble)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
          s.toDouble / members.size
        }
      }
    }
    val expected = assign()
    val got = Clustering.kmeansLloyd(
      vecs.toDF("vec_id", "embedding"), k, iters)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster"))
      .toMap
    assert(got == expected)
  }

  test("dup n-gram coverage matches a brute-force model on a seeded corpus") {
    val rng = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d")
    val n = 3
    val docs = (1L to 20L).map(i =>
      i -> Seq.fill(4 + rng.nextInt(10))(vocab(rng.nextInt(vocab.size)))
        .mkString(" "))
    val grams: Map[Long, Seq[(Int, String)]] = docs.map { case (id, t) =>
      val ts = t.split(" ")
      id -> (if (ts.length < n) Seq.empty[(Int, String)]
             else (0 to ts.length - n).map(p =>
               p -> ts.slice(p, p + n).mkString(" ")))
    }.toMap
    val df = grams.values.flatten.groupBy(_._2)
      .map { case (g, _) => g -> grams.count(_._2.exists(_._2 == g)) }
    val expected = docs.map { case (id, t) =>
      val dup = grams(id).filter(g => df(g._2) >= 2)
      val covered = dup.flatMap(g => g._1 until g._1 + n).distinct.size
      (id, t.split(" ").length, dup.size.toLong, covered)
    }
    val got = graft.operators.Dedup
      .dupNgramCoverage(docsDF(docs: _*), n)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_tokens"),
        r.getAs[Long]("n_dup_grams"), r.getAs[Int]("n_dup_covered")))
    assert(got.toList == expected.toList)
  }

  test("length buckets: similar lengths batch together, batches are full") {
    import graft.operators.Packing
    val docs = docsDF((1L to 10L).map(i =>
      i -> Seq.fill(if (i <= 6) 3 else 20)("w").mkString(" ")): _*)
    // width 16: lengths 3 -> bucket 0 (6 docs), 20 -> bucket 1 (4 docs)
    val out = Packing.lengthBucketBatches(docs, 16, 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("bucket"),
        r.getAs[Int]("batch_idx")))
    assert(out.count(_._2 == 0) == 6 && out.count(_._2 == 1) == 4)
    // bucket 0: docs 1-4 form batch 0, docs 5-6 the remainder batch 1
    assert(out.filter(_._2 == 0).map(_._3).toList == List(0, 0, 0, 0, 1, 1))
    assert(out.filter(_._2 == 1).map(_._3).forall(_ == 0))
  }

  test("leakage-safe split: near-dups share a split, assignment is stable") {
    import graft.operators.Sampling
    val shared = (1 to 30).map(i => s"t$i").mkString(" ")
    val docs = docsDF(
      1L -> shared,
      2L -> shared,                                   // exact dup of 1
      3L -> (shared + " extra"),                      // near-dup of 1
      4L -> (1 to 30).map(i => s"u$i").mkString(" ")) // unrelated
    val out = Sampling.leakageSafeSplit(docs, 3, 0.8)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component"),
        r.getAs[String]("split")))
    assert(out.map(_._2).take(3).distinct.length == 1) // one cluster
    assert(out.map(_._3).take(3).distinct.length == 1) // hence one split
    // determinism: rerun yields the identical assignment
    val again = Sampling.leakageSafeSplit(docs, 3, 0.8)
      .orderBy("doc_id").collect().map(_.getAs[String]("split"))
    assert(again.toList == out.map(_._3).toList)
  }

  test("source token cap: crossing doc kept, later docs dropped, per source") {
    import graft.operators.Sampling
    val docs = Seq(
      (1L, "a b c d", "s1"),   // off 0, kept
      (2L, "e f g", "s1"),     // off 4, kept (crosses the 6-token budget)
      (3L, "h i", "s1"),       // off 7, dropped
      (4L, "x y z", "s2"))     // other source, fresh budget
      .toDF("doc_id", "text", "source")
    val out = Sampling.capSourceTokens(docs, 6L)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("start_off"),
        r.getAs[Boolean]("kept")))
    assert(out.toList == List(
      (1L, 0L, true), (2L, 4L, true), (3L, 7L, false), (4L, 0L, true)))
  }

  test("audio windows: full frames then remainder, exact byte energies") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.MediaRecord
    val media = Seq(
      MediaRecord(1L, "audio", Array.tabulate(10)(i => (i + 1).toByte)),
      MediaRecord(2L, "image", Array[Byte](1, 2, 3)), // non-audio: skipped
      MediaRecord(3L, "audio", Array.emptyByteArray)) // empty: no windows
      .toDS()
    val out = Multimodal.audioWindows(media, 4)
      .orderBy("media_id", "win_idx").collect()
      .map(w => (w.media_id, w.win_idx, w.n_win_bytes, w.energy))
    assert(out.toList == List(
      (1L, 0, 4, 1L + 2 + 3 + 4),
      (1L, 1, 4, 5L + 6 + 7 + 8),
      (1L, 2, 2, 9L + 10)))
  }

  test("incremental dedup: corpus hits and batch-internal dups both drop") {
    val corpus = docsDF(1L -> "alpha beta gamma", 2L -> "delta epsilon")
    val batch = docsDF(
      10L -> "alpha beta gamma",  // already in corpus -> dropped
      11L -> "fresh new text",    // admitted
      12L -> "fresh new text",    // batch-internal dup -> dropped
      13L -> "Delta  Epsilon")    // normalizes to a corpus hit -> dropped
    val admitted = Dedup.incrementalDedup(batch, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toList
    assert(admitted == List(11L))
  }

  test("nfc: decomposed text composes, so the two encodings dedup together") {
    import graft.functions.TextFunctions
    val composed = "caf\u00e9 r\u00e9sum\u00e9"
    val decomposed = "cafe\u0301 re\u0301sume\u0301" // e + combining acute
    assert(composed != decomposed)
    val out = docsDF(1L -> composed, 2L -> decomposed)
      .select(col("doc_id"), TextFunctions.nfc(col("text")).as("t"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(out(0) == composed && out(1) == composed)
    // after NFC the fingerprints collide => exact dedup unifies them
    val groups = Dedup.exactGroups(
      docsDF(1L -> composed, 2L -> decomposed)
        .select(col("doc_id"), TextFunctions.nfc(col("text")).as("text")))
      .collect()
    assert(groups.length == 1 && groups.head.getAs[Long]("n_copies") == 2L)
  }

  test("rank fusion: ranks are permutations, kept set is the Borda top quarter") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val out = operators.Sampling
      .rankFusionGate(t.documents, col("lang") === "en", 0.25)
      .collect()
    val n = out.length
    Seq(1, 2, 3).foreach { i =>
      assert(out.map(_.getLong(i)).sorted.toSeq == (1L to n).toSeq,
        s"rank column $i is not a permutation of 1..$n")
    }
    assert(out.map(_.getLong(5)).sorted.toSeq == (1L to n).toSeq,
      "fused rank is not a permutation")
    out.foreach { r =>
      assert(r.getLong(4) == r.getLong(1) + r.getLong(2) + r.getLong(3),
        s"borda of doc ${r.getLong(0)} is not the rank sum")
    }
    val k = math.ceil(0.25 * n).toInt
    assert(out.count(_.getBoolean(6)) == k)
    // kept == the k smallest Borda sums under (borda, doc_id) order
    val keptSet = out.filter(_.getBoolean(6)).map(_.getLong(0)).toSet
    val expect = out.sortBy(r => (r.getLong(4), r.getLong(0))).take(k)
      .map(_.getLong(0)).toSet
    assert(keptSet == expect)
    // the ensemble is not any single signal: the fused order disagrees
    // with each per-signal order somewhere on this corpus
    Seq(1, 2, 3).foreach { i =>
      assert(out.exists(r => r.getLong(i) != r.getLong(5)))
    }
  }

  test("contrastive triplets: verified positives, deterministic clean negatives") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity
      .contrastiveTriplets(emb, anchorMax = 100L, posThreshold = 0.35,
        negsPerPair = 2)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (a, p, pc) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val (j, ng, nc) = (r.getInt(3), r.getLong(4), r.getDouble(5))
      assert(a < 100L)
      assert(pc >= 0.35, s"positive $a-$p below threshold")
      assert(nc < 0.35, s"negative $a-$ng is a false negative")
      assert(ng != a && ng != p, "negative collides with the pair")
      assert(j == 0 || j == 1)
    }
    out.groupBy(r => (r.getLong(0), r.getLong(1))).foreach { case (_, rs) =>
      assert(rs.length <= 2, "more negatives than slots for one pair")
    }
    // the md5 draw carries no RNG state: a re-run reproduces the set
    val again = Similarity.contrastiveTriplets(emb, 100L, 0.35, 2).collect()
    assert(out.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("chat loss-mask manifest: hand-computed 4-turn example") {
    // doc_id 1 → T = 4 turns; n = 5 tokens split 1/1/1/2; each turn adds
    // 4 control tokens; trainable = assistant content + end marker.
    val out = graft.operators.Objectives
      .chatLossMask(docsDF(1L -> "a b c d e"))
      .orderBy("turn_idx").collect()
    assert(out.length == 4)
    assert(out.map(_.getAs[String]("role")).toSeq ==
      Seq("user", "assistant", "user", "assistant"))
    assert(out.map(_.getAs[Long]("n_content")).toSeq == Seq(1L, 1L, 1L, 2L))
    assert(out.map(_.getAs[Long]("turn_off")).toSeq == Seq(0L, 5L, 10L, 15L))
    val a1 = out(1); val a3 = out(3)
    assert(a1.getAs[Long]("train_start") == 8L &&
      a1.getAs[Long]("train_end") == 10L)
    assert(a3.getAs[Long]("train_start") == 18L &&
      a3.getAs[Long]("train_end") == 21L)
    assert(out(0).isNullAt(out(0).fieldIndex("train_start")) &&
      out(2).isNullAt(out(2).fieldIndex("train_end")))
    // rendered length = text tokens + 4 per turn; last turn ends there
    assert(a3.getAs[Long]("turn_off") + 4L + a3.getAs[Long]("n_content") == 21L)
  }

  test("fim plan: sections partition the doc, offsets and coin are stable") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50)
    val out = graft.operators.Objectives.fimPlan(docs).collect()
    assert(out.length == 50)
    assert(out.exists(_.getAs[Boolean]("fim")) &&
      out.exists(!_.getAs[Boolean]("fim")), "coin should land both ways")
    out.foreach { r =>
      val (n, p, m, s) = (r.getAs[Long]("n_tok"), r.getAs[Long]("n_prefix"),
        r.getAs[Long]("n_middle"), r.getAs[Long]("n_suffix"))
      assert(p + m + s == n, s"sections must partition doc ${r.getLong(0)}")
      if (r.getAs[Boolean]("fim")) {
        assert(r.getAs[Long]("out_len") == n + 3)
        // middle is laid out last: mid_off + n_middle == out_len
        assert(r.getAs[Long]("mid_off") + m == r.getAs[Long]("out_len"))
      } else {
        assert(r.getAs[Long]("out_len") == n && m == 0 && s == 0 && p == n)
        assert(r.isNullAt(r.fieldIndex("mid_off")))
      }
    }
    val again = graft.operators.Objectives.fimPlan(docs).collect()
    assert(out.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("span corruption lengths: boundary cases exact") {
    val out = graft.operators.Objectives
      .spanCorruptionLengths(docsDF(
        1L -> "a",                       // n=1: pass-through
        2L -> "a b",                     // n=2: noise clamps to 1
        3L -> Seq.fill(10)("t").mkString(" "),  // n=10: noise 2, spans 1
        4L -> Seq.fill(100)("t").mkString(" "))) // n=100: noise 15, spans 5
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("n_tok"), r.getAs[Long]("n_noise"),
        r.getAs[Long]("n_spans"), r.getAs[Long]("enc_len"),
        r.getAs[Long]("dec_len")))
    assert(out(0) == ((1L, 0L, 0L, 1L, 0L)))
    assert(out(1) == ((2L, 1L, 1L, 2L, 3L)))
    assert(out(2) == ((10L, 2L, 1L, 9L, 4L)))
    assert(out(3) == ((100L, 15L, 5L, 90L, 21L)))
  }

  test("preference pairs: rank-matched best-vs-worst per source") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = graft.operators.Preference.minePairs(docs).collect()
    assert(pairs.nonEmpty)
    // margins never negative: chosen rank is always the better one
    pairs.foreach { r =>
      assert(r.getAs[Double]("margin") >= 0.0,
        s"pair ${r.getAs[Int]("pair_id")} has negative margin")
      assert(r.getAs[Long]("chosen_id") != r.getAs[Long]("rejected_id"))
    }
    // a matching: every doc appears in at most one pair per side
    val chosen = pairs.map(_.getAs[Long]("chosen_id"))
    val rejected = pairs.map(_.getAs[Long]("rejected_id"))
    assert(chosen.distinct.length == chosen.length)
    assert(rejected.distinct.length == rejected.length)
    assert(chosen.toSet.intersect(rejected.toSet).isEmpty,
      "a doc cannot be both chosen and rejected")
    // per-source pair count = floor(m/2)
    val bySource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    pairs.groupBy(_.getAs[String]("source")).foreach { case (s, ps) =>
      assert(ps.length == (bySource(s) / 2).toInt,
        s"source $s should pair floor(m/2) docs")
    }
  }

  test("bt reward model: win probability of chosen side rises over rounds") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.operators.Preference.btTrajectory(docs, iters = 3)
      .collect()
    val byIter = out.groupBy(_.getAs[Int]("iter"))
    assert(byIter.keySet == Set(1, 2, 3))
    val nPairs = byIter(1).length
    assert(byIter.values.forall(_.length == nPairs))
    // the model trains toward "chosen beats rejected": mean win
    // probability strictly improves each round on this corpus
    val meanP = (1 to 3).map(i =>
      byIter(i).map(_.getAs[Double]("p_chosen")).sum / nPairs)
    assert(meanP(0) > 0.5, "one round must already beat the coin flip")
    assert(meanP(1) > meanP(0) && meanP(2) > meanP(1),
      s"win probability should rise per round, got $meanP")
    // fast sigmoid stays in (0,1)
    out.foreach(r => {
      val p = r.getAs[Double]("p_chosen")
      assert(p > 0.0 && p < 1.0)
    })
  }

  test("cluster cap keeps exactly the cap most-prototypical per cluster") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = graft.operators.Clustering
      .clusterCapSample(emb, k = 4, iters = 2, cap = 16).collect()
    val byCluster = out.groupBy(_.getAs[Int]("cluster"))
    byCluster.foreach { case (c, rows) =>
      val kept = rows.filter(_.getAs[Boolean]("kept"))
      assert(kept.length == math.min(16, rows.length),
        s"cluster $c should keep min(cap, size)")
      // kept = the cap smallest (dist2, vec_id)
      val expect = rows.sortBy(r =>
        (r.getAs[Double]("dist2"), r.getAs[Long]("vec_id"))).take(16)
        .map(_.getAs[Long]("vec_id")).toSet
      assert(kept.map(_.getAs[Long]("vec_id")).toSet == expect)
      // ranks are a permutation of 1..size within the cluster
      assert(rows.map(_.getAs[Int]("ck_rank")).sorted.toSeq ==
        (1 to rows.length))
    }
  }

  test("sft gate totals equal the summed chat loss-mask spans") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100)
    val gate = graft.operators.Objectives.sftGate(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_turns"), r.getAs[Long]("n_total"),
          r.getAs[Long]("n_trainable")))).toMap
    val turns = graft.operators.Objectives.chatLossMask(docs).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(gate.keySet == turns.keySet)
    turns.foreach { case (id, ts) =>
      val (nTurns, total, trainable) = gate(id)
      assert(ts.length == nTurns)
      // rendered length = last turn's end (its offset + 4 + content)
      val last = ts.maxBy(_.getAs[Int]("turn_idx"))
      assert(last.getAs[Long]("turn_off") + 4L +
        last.getAs[Long]("n_content") == total)
      // closed-form trainable mass == summed per-turn span lengths
      val spanSum = ts.filter(_.getAs[String]("role") == "assistant")
        .map(r => r.getAs[Long]("train_end") - r.getAs[Long]("train_start"))
        .sum
      assert(spanSum == trainable, s"doc $id: $spanSum != $trainable")
    }
  }

  test("bt reward scoring is consistent with the trajectory margins") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val P = graft.operators.Preference
    val w = P.btTrain(docs, iters = 3)
    val score = P.scoreWith(docs, w).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val lastRound = P.btTrajectory(docs, iters = 3)
      .filter(col("iter") === 3).collect()
    assert(lastRound.nonEmpty)
    // the pair margin is the score difference (up to the two decimal
    // sums being cast to double separately)
    lastRound.foreach { r =>
      val diff = score(r.getAs[Long]("chosen_id")) -
        score(r.getAs[Long]("rejected_id"))
      assert(math.abs(diff - r.getAs[Double]("margin")) < 1e-9,
        s"margin vs score diff mismatch for pair ${r.getAs[Int]("pair_id")}")
    }
  }

  test("best-of-n keeps exactly one argmax per prompt group") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.operators.Preference.bestOfN(docs, groupSize = 4).collect()
    val byGroup = out.groupBy(_.getAs[Long]("group_id"))
    byGroup.foreach { case (g, rows) =>
      assert(rows.length <= 4)
      val best = rows.filter(_.getAs[Boolean]("is_best"))
      assert(best.length == 1, s"group $g must keep exactly one")
      val expect = rows.minBy(r =>
        (-r.getAs[Double]("score"), r.getAs[Long]("doc_id")))
      assert(best.head.getAs[Long]("doc_id") == expect.getAs[Long]("doc_id"))
    }
  }

  test("doc influence: aligned docs help the target, disjoint docs hurt") {
    // target = doc 1 ("a a b"); doc 2 duplicates it, doc 3 shares no
    // vocab. Removing an aligned doc must RAISE the target loss
    // (delta > 0); removing a disjoint doc must LOWER it.
    val out = graft.operators.Mixture
      .docAblation(docsDF(1L -> "a a b", 2L -> "a a b", 3L -> "z z z"),
        col("doc_id") === 1L)
      .orderBy("doc_id").collect()
    val delta = out.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Double]("delta")).toMap
    assert(delta(2L) > 0.0, "removing the aligned doc should hurt")
    assert(delta(3L) < 0.0, "removing the disjoint doc should help")
    assert(delta(1L) == delta(2L), "identical docs get identical deltas")
    // hand-computed: A=10, N=9, n_tgt=3, B_2=5, n_2=3
    val lf = 1.0 - (10.0 / 9.0) / 3.0
    val lw = 1.0 - (5.0 / 6.0) / 3.0
    assert(math.abs(delta(2L) - (lw - lf)) < 1e-12)
  }

  test("curriculum schedule: root pacing unlocks exact prefixes") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.operators.Sampling.curriculumSchedule(docs, phases = 10)
      .collect()
    val n = out.length
    assert(out.map(_.getAs[Long]("rank")).sorted.toSeq ==
      (1L to n).toSeq, "rank is not a permutation")
    // easiest-first: rank order is (n_tok, doc_id) order
    out.sortBy(_.getAs[Long]("rank")).sliding(2).foreach { w =>
      val ka = (w(0).getAs[Long]("n_tok"), w(0).getAs[Long]("doc_id"))
      val kb = (w(1).getAs[Long]("n_tok"), w(1).getAs[Long]("doc_id"))
      assert(Ordering[(Long, Long)].lt(ka, kb),
        "rank order must follow (n_tok, doc_id)")
    }
    // each phase p unlocks exactly the floor(N*sqrt(p/10)) easiest
    // docs; at p = 10 that is the whole corpus
    (1 to 10).foreach { p =>
      val unlocked = out.count(_.getAs[Int]("first_phase") <= p)
      assert(unlocked == math.floor(n * math.sqrt(p / 10.0)).toLong,
        s"phase $p prefix size")
    }
    assert(out.forall(r => {
      val fp = r.getAs[Int]("first_phase"); fp >= 1 && fp <= 10
    }))
  }

  test("bm25: shared rare terms outrank common ones, disjoint docs absent") {
    val docs = docsDF(
      0L -> "zebra quark the the",      // query
      1L -> "zebra quark something else", // shares both rare terms
      2L -> "the the the common words",   // shares only the stopword
      3L -> "entirely disjoint content here")
    val out = graft.operators.Retrieval
      .bm25MoreLikeThis(docs, nQueries = 1L, k = 3).collect()
    assert(out.forall(_.getAs[Long]("q_id") == 0L))
    assert(!out.exists(_.getAs[Long]("doc_id") == 0L), "self excluded")
    assert(!out.exists(_.getAs[Long]("doc_id") == 3L),
      "no shared term, never a candidate")
    val byRank = out.sortBy(_.getAs[Int]("rank"))
      .map(_.getAs[Long]("doc_id")).toSeq
    assert(byRank.head == 1L, "two rare shared terms must outrank one stopword")
    assert(byRank.contains(2L))
    // scores strictly ordered with rank
    val scores = out.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("score"))
    assert(scores.sliding(2).forall(w => w(0) >= w(1)))
  }

  test("vocab coverage: hand-computed checkpoints") {
    // freqs: a=3, b=2, c=1 → top-1 covers 3/6, top-2 covers 5/6
    val out = graft.operators.TextAnalysis
      .vocabCoverage(docsDF(1L -> "a a a b b c"), Seq(1, 2)).head()
    assert(out.getAs[Long]("cov_1") == 3L)
    assert(out.getAs[Long]("cov_2") == 5L)
    assert(out.getAs[Long]("total_tokens") == 6L)
    assert(out.getAs[Long]("vocab_size") == 3L)
    assert(out.getAs[Double]("frac_1") == 0.5)
    assert(out.getAs[Double]("frac_2") == 5.0 / 6.0)
  }

  test("rank-sum drift: shifted slice flags, identical slices score zero") {
    import spark.implicits._
    // key "shift": A = {1..10}, B = {101..110} → A's U is 0, z < 0
    // key "same": A and B are the identical set → U = n²/2, z = 0
    val rows =
      (1 to 10).map(i => ("shift", i.toDouble, i * 2L)) ++        // A (even)
      (1 to 10).map(i => ("shift", 100.0 + i, i * 2L + 1L)) ++     // B (odd)
      (1 to 10).map(i => ("same", i.toDouble, i * 2L)) ++
      (1 to 10).map(i => ("same", i.toDouble, i * 2L + 1L))
    val df = rows.toDF("k", "v", "id")
    val out = graft.operators.Drift
      .rankSumDrift(df, "k", "v", col("id") % 2 === 0)
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    val shift = out("shift")
    assert(shift.getAs[Long]("n_a") == 10L && shift.getAs[Long]("n_b") == 10L)
    assert(shift.getAs[Double]("u_a") == 0.0, "A entirely below B")
    assert(shift.getAs[Double]("u_b") == 100.0)
    assert(shift.getAs[Double]("z") < -3.0, "shift must flag")
    val same = out("same")
    assert(same.getAs[Double]("u_a") == 50.0)
    assert(same.getAs[Double]("z") == 0.0, "identical slices: exact zero")
  }

  test("containment pairs: embedded doc flags one direction only") {
    val big = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val small = "delta epsilon zeta eta theta iota" // contiguous slice of big
    val out = graft.operators.Dedup
      .containmentPairs(docsDF(1L -> big, 2L -> small,
        3L -> "completely unrelated words here today"), n = 3,
        threshold = 0.9)
      .collect()
    // small ⊂ big: every 3-shingle of doc 2 appears in doc 1
    val fwd = out.find(r =>
      r.getAs[Long]("id_a") == 2L && r.getAs[Long]("id_b") == 1L)
    assert(fwd.isDefined, "contained doc must flag toward its container")
    assert(fwd.get.getAs[Double]("containment") == 1.0)
    // the container is NOT contained in the fragment
    assert(!out.exists(r =>
      r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L))
    // unrelated doc never pairs
    assert(!out.exists(r => r.getAs[Long]("id_a") == 3L ||
      r.getAs[Long]("id_b") == 3L))
    // Jaccard misses this pair at the same threshold: sizes differ 3×
    val jac = graft.operators.Dedup
      .jaccardPairs(docsDF(1L -> big, 2L -> small), 3, 0.9).collect()
    assert(jac.isEmpty, "symmetric Jaccard cannot see the embedding")
  }

  test("k-anonymity classes: small classes flagged with exact suppression") {
    import spark.implicits._
    val df = (Seq.fill(7)(("a", 1L)) ++ Seq.fill(3)(("a", 2L)) ++
      Seq.fill(5)(("b", 1L))).toDF("t", "q")
    val out = graft.operators.Privacy
      .kAnonymityClasses(df, Seq(col("t"), col("q")), k = 5L)
      .collect()
      .map(r => (r.getAs[String]("t"), r.getAs[Long]("q")) ->
        ((r.getAs[Long]("class_size"), r.getAs[Boolean]("anonymous"),
          r.getAs[Long]("suppressed_rows")))).toMap
    assert(out(("a", 1L)) == ((7L, true, 0L)))
    assert(out(("a", 2L)) == ((3L, false, 3L)))
    assert(out(("b", 1L)) == ((5L, true, 0L)))
  }

  test("oov monitor equals the per-doc fit summed by source") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val TA = graft.operators.TextAnalysis
    val bySource = TA.oovBySource(docs, TA.fitVocab(docs, 64)).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_terms"), r.getAs[Long]("n_oov")))).toMap
    val perDoc = TA.fitVocabOovRate(docs, 64)
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(sum(col("n_terms")).as("nt"), sum(col("n_oov")).as("no"))
      .collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("nt"), r.getAs[Long]("no")))).toMap
    assert(bySource == perDoc)
  }

  test("attention segments tile each context and match the manifest") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val segs = graft.operators.Packing.attentionSegments(docs, 512L)
      .collect().groupBy(_.getAs[Long]("chunk_id"))
    val manifest = graft.operators.Packing.contextManifest(docs, 512L)
      .collect().map(r => r.getAs[Long]("chunk_id") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))).toMap
    assert(segs.keySet == manifest.keySet)
    val lastChunk = segs.keys.max
    segs.foreach { case (cid, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("seg_idx"))
      assert(sorted.head.getAs[Long]("seg_start") == 0L,
        s"chunk $cid must start at offset 0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("seg_start") + a.getAs[Long]("seg_len") ==
            b.getAs[Long]("seg_start"), s"chunk $cid segments must tile")
        case _ =>
      }
      val end = sorted.last.getAs[Long]("seg_start") +
        sorted.last.getAs[Long]("seg_len")
      if (cid != lastChunk) assert(end == 512L, s"chunk $cid must fill")
      // cross-check the aggregate manifest
      val (nDocs, nTok) = manifest(cid)
      assert(rows.length.toLong == nDocs)
      assert(rows.map(_.getAs[Long]("seg_len")).sum == nTok)
      assert(rows.forall(_.getAs[Long]("seg_len") > 0))
    }
  }

  test("calibration deciles: equal population, informative top-vs-bottom") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.operators.QualityModel
      .calibrationBins(docs, Seq("src0", "src1", "src2", "src3", "src4"))
      .orderBy("bin").collect()
    assert(out.length == 10)
    val n = out.map(_.getAs[Long]("n_docs")).sum
    val sizes = out.map(_.getAs[Long]("n_docs"))
    assert(sizes.max - sizes.min <= 1, "deciles must be equal population")
    // mean score is non-increasing down the deciles (rank-ordered bins)
    val avg = out.map(_.getAs[Double]("avg_score"))
    assert(avg.sliding(2).forall(w => w(0) >= w(1)))
    // the trained model separates: top decile more positive than bottom
    assert(out.head.getAs[Double]("pos_rate") >
      out.last.getAs[Double]("pos_rate"))
    assert(n == docs.count())
  }

  test("token budget forecast: requests respect the floor and epochs math") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.operators.Mixture
      .tokenBudgetForecast(docs, targetTokens = 100000L).collect()
    assert(out.length ==
      docs.select("source").distinct().count().toInt)
    val totalReq = out.map(_.getAs[Long]("req_tokens")).sum
    assert(totalReq <= 100000L, "micro-unit floors never over-allocate")
    assert(totalReq > 95000L, "weights sum to ~1, floors lose little")
    out.foreach { r =>
      val (avail, req, pm) = (r.getAs[Long]("avail_tokens"),
        r.getAs[Long]("req_tokens"), r.getAs[Long]("epochs_pm"))
      assert(pm == 1000L * req / avail, "epochs arithmetic must be exact")
      assert(avail > 0)
    }
    // a 100k-token budget over a ~20k-token corpus must over-epoch
    assert(out.exists(_.getAs[Long]("epochs_pm") > 1000L))
  }

  test("hybrid rerank: candidates come from bm25, order comes from reward") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val R = graft.operators.Retrieval
    val out = R.hybridRerank(docs, nQueries = 3L, candidateK = 20, k = 5)
      .collect()
    val cands = R.bm25MoreLikeThis(docs, nQueries = 3L, k = 20).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("doc_id")).toSet }
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rows) =>
      assert(rows.length <= 5)
      // every reranked doc was a bm25 candidate
      rows.foreach(r =>
        assert(cands(q).contains(r.getAs[Long]("doc_id"))))
      // rerank order strictly follows reward (ties by bm25 rank)
      val sorted = rows.sortBy(_.getAs[Int]("rerank"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val (ra, rb) = (a.getAs[Double]("reward"), b.getAs[Double]("reward"))
          assert(ra > rb || (ra == rb &&
            a.getAs[Int]("bm25_rank") < b.getAs[Int]("bm25_rank")))
        case _ =>
      }
    }
  }

  test("dedup agreement: containment-only pair counted apart from both-pair") {
    val big = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val out = graft.operators.Dedup.methodAgreement(docsDF(
      1L -> big,
      2L -> "delta epsilon zeta eta theta iota",   // contained, not similar
      3L -> "one two three four five six seven eight nine ten",
      4L -> "one two three four five six seven eight nine ten"), // dup of 3
      n = 3, jt = 0.8, ct = 0.9).head()
    assert(out.getAs[Long]("n_only_containment") == 1L,
      "the embedded fragment is containment-only")
    assert(out.getAs[Long]("n_both") == 1L, "the near-dup pair is in both")
    assert(out.getAs[Long]("n_only_jaccard") == 0L)
    assert(out.getAs[Long]("n_jaccard") == 1L &&
      out.getAs[Long]("n_containment") == 2L)
  }

  test("winsorize bounds: exact order statistics on a 1..100 fixture") {
    import spark.implicits._
    val df = (1 to 100).map(i => ("k", i.toDouble)).toDF("t", "v")
    val out = graft.operators.Drift
      .winsorizeBounds(df, "t", "v", loPct = 1, hiPct = 99).head()
    assert(out.getAs[Long]("n") == 100L)
    assert(out.getAs[Double]("lo_bound") == 1.0)   // rank ceil(1)  = 1
    assert(out.getAs[Double]("hi_bound") == 99.0)  // rank ceil(99) = 99
    assert(out.getAs[Long]("n_below") == 0L)
    assert(out.getAs[Long]("n_above") == 1L)       // only 100 > 99
  }

  test("balanced shards: serpentine assignment evens out token totals") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.operators.Packing.balancedShards(docs, 16).collect()
    assert(out.map(_.getAs[Long]("rank")).sorted.toSeq ==
      (1L to out.length).toSeq)
    val byShard = out.groupBy(_.getAs[Int]("shard"))
      .map { case (s, rs) => s -> rs.map(_.getAs[Long]("n_tok")).sum }
    assert(byShard.keySet == (0 until 16).toSet)
    // serpentine keeps shard totals tight: within a few percent of even
    val (mx, mn) = (byShard.values.max.toDouble, byShard.values.min.toDouble)
    assert(mx / mn < 1.05, s"shard skew too high: $byShard")
    // the serpentine rule itself: ranks 1..16 ascend, 17..32 descend
    val rankToShard = out.map(r =>
      r.getAs[Long]("rank") -> r.getAs[Int]("shard")).toMap
    (1 to 16).foreach(r => assert(rankToShard(r.toLong) == r - 1))
    (17 to 32).foreach(r => assert(rankToShard(r.toLong) == 32 - r))
  }

  test("chi-square drift: a slice scored against its own baseline is zero") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val D = graft.operators.Drift
    val base = D.baselineCounts(ev, "event_type", "value")
    val out = D.chiSquareDrift(ev, base, "event_type", "value").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("observed") == r.getAs[Long]("expected"))
      assert(r.getAs[Double]("contrib") == 0.0)
    }
    // and against a DISJOINT baseline every bucket is a new-bucket alarm
    val none = D.chiSquareDrift(ev,
      base.withColumn("bucket", col("bucket") + 1000000L),
      "event_type", "value").collect()
    assert(none.forall(_.isNullAt(none.head.fieldIndex("expected"))))
  }

  test("gate kappa: one doc per agreement cell gives exactly zero") {
    // ga=quality_ok, gb=gopher_ok — one doc in each of the four cells:
    // both-keep, ga-only (<10 words), gb-only (digit ratio sinks ga),
    // both-drop. Perfectly balanced margins → po = pe = 0.5, kappa = 0.
    val out = graft.operators.TextAnalysis.gateAgreement(docsDF(
      1L -> "the quick brown fox and dog run over hill with some grace",
      2L -> "the cat and dog ran",
      3L -> "the a and of to ab123 cd456 ef789 gh123 ij456",
      4L -> "12345")).head()
    assert(out.getAs[Long]("n") == 4L)
    assert((out.getAs[Long]("n11"), out.getAs[Long]("n10"),
      out.getAs[Long]("n01"), out.getAs[Long]("n00")) == ((1L, 1L, 1L, 1L)))
    assert(out.getAs[Double]("po") == 0.5)
    assert(out.getAs[Double]("pe") == 0.5)
    assert(out.getAs[Double]("kappa") == 0.0)
  }

  test("lang confusion: per-label rows sum and a planted doc routes home") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.operators.TextAnalysis.langConfusion(docs).collect()
    out.groupBy(_.getAs[String]("labeled_lang")).foreach { case (_, rows) =>
      val total = rows.head.getAs[Long]("n_labeled")
      assert(rows.map(_.getAs[Long]("n")).sum == total)
      assert(math.abs(rows.map(_.getAs[Double]("rate")).sum - 1.0) < 1e-9)
    }
    // a doc made of English stopwords must predict 'en'
    val planted = graft.operators.TextAnalysis
      .languageId(docsDF(1L -> "the and of to a the and of")
        .withColumn("lang", lit("en")))
      .head()
    assert(planted.getAs[String]("pred_lang") == "en")
  }

  test("clip monitor on the batch equals the winsorize bound counts") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val D = graft.operators.Drift
    val bounds = D.winsorizeBounds(ev, "event_type", "value")
    val mon = D.clipMonitor(ev,
      bounds.select("event_type", "lo_bound", "hi_bound"),
      "event_type", "value").collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_seen"), r.getAs[Long]("n_below"),
          r.getAs[Long]("n_above")))).toMap
    bounds.collect().foreach { r =>
      val k = r.getAs[String]("event_type")
      val (seen, below, above) = mon(k)
      assert(seen == r.getAs[Long]("n"))
      assert(below == r.getAs[Long]("n_below"))
      assert(above == r.getAs[Long]("n_above"))
    }
  }

  test("release healthcheck: dup, pii, language and size accounting exact") {
    val docs = docsDF(
      1L -> "the cat and dog ran home today again now ok",
      2L -> "the cat and dog ran home today again now ok", // exact dup
      3L -> "contact me at bob@example.com for info please",
      4L -> "12345")
      .withColumn("lang",
        when(col("doc_id") === 4L, lit("de")).otherwise(lit("en")))
    val out = graft.operators.Curation.releaseHealthcheck(docs).head()
    assert(out.getAs[Long]("n_docs") == 4L)
    assert(out.getAs[Long]("n_tokens") == 10L + 10L + 7L + 1L)
    assert(out.getAs[Long]("n_distinct") == 3L)
    assert(out.getAs[Long]("n_langs") == 2L)
    assert(out.getAs[Double]("dup_rate") == 0.25)
    assert(out.getAs[Double]("pii_doc_rate") == 0.25, "the email doc")
    assert(out.getAs[Double]("mean_tokens") == 28.0 / 4.0)
    val (qr, gr) = (out.getAs[Double]("quality_keep_rate"),
      out.getAs[Double]("gopher_keep_rate"))
    assert(qr >= 0.0 && qr <= 1.0 && gr >= 0.0 && gr <= 1.0)
  }

  test("minhash signature is deterministic and has the configured width") {
    val sig = corpus
      .select(TextFunctions.minHashSignature(
        TextFunctions.shingleSet(col("text"), 3), 128).as("sig"))
      .as[Seq[Long]].collect()
    assert(sig.forall(_.size == 128))
    val sig2 = corpus
      .select(TextFunctions.minHashSignature(
        TextFunctions.shingleSet(col("text"), 3), 128).as("sig"))
      .as[Seq[Long]].collect()
    assert(sig.toSeq == sig2.toSeq)
  }
  test("annRecall pins recall and reciprocal rank incl. the total-miss path") {
    // exact top-3 for two queries; approx hits 2/3 for q=0 (true NN at
    // approx rank 2) and NOTHING for q=1 (empty bucket) — the coalesce
    // paths the real corpus never exercises
    val exact = List((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3),
      (1L, 20L, 1), (1L, 21L, 2), (1L, 22L, 3))
      .toDF("q_id", "n_id", "rank")
    val approx = List((0L, 11L, 1), (0L, 10L, 2), (0L, 99L, 3))
      .toDF("q_id", "n_id", "rank")
    val got = Similarity.annRecall(exact, approx)
      .select("q_id", "n_hit", "recall", "rr")
      .as[(Long, Long, Double, Double)].collect().toList.sortBy(_._1)
    assert(got == List(
      (0L, 2L, 2.0 / 3.0, 1.0 / 2.0), // true NN 10 found at rank 2
      (1L, 0L, 0.0, 0.0)))            // index missed q=1 entirely
  }
  test("bitextMarginPairs matches a local naive margin computation") {
    val rng = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)(rng.nextGaussian().toFloat))).toList
    val df = vecs.toDF("id", "embedding")
    val xSide = df.filter(col("id") % 2 === 0)
    val ySide = df.filter(col("id") % 2 === 1)
    val got = Similarity
      .bitextMarginPairs(xSide.filter(col("id") < 10), xSide, ySide, 4)
      .select("x_id", "y_id", "margin")
      .as[(Long, Long, Double)].collect().toList.sortBy(_._1)

    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val xs = vecs.filter(_._1 % 2 == 0)
    val ys = vecs.filter(_._1 % 2 == 1)
    def topK(v: Array[Float], side: List[(Long, Array[Float])]) =
      side.map { case (i, u) => (i, cos(v, u)) }
        .sortBy { case (i, s) => (-s, i) }.take(4)
    val want = xs.filter(_._1 < 10).map { case (xi, xv) =>
      val xtop = topK(xv, ys)
      val sx = xtop.map(_._2).sum
      val best = xtop.map { case (yi, c) =>
        val sy = topK(ys.find(_._1 == yi).get._2, xs).map(_._2).sum
        (yi, c / (sx / 8.0 + sy / 8.0))
      }.sortBy { case (yi, m) => (-m, yi) }.head
      (xi, best._1, best._2)
    }
    assert(got.map(t => (t._1, t._2)) == want.map(t => (t._1, t._2)),
      "mined pair ids diverge from the naive margin argmax")
    got.zip(want).foreach { case ((_, _, gm), (_, _, wm)) =>
      assert(math.abs(gm - wm) < 1e-9,
        s"margin drifted beyond decimal-routing tolerance: $gm vs $wm")
    }
  }
  test("cusumDrift closed form equals the sequential Page recursion") {
    import java.sql.Timestamp
    val rng = new scala.util.Random(11)
    val events = (0 until 300).map { i =>
      (i.toLong, new Timestamp(1700000000000L + i * 1000L),
        if (i % 2 == 0) "a" else "b", rng.nextDouble() * 100.0)
    }
    val df = events.toDF("event_id", "ts", "event_type", "value")
    val got = graft.operators.Drift
      .cusumDrift(df, "event_type", "ts", "value", 55.0, 500.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    // sequential replay: S_i = max(0, S_{i-1} + x_i - k)
    val want = events.groupBy(_._3).map { case (t, es) =>
      var s = 0L; var alarms = 0L; var maxS = 0L
      es.sortBy(e => (e._2.getTime, e._1)).foreach { e =>
        val x = math.floor(e._4 * 1e6).toLong
        s = math.max(0L, s + x - 55000000L)
        if (s > 500000000L) alarms += 1
        maxS = math.max(maxS, s)
      }
      t -> ((es.size.toLong, alarms, maxS))
    }
    assert(got == want)
  }

  test("cusumDrift: a quiet key never alarms and reports a NULL first-alarm ts") {
    import java.sql.Timestamp
    val df = (0 until 50).map(i =>
      (i.toLong, new Timestamp(1700000000000L + i * 1000L), "quiet", 1.0))
      .toDF("event_id", "ts", "event_type", "value")
    val r = graft.operators.Drift
      .cusumDrift(df, "event_type", "ts", "value", 55.0, 500.0)
      .collect().head
    assert(r.getLong(2) == 0L && r.isNullAt(3) && r.getLong(4) == 0L)
  }

  test("ksDrift: max ECDF gap and critical value on a hand-computed fixture") {
    import spark.implicits._
    // slice A (even ids): values 0,0,1,2 -> ECDF at bins 0,1,2 = 2/4,3/4,4/4
    // slice B (odd ids):  values 1,2,2,3 -> ECDF = 0/4,1/4,3/4,4/4
    // gaps: |.5-0|=.5, |.75-.25|=.5, |1-.75|=.25, |1-1|=0 -> D=0.5
    val rows = Seq(
      (0L, "t1", 0.2), (2L, "t1", 0.7), (4L, "t1", 1.5), (6L, "t1", 2.1),
      (1L, "t1", 1.9), (3L, "t1", 2.0), (5L, "t1", 2.8), (7L, "t1", 3.4),
      // t2 lives entirely in slice A -> NULL ks/crit/drifted
      (8L, "t2", 1.0), (10L, "t2", 2.0))
      .toDF("event_id", "event_type", "value")
    val got = graft.operators.Drift
      .ksDrift(rows, "event_type", "value", col("event_id") % 2 === 0)
      .orderBy("event_type").collect()
    val t1 = got(0)
    assert((t1.getLong(1), t1.getLong(2), t1.getLong(3)) == ((4L, 4L, 4L)))
    assert(t1.getDouble(4) == 0.5)
    val crit = 1.358 * math.sqrt(8.0 / 16.0)
    assert(t1.getDouble(5) == crit)
    assert(!t1.getBoolean(6), "D=0.5 under the n=4 critical value ~0.96")
    val t2 = got(1)
    assert(t2.getLong(1) == 2L && t2.getLong(2) == 0L)
    assert(t2.isNullAt(4) && t2.isNullAt(5) && t2.isNullAt(6),
      "single-slice key must report NULL, never Infinity")
  }
}
