package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-13 continuation: the artifact lifecycle's retention half
  * (append-only stores must also EXPIRE — prune superseded versions,
  * and a pinned reader of a pruned version must fail loudly, never
  * silently read latest or nothing), and the mergeable-sketch
  * companion of the exact order-statistics cards (the 100 TB
  * percentile path: sketches merge map-side; exact ranks pay a
  * per-key sort).
  */
object NorthStar9 extends QueryGroup {

  /** Versioned-store retention: train and write v1 (quarter feed),
    * v2 (half feed), v3 (full feed) → prune to the newest TWO →
    * serve from the pruned store (pinned v2 + latest v3 — the n121
    * shadow pattern over a store that has actually forgotten v1).
    * The retention CONTRACT is exercised in-query on the real store:
    * pruneVersions must report exactly {1}, and a pinned read of the
    * pruned v1 must throw (the loud-failure mode
    * [[graft.operators.ModelArtifacts.loadVersion]] guarantees) — a
    * store that silently serves a pinned reader nothing, or prunes
    * the wrong partition, fails the query before any row is emitted,
    * and the surviving-version counts ride the result columns under
    * the oracle.
    */
  private val retention = Q(
    "n127_artifact_retention",
    "versioned store retention: write v1/v2/v3, prune to newest 2, pinned-v2 + latest-v3 gates over the pruned store; pinned read of pruned v1 must fail loudly",
    (s, dir) => graft.Scratch.withDir("graft_n127_") { base =>
      val M = graft.operators.ModelArtifacts
      val art = new java.io.File(base, "bounds").getAbsolutePath
      val ev = Tables(s, dir).events
      def bounds(df: DataFrame) = graft.operators.Drift
        .winsorizeBounds(df, "event_type", "value")
        .select("event_type", "lo_bound", "hi_bound")
      M.writeVersion(bounds(ev.filter(col("event_id") % 4 === 0)), art, 1)
      M.writeVersion(bounds(ev.filter(col("event_id") % 2 === 0)), art, 2)
      M.writeVersion(bounds(ev), art, 3)
      val pruned = M.pruneVersions(s, art, keepLatestK = 2)
      require(pruned == Seq(1),
        s"retention must drop exactly version 1, dropped: $pruned")
      val left = M.listVersions(s, art)
      require(left == Seq(2, 3),
        s"store must hold exactly versions 2 and 3, holds: $left")
      // the loud-failure contract, on the real pruned store: a pinned
      // reader of the dropped version must throw, not read nothing
      val failedLoudly =
        try { M.loadVersion(s, art, 1); false }
        catch { case _: IllegalArgumentException => true }
      require(failedLoudly,
        "pinned read of the pruned v1 must fail loudly")
      val pinned = M.loadVersion(s, art, 2)
        .select(col("event_type"),
          col("lo_bound").as("lo2"), col("hi_bound").as("hi2"))
      val latest = M.loadLatest(s, art)
        .select(col("event_type"),
          col("lo_bound").as("lo3"), col("hi_bound").as("hi3"))
      ev.select(col("event_type"), col("value").as("v"))
        .join(broadcast(pinned), "event_type")
        .join(broadcast(latest), "event_type")
        .withColumn("out2", col("v") < col("lo2") || col("v") > col("hi2"))
        .withColumn("out3", col("v") < col("lo3") || col("v") > col("hi3"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("out2"), 1L).otherwise(0L)).as("pinned_out"),
          sum(when(col("out3"), 1L).otherwise(0L)).as("latest_out"),
          sum(when(col("out2") =!= col("out3"), 1L).otherwise(0L))
            .as("n_disagree"))
        .withColumn("n_versions_left", lit(left.size))
        .withColumn("n_pruned", lit(pruned.size))
        .orderBy("event_type")
        .localCheckpoint()
    },
    Some("""WITH r2 AS (
              SELECT event_type, value AS v,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY value) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM events WHERE event_id % 2 = 0),
            b2 AS (
              SELECT event_type,
                MIN(CASE WHEN rn = GREATEST(1, (n * 1 + 99) // 100)
                    THEN v END) AS lo2,
                MIN(CASE WHEN rn = (n * 99 + 99) // 100
                    THEN v END) AS hi2
              FROM r2 GROUP BY event_type, n),
            r3 AS (
              SELECT event_type, value AS v,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY value) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM events),
            b3 AS (
              SELECT event_type,
                MIN(CASE WHEN rn = GREATEST(1, (n * 1 + 99) // 100)
                    THEN v END) AS lo3,
                MIN(CASE WHEN rn = (n * 99 + 99) // 100
                    THEN v END) AS hi3
              FROM r3 GROUP BY event_type, n)
            SELECT e.event_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN value < lo2 OR value > hi2
                THEN 1 ELSE 0 END) AS BIGINT) AS pinned_out,
              CAST(SUM(CASE WHEN value < lo3 OR value > hi3
                THEN 1 ELSE 0 END) AS BIGINT) AS latest_out,
              CAST(SUM(CASE WHEN (value < lo2 OR value > hi2)
                  <> (value < lo3 OR value > hi3)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree,
              CAST(2 AS INT) AS n_versions_left,
              CAST(1 AS INT) AS n_pruned
            FROM events e
            JOIN b2 USING (event_type)
            JOIN b3 USING (event_type)
            GROUP BY e.event_type ORDER BY e.event_type"""))

  /** Per-source token-length percentiles via mergeable quantile
    * sketches — the n114 card's 100 TB path (hash aggregate, no
    * per-key sort). Rows-only BY DESIGN: Greenwald–Khanna returns a
    * data value within the rank-error band, not a cross-engine-exact
    * one (DuckDB's approx_quantile is t-digest) — the q30
    * approx_count_distinct pattern, pinned by RegistryInvariantsSpec;
    * TextAnalysisSketchSpec pins the rank-error bound against the
    * exact n114 values instead of a hash oracle.
    */
  private val lengthSketch = Q(
    "n128_length_percentiles_sketch",
    "per-source token-length p50/p90/p99 via mergeable GK quantile sketches (accuracy 10000) — the n114 card without the per-key sort; rows-only by design",
    (s, dir) => graft.operators.TextAnalysis
      .lengthPercentilesSketch(Tables(s, dir).documents)
      .orderBy("source"),
    None)

  /** The n129 oracle, shared with s39's streaming convergence replay
    * (the ksOracleSql pattern — one replay definition of the card).
    */
  private[queries] lazy val packingOracleSql: String = {
    val ls = graft.operators.Packing.defaultContexts
    s"""WITH b AS (
              SELECT source,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
              FROM documents
              WHERE len(string_split(text, ' ')) IS NOT NULL),
            ls(context_len) AS (VALUES ${
          ls.map(l => s"(CAST($l AS BIGINT))").mkString(", ")}),
            g AS (
              SELECT source, context_len,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
                CAST(SUM((n_tok + context_len - 1) // context_len)
                  AS BIGINT) AS pad_seqs
              FROM b CROSS JOIN ls GROUP BY source, context_len)
            SELECT source, context_len, n_docs, total_tokens,
              pad_seqs,
              pad_seqs * context_len - total_tokens AS pad_waste,
              CAST(total_tokens AS DOUBLE)
                / CAST(pad_seqs * context_len AS DOUBLE) AS pad_efficiency,
              (total_tokens + context_len - 1) // context_len AS concat_seqs,
              ((total_tokens + context_len - 1) // context_len)
                * context_len - total_tokens AS concat_waste,
              CAST(total_tokens AS DOUBLE)
                / CAST(((total_tokens + context_len - 1) // context_len)
                    * context_len AS DOUBLE) AS concat_efficiency
            FROM g ORDER BY source, context_len"""
  }

  /** Packing-policy tuning sweep — the fourth tuning curve (n120 index
    * recall, n125 dedup threshold, n126 gate threshold, here the
    * context length × packing policy): per (source, L), pad-policy vs
    * concat-policy sequence counts and padding waste. Pure integer
    * arithmetic under the hash oracle.
    */
  private val packingSweep = Q(
    "n129_packing_efficiency_sweep",
    "context-length tuning curve: pad-policy vs concat-policy sequence counts + padding waste per source at L in {512,2048,8192}",
    (s, dir) => graft.operators.Packing
      .packingEfficiencySweep(Tables(s, dir).documents,
        graft.operators.Packing.defaultContexts)
      .orderBy("source", "context_len"),
    Some(packingOracleSql))

  /** Train/val/test split leakage — near-dup pairs straddling the hash
    * split boundary (the corpus's own benchmark-contamination mode;
    * n18 checks an EXTERNAL suite, this checks the held-out slices).
    */
  private val splitLeak = Q(
    "n130_split_leakage",
    "near-dup pairs straddling the md5 80/10/10 train/val/test split: pair counts, quarantine doc counts, max Jaccard per split pair",
    (s, dir) => graft.operators.Dedup
      .splitLeakage(Tables(s, dir).documents, 3, 0.8)
      .orderBy("split_a", "split_b"),
    Some("""WITH tok AS (
              SELECT doc_id, list_distinct(
                CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
                     ELSE list_transform(range(len(ts) - 2),
                            i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])
                END) AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS ts
                    FROM documents)),
            ex AS (SELECT doc_id, unnest(sh) AS s FROM tok),
            pi AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            sz AS (SELECT doc_id, len(sh) AS n_sh FROM tok),
            jp AS (
              SELECT id_a, id_b,
                CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS j
              FROM pi
              JOIN sz sa ON id_a = sa.doc_id
              JOIN sz sb ON id_b = sb.doc_id
              WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)
                >= 0.8),
            lab AS (
              SELECT LEAST(spa, spb) AS split_a, GREATEST(spa, spb) AS split_b,
                id_a, id_b, j
              FROM (SELECT id_a, id_b, j,
                      CASE WHEN CAST(('0x' || substr(md5(
                          CAST(id_a AS VARCHAR) || ':split'), 1, 8))
                          AS BIGINT) % 100 < 80 THEN 'train'
                        WHEN CAST(('0x' || substr(md5(
                          CAST(id_a AS VARCHAR) || ':split'), 1, 8))
                          AS BIGINT) % 100 < 90 THEN 'val'
                        ELSE 'test' END AS spa,
                      CASE WHEN CAST(('0x' || substr(md5(
                          CAST(id_b AS VARCHAR) || ':split'), 1, 8))
                          AS BIGINT) % 100 < 80 THEN 'train'
                        WHEN CAST(('0x' || substr(md5(
                          CAST(id_b AS VARCHAR) || ':split'), 1, 8))
                          AS BIGINT) % 100 < 90 THEN 'val'
                        ELSE 'test' END AS spb
                    FROM jp)),
            pa AS (
              SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                MAX(j) AS max_jaccard
              FROM lab GROUP BY split_a, split_b),
            da AS (
              SELECT split_a, split_b,
                CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs
              FROM (SELECT split_a, split_b, id_a AS d FROM lab
                    UNION ALL SELECT split_a, split_b, id_b FROM lab)
              GROUP BY split_a, split_b)
            SELECT split_a, split_b, split_a <> split_b AS cross_split,
              n_pairs, n_docs, max_jaccard
            FROM pa JOIN da USING (split_a, split_b)
            ORDER BY split_a, split_b"""))

  /** Reproducible dataloader plan: per-epoch md5 shuffle + exclusive
    * token prefix sums + contiguous token-balanced shard assignment.
    * Everything under the exact-hash oracle — the md5 draws, the
    * integer prefix sums, and the ceil-division shard rule replay
    * identically in DuckDB.
    */
  private val epochShuffle = Q(
    "n131_epoch_shuffle_plan",
    "deterministic dataloader plan: md5 epoch shuffle, token prefix sums, contiguous token-balanced shard of 8 workers, 2 epochs",
    (s, dir) => graft.operators.Packing
      .epochShufflePlan(Tables(s, dir).documents, epochs = 2, shards = 8)
      .orderBy("epoch", "doc_id"),
    Some("""WITH b AS (
              SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents
              WHERE len(string_split(text, ' ')) IS NOT NULL),
            eps(epoch) AS (VALUES (CAST(0 AS INT)), (CAST(1 AS INT))),
            d AS (
              SELECT epoch, doc_id, n_tokens,
                md5(CAST(doc_id AS VARCHAR) || ':shuffle:'
                    || CAST(epoch AS VARCHAR)) AS draw
              FROM b CROSS JOIN eps),
            r AS (
              SELECT epoch, doc_id, n_tokens,
                CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY epoch
                  ORDER BY draw, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start_off
              FROM d),
            t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS epoch_total
                  FROM b)
            SELECT epoch, doc_id, n_tokens, start_off,
              CAST(start_off // ((epoch_total + 7) // 8) AS INT) AS shard
            FROM r CROSS JOIN t
            ORDER BY epoch, doc_id"""))

  /** Data-constrained-scaling planning card: unique-token supply per
    * source, proportional budget allocation, implied epochs and
    * repeated-token exposure — all BIGINT arithmetic plus two single
    * divisions, fully under the hash oracle.
    */
  private val repetition = Q(
    "n132_repetition_exposure",
    "data-constrained budget card: per-source unique tokens, proportional allocation of a 500k budget, implied epochs + repeated-token fraction",
    (s, dir) => graft.operators.Mixture
      .repetitionExposure(Tables(s, dir).documents, budgetTokens = 500000L)
      .orderBy("source"),
    Some("""WITH b AS (
              SELECT source,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))),
                  1, 16) AS fp
              FROM documents
              WHERE len(string_split(text, ' ')) IS NOT NULL),
            g AS (
              SELECT source, fp,
                CAST(COUNT(*) AS BIGINT) AS copies,
                CAST(MIN(n_tok) AS BIGINT) AS u_tok,
                CAST(SUM(n_tok) AS BIGINT) AS t_tok
              FROM b GROUP BY source, fp),
            s AS (
              SELECT source,
                CAST(SUM(copies) AS BIGINT) AS n_docs,
                CAST(SUM(t_tok) AS BIGINT) AS total_tokens,
                CAST(SUM(u_tok) AS BIGINT) AS unique_tokens
              FROM g GROUP BY source),
            tot AS (SELECT CAST(SUM(unique_tokens) AS BIGINT) AS all_unique
                    FROM s),
            a AS (
              SELECT source, n_docs, total_tokens, unique_tokens,
                (500000 * unique_tokens) // all_unique AS alloc_tokens
              FROM s CROSS JOIN tot)
            SELECT source, n_docs, total_tokens, unique_tokens,
              CAST(total_tokens - unique_tokens AS DOUBLE)
                / CAST(total_tokens AS DOUBLE) AS dup_token_frac,
              alloc_tokens,
              (alloc_tokens + unique_tokens - 1) // unique_tokens AS epochs,
              CASE WHEN alloc_tokens > unique_tokens THEN
                CAST(alloc_tokens - unique_tokens AS DOUBLE)
                  / CAST(alloc_tokens AS DOUBLE)
              ELSE CAST(0 AS DOUBLE) END AS repeat_frac
            FROM a ORDER BY source"""))

  val all: Seq[Q] = Seq(retention, lengthSketch, packingSweep, splitLeak,
    epochShuffle, repetition)
}
