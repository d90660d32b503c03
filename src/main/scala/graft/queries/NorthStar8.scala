package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-12 continuation: the trained-artifact LIFECYCLE (model state
  * passing through a versioned on-disk store between the train job and
  * the apply job — the production half the in-process batch-train →
  * streaming-apply gates never exercised), plus the distribution-QA
  * statistics that round out the drift family (Hellinger mass overlap,
  * MAD robust bounds, per-source shape distance) and the dedup-index
  * acceptance eval (MinHash estimate vs exact Jaccard).
  */
object NorthStar8 extends QueryGroup {

  /** Versioned model artifact roundtrip — train → write v1 and v2 to a
    * partitioned parquet store → load the LATEST back with a FRESH
    * disk read (no lineage to the training frames) → apply. v1 is
    * trained on HALF the data, v2 on all of it, so selecting the wrong
    * version produces different bounds and a hash mismatch — the
    * version-selection logic is itself under the oracle. The result is
    * localCheckpoint-materialized before the temp store is deleted
    * (the returned plan must not dangle on a removed directory).
    */
  private val artifactLifecycle = Q(
    "n115_artifact_lifecycle",
    "versioned model artifact roundtrip: train v1/v2 winsorize bounds, write to disk, load LATEST, clip-report",
    (s, dir) => graft.Scratch.withDir("graft_n115_") { base =>
      val art = new java.io.File(base, "bounds").getAbsolutePath
      val ev = Tables(s, dir).events
      def bounds(df: DataFrame) = graft.operators.Drift
        .winsorizeBounds(df, "event_type", "value")
        .select("event_type", "lo_bound", "hi_bound")
      graft.operators.ModelArtifacts.writeVersion(
        bounds(ev.filter(col("event_id") % 2 === 0)), art, 1)
      graft.operators.ModelArtifacts.writeVersion(bounds(ev), art, 2)
      val model = graft.operators.ModelArtifacts.loadLatest(s, art)
      ev.select(col("event_type"), col("value").as("v"))
        .join(broadcast(model), Seq("event_type"), "left")
        .groupBy(col("event_type"), col("version"),
          col("lo_bound"), col("hi_bound"))
        .agg(count(lit(1)).as("n_seen"),
          sum(when(col("v") < col("lo_bound"), 1L).otherwise(0L))
            .as("n_below"),
          sum(when(col("v") > col("hi_bound"), 1L).otherwise(0L))
            .as("n_above"))
        .orderBy("event_type")
        .localCheckpoint()
    },
    Some("""WITH r AS (
              SELECT event_type, value AS v,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY value) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM events),
            b AS (
              SELECT event_type,
                MIN(CASE WHEN rn = GREATEST(1, (n * 1 + 99) // 100)
                    THEN v END) AS lo_bound,
                MIN(CASE WHEN rn = (n * 99 + 99) // 100
                    THEN v END) AS hi_bound
              FROM r GROUP BY event_type, n)
            SELECT e.event_type, CAST(2 AS INT) AS version,
              lo_bound, hi_bound,
              CAST(COUNT(*) AS BIGINT) AS n_seen,
              CAST(SUM(CASE WHEN value < lo_bound THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below,
              CAST(SUM(CASE WHEN value > hi_bound THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above
            FROM events e JOIN b USING (event_type)
            GROUP BY e.event_type, lo_bound, hi_bound
            ORDER BY event_type"""))

  /** The n116 oracle, shared with s35's streaming convergence replay
    * (the ksOracleSql pattern — one replay definition of the
    * statistic). Even/odd event split, the n88/s29 convention.
    */
  private[queries] val hellingerOracleSql: String =
    s"""WITH b AS (
              SELECT event_type, CAST(FLOOR(value) AS BIGINT) AS bin,
                CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
                CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
            a AS (
              SELECT event_type,
                CAST(SUM(ca) AS BIGINT) AS n_a,
                CAST(SUM(cb) AS BIGINT) AS n_b,
                CAST(COUNT(*) AS BIGINT) AS n_bins,
                ${Sql.oSum12("sqrt(CAST(ca * cb AS DOUBLE))")} AS bc_sum
              FROM b GROUP BY event_type)
            SELECT event_type, n_a, n_b, n_bins,
              CASE WHEN n_a > 0 AND n_b > 0 THEN
                bc_sum / sqrt(CAST(n_a * n_b AS DOUBLE)) END AS bc,
              CASE WHEN n_a > 0 AND n_b > 0 THEN
                1.0 - bc_sum / sqrt(CAST(n_a * n_b AS DOUBLE))
              END AS hellinger_sq
            FROM a ORDER BY event_type"""

  /** Binned squared Hellinger distance between the even/odd event
    * slices — the mass-overlap companion of n111's KS (worst single
    * gap) over the SAME ksBinCounts half.
    */
  private val hellinger = Q(
    "n116_hellinger_drift",
    "binned squared Hellinger drift per event type (1 - Bhattacharyya coefficient, decimal-routed)",
    (s, dir) => graft.operators.Drift
      .hellingerDrift(Tables(s, dir).events, "event_type", "value",
        col("event_id") % 2 === 0)
      .orderBy("event_type"),
    Some(hellingerOracleSql))

  /** Median ± 3·MAD robust outlier bounds per event type — the
    * heavy-tail-immune companion of n96's P1/P99 winsorize gate.
    */
  private val mad = Q(
    "n117_mad_bounds",
    "median +- 3*MAD robust outlier bounds per event type (rank-exact, tie-stable) with clip counts",
    (s, dir) => graft.operators.Drift
      .madBounds(Tables(s, dir).events, "event_type", "value")
      .orderBy("event_type"),
    Some("""WITH r AS (
              SELECT event_type, value AS v,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY value) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM events WHERE value IS NOT NULL),
            m AS (
              SELECT event_type, n,
                MIN(CASE WHEN rn = (n + 1) // 2 THEN v END) AS med
              FROM r GROUP BY event_type, n),
            rd AS (
              SELECT e.event_type, m.n, m.med, abs(e.value - m.med) AS d,
                row_number() OVER (PARTITION BY e.event_type
                  ORDER BY abs(e.value - m.med)) AS rn
              FROM events e JOIN m USING (event_type)
              WHERE e.value IS NOT NULL),
            md AS (
              SELECT event_type, n, med,
                MIN(CASE WHEN rn = (n + 1) // 2 THEN d END) AS mad
              FROM rd GROUP BY event_type, n, med),
            b AS (
              SELECT event_type, n, med, mad,
                med - 3.0 * mad AS lo_bound,
                med + 3.0 * mad AS hi_bound
              FROM md)
            SELECT e.event_type, n, med, mad, lo_bound, hi_bound,
              CAST(SUM(CASE WHEN value < lo_bound THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below,
              CAST(SUM(CASE WHEN value > hi_bound THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above
            FROM events e JOIN b USING (event_type)
            WHERE e.value IS NOT NULL
            GROUP BY e.event_type, n, med, mad, lo_bound, hi_bound
            ORDER BY event_type"""))

  /** Per-source token-length-distribution TVD against the corpus —
    * the shape-distance card.
    */
  private val lengthTvd = Q(
    "n118_source_length_tvd",
    "per-source total variation distance of the token-length-bin distribution vs the corpus (cross-multiplied exact integers)",
    (s, dir) => graft.operators.TextAnalysis
      .sourceLengthTvd(Tables(s, dir).documents)
      .orderBy("source"),
    Some("""WITH t AS (
              SELECT source,
                CAST(len(string_split(text, ' ')) AS BIGINT) // 10 AS bin
              FROM documents
              WHERE len(string_split(text, ' ')) IS NOT NULL),
            sb AS (SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS c_s
                   FROM t GROUP BY 1, 2),
            cb AS (SELECT bin, CAST(SUM(c_s) AS BIGINT) AS c_a
                   FROM sb GROUP BY bin),
            st AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS n_s
                   FROM sb GROUP BY source),
            ct AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_a FROM cb),
            grid AS (
              SELECT st.source, cb.bin, st.n_s, cb.c_a, ct.n_a,
                COALESCE(sb.c_s, 0) AS c_s
              FROM st CROSS JOIN cb CROSS JOIN ct
              LEFT JOIN sb ON sb.source = st.source AND sb.bin = cb.bin)
            SELECT source, n_s AS n_docs,
              CAST(COUNT(*) AS BIGINT) AS n_bins,
              CAST(CAST(SUM(abs(
                    CAST(c_s AS DECIMAL(18,0)) * CAST(n_a AS DECIMAL(18,0))
                  - CAST(c_a AS DECIMAL(18,0)) * CAST(n_s AS DECIMAL(18,0))))
                  AS VARCHAR)
                AS DOUBLE)
                / (2.0 * CAST(n_s AS DOUBLE) * CAST(n_a AS DOUBLE)) AS tvd
            FROM grid GROUP BY source, n_s, n_a ORDER BY source"""))

  /** MinHash estimate vs exact Jaccard over the portable LSH
    * candidates — the dedup-index acceptance eval.
    */
  private val minhashEval = Q(
    "n119_minhash_error_eval",
    "MinHash index acceptance: per-candidate-pair Jaccard estimate (16 hashes) vs exact, with absolute error",
    (s, dir) => graft.operators.Dedup
      .minhashEstimateEval(Tables(s, dir).documents)
      .orderBy("id_a", "id_b"),
    Some("""WITH d AS (
              SELECT doc_id,
                string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                  ' ') AS ts
              FROM documents),
            sh AS (
              SELECT DISTINCT doc_id,
                array_to_string(ts[(i+1):(i+3)], ' ') AS s
              FROM (SELECT doc_id, ts, unnest(range(len(ts) - 2)) AS i
                    FROM d WHERE len(ts) >= 3)),
            mh AS (
              SELECT doc_id, i,
                MIN(substr(md5(CAST(i AS VARCHAR) || '|' || s), 1, 15)) AS mh
              FROM (SELECT doc_id, s, unnest(range(16)) AS i FROM sh)
              GROUP BY doc_id, i),
            bands AS (
              SELECT doc_id, i // 2 AS band_id,
                string_agg(mh, '-' ORDER BY i) AS band_key
              FROM mh GROUP BY doc_id, i // 2),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id),
            est AS (
              SELECT id_a, id_b,
                CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_match
              FROM cand
              JOIN mh ma ON ma.doc_id = id_a
              JOIN mh mb ON mb.doc_id = id_b AND mb.i = ma.i
              GROUP BY id_a, id_b),
            ss AS (SELECT doc_id, list(s) AS ls FROM sh GROUP BY doc_id),
            ex AS (
              SELECT id_a, id_b,
                CAST(len(list_filter(sa.ls, x -> list_contains(sb.ls, x)))
                  AS BIGINT) AS n_inter,
                CAST(len(sa.ls) + len(sb.ls)
                  - len(list_filter(sa.ls, x -> list_contains(sb.ls, x)))
                  AS BIGINT) AS n_union
              FROM cand
              JOIN ss sa ON sa.doc_id = id_a
              JOIN ss sb ON sb.doc_id = id_b)
            SELECT e.id_a, e.id_b, n_match,
              CAST(n_match AS DOUBLE) / 16 AS est_jaccard,
              n_inter, n_union,
              CAST(n_inter AS DOUBLE) / n_union AS exact_jaccard,
              abs(CAST(n_match AS DOUBLE) / 16
                - CAST(n_inter AS DOUBLE) / n_union) AS abs_err
            FROM est e JOIN ex USING (id_a, id_b)
            ORDER BY id_a, id_b"""))

  /** Recall-vs-cost curve of the IVF index across nProbe — the tuning
    * sweep that picks the probe count BEFORE a 100 TB index ships: one
    * brute ground-truth pass (the n05/n101 broadcast-query scan, taken
    * once), one IVF ranking per probe setting, and the n101 recall/rr
    * join per setting — evaluation joins touch only Q·k lists. Recall
    * is monotone in nProbe by construction (more probes only add
    * candidates); the per-query rows name the vectors a low setting
    * fails on.
    */
  private val nprobeSweep = {
    val ps = Seq(1, 2, 4)
    Q(
      "n120_ivf_nprobe_sweep",
      "IVF index tuning curve: per-query recall@10 + reciprocal rank at nProbe in {1,2,4} vs brute force",
      (s, dir) => {
        val S = graft.operators.Similarity
        val emb = Tables(s, dir).embeddings
          .select(col("vec_id").as("id"), col("embedding"))
        val q = emb.filter(col("id") < 10)
        // both Q·k-sized frames feed one recall join PER SETTING —
        // persisted so the ground-truth corpus pass and the sweep's
        // shared assignment/scoring run once, not once per setting
        val exact = S.bruteTopK(q, emb, 10)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sweep = S.ivfProbeSweep(q, emb, 10, ps)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        graft.DiamondCaches.register(exact,
          graft.DiamondCaches.register(sweep,
            ps.map { p =>
              S.annRecall(exact, sweep.filter(col("n_probe") === p))
                .withColumn("n_probe", lit(p))
            }.reduce(_.unionByName(_))
              .select("n_probe", "q_id", "n_hit", "recall", "rr")
              .orderBy("n_probe", "q_id")))
      },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
                          FROM embeddings WHERE vec_id < 10),
            ex_ranked AS (
              SELECT q_id, n_id,
                row_number() OVER (PARTITION BY q_id
                  ORDER BY cos_sim DESC, n_id ASC) AS rank
              FROM (SELECT q_id, e.vec_id AS n_id,
                      ${Sql.oCos("q_emb", "e.embedding")} AS cos_sim
                    FROM embeddings e CROSS JOIN q
                    WHERE e.vec_id <> q_id)),
            exact AS (SELECT q_id, n_id, rank FROM ex_ranked
                      WHERE rank <= 10),
            cents AS (SELECT vec_id AS cent_id, embedding AS c_emb
                      FROM embeddings WHERE vec_id < 16),
            assign AS (
              SELECT n_id, cent_id FROM (
                SELECT n_id, cent_id,
                  row_number() OVER (PARTITION BY n_id
                    ORDER BY s DESC, cent_id ASC) AS rn
                FROM (SELECT e.vec_id AS n_id, c.cent_id,
                        ${Sql.oCos("e.embedding", "c.c_emb")} AS s
                      FROM embeddings e CROSS JOIN cents c))
              WHERE rn = 1),
            probe_rank AS (
              SELECT q_id, cent_id, rn FROM (
                SELECT q_id, cent_id,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY s DESC, cent_id ASC) AS rn
                FROM (SELECT e.vec_id AS q_id, c.cent_id,
                        ${Sql.oCos("e.embedding", "c.c_emb")} AS s
                      FROM embeddings e CROSS JOIN cents c
                      WHERE e.vec_id < 10))
              WHERE rn <= ${ps.max}),
            ps(n_probe) AS (VALUES ${ps.map(p => s"($p)").mkString(", ")}),
            cand AS (
              SELECT DISTINCT ps.n_probe, pr.q_id, a.n_id
              FROM ps
              JOIN probe_rank pr ON pr.rn <= ps.n_probe
              JOIN assign a USING (cent_id)
              WHERE a.n_id <> pr.q_id),
            ranked AS (
              SELECT n_probe, q_id, n_id,
                row_number() OVER (PARTITION BY n_probe, q_id
                  ORDER BY cos_sim DESC, n_id ASC) AS rank
              FROM (SELECT n_probe, q_id, n_id,
                      ${Sql.oCos("qe.embedding", "ne.embedding")} AS cos_sim
                    FROM cand
                    JOIN embeddings qe ON qe.vec_id = q_id
                    JOIN embeddings ne ON ne.vec_id = n_id)),
            approx AS (SELECT n_probe, q_id, n_id, rank FROM ranked
                       WHERE rank <= 10),
            scaffold AS (
              SELECT ps.n_probe, q.q_id
              FROM ps CROSS JOIN (SELECT DISTINCT q_id FROM exact) q),
            nx AS (SELECT q_id, COUNT(*) AS n_exact FROM exact
                   GROUP BY q_id),
            hit AS (SELECT a.n_probe, a.q_id, COUNT(*) AS n_hit
                    FROM approx a JOIN exact x
                      ON a.q_id = x.q_id AND a.n_id = x.n_id
                    GROUP BY a.n_probe, a.q_id),
            true_nn AS (SELECT q_id, n_id FROM exact WHERE rank = 1),
            rrs AS (
              SELECT s.n_probe, s.q_id,
                COALESCE(CAST(1 AS DOUBLE) / a.rank,
                         CAST(0 AS DOUBLE)) AS rr
              FROM scaffold s
              JOIN true_nn t ON t.q_id = s.q_id
              LEFT JOIN approx a ON a.n_probe = s.n_probe
                AND a.q_id = s.q_id AND a.n_id = t.n_id)
            SELECT CAST(s.n_probe AS INT) AS n_probe, s.q_id,
              COALESCE(h.n_hit, 0) AS n_hit,
              CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
                / CAST(n.n_exact AS DOUBLE) AS recall,
              r.rr
            FROM scaffold s
            JOIN nx n ON n.q_id = s.q_id
            LEFT JOIN hit h ON h.n_probe = s.n_probe AND h.q_id = s.q_id
            JOIN rrs r ON r.n_probe = s.n_probe AND r.q_id = s.q_id
            ORDER BY n_probe, s.q_id"""))
  }

  /** Champion/challenger (shadow) evaluation of two artifact versions:
    * v1 stays PINNED (the serving model — [[graft.operators.ModelArtifacts.loadVersion]]),
    * v2 is the LATEST retrain; both clip gates run over the same feed
    * and the per-type disagreement count is the promote/rollback
    * signal — the production step BETWEEN n115's roundtrip and
    * blindly serving a retrain.
    */
  private val shadowEval = Q(
    "n121_model_shadow_eval",
    "shadow deployment: pinned v1 vs latest v2 bounds artifacts over the same feed, per-type clip disagreement",
    (s, dir) => graft.Scratch.withDir("graft_n121_") { base =>
      val art = new java.io.File(base, "bounds").getAbsolutePath
      val ev = Tables(s, dir).events
      def bounds(df: DataFrame) = graft.operators.Drift
        .winsorizeBounds(df, "event_type", "value")
        .select("event_type", "lo_bound", "hi_bound")
      graft.operators.ModelArtifacts.writeVersion(
        bounds(ev.filter(col("event_id") % 2 === 0)), art, 1)
      graft.operators.ModelArtifacts.writeVersion(bounds(ev), art, 2)
      val v1 = graft.operators.ModelArtifacts.loadVersion(s, art, 1)
        .select(col("event_type"),
          col("lo_bound").as("lo1"), col("hi_bound").as("hi1"))
      val v2 = graft.operators.ModelArtifacts.loadLatest(s, art)
        .select(col("event_type"),
          col("lo_bound").as("lo2"), col("hi_bound").as("hi2"))
      ev.select(col("event_type"), col("value").as("v"))
        .join(broadcast(v1), "event_type")
        .join(broadcast(v2), "event_type")
        .withColumn("out1", col("v") < col("lo1") || col("v") > col("hi1"))
        .withColumn("out2", col("v") < col("lo2") || col("v") > col("hi2"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("out1"), 1L).otherwise(0L)).as("v1_out"),
          sum(when(col("out2"), 1L).otherwise(0L)).as("v2_out"),
          sum(when(col("out1") =!= col("out2"), 1L).otherwise(0L))
            .as("n_disagree"))
        .orderBy("event_type")
        .localCheckpoint()
    },
    Some(shadowOracleSql))

  /** The n121 oracle, shared with s38's streaming convergence replay
    * (the ksOracleSql pattern).
    */
  private[queries] lazy val shadowOracleSql: String =
    """WITH r1 AS (
              SELECT event_type, value AS v,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY value) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM events WHERE event_id % 2 = 0),
            b1 AS (
              SELECT event_type,
                MIN(CASE WHEN rn = GREATEST(1, (n * 1 + 99) // 100)
                    THEN v END) AS lo1,
                MIN(CASE WHEN rn = (n * 99 + 99) // 100
                    THEN v END) AS hi1
              FROM r1 GROUP BY event_type, n),
            r2 AS (
              SELECT event_type, value AS v,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY value) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM events),
            b2 AS (
              SELECT event_type,
                MIN(CASE WHEN rn = GREATEST(1, (n * 1 + 99) // 100)
                    THEN v END) AS lo2,
                MIN(CASE WHEN rn = (n * 99 + 99) // 100
                    THEN v END) AS hi2
              FROM r2 GROUP BY event_type, n)
            SELECT e.event_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN value < lo1 OR value > hi1
                THEN 1 ELSE 0 END) AS BIGINT) AS v1_out,
              CAST(SUM(CASE WHEN value < lo2 OR value > hi2
                THEN 1 ELSE 0 END) AS BIGINT) AS v2_out,
              CAST(SUM(CASE WHEN (value < lo1 OR value > hi1)
                  <> (value < lo2 OR value > hi2)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree
            FROM events e
            JOIN b1 USING (event_type)
            JOIN b2 USING (event_type)
            GROUP BY e.event_type ORDER BY e.event_type"""

  /** The n122 oracle, shared with s37's streaming convergence replay
    * (the ksOracleSql pattern).
    */
  private[queries] val dupCardOracleSql: String =
    """WITH g AS (
              SELECT source,
                substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))),
                  1, 16) AS fp,
                CAST(COUNT(*) AS BIGINT) AS copies
              FROM documents GROUP BY 1, 2)
            SELECT source,
              CAST(SUM(copies) AS BIGINT) AS n_docs,
              CAST(COUNT(*) AS BIGINT) AS n_distinct,
              CAST(SUM(copies) - COUNT(*) AS BIGINT) AS n_dup_docs,
              CAST(MAX(copies) AS BIGINT) AS max_copies,
              CAST(SUM(copies) - COUNT(*) AS DOUBLE)
                / CAST(SUM(copies) AS DOUBLE) AS dup_ratio
            FROM g GROUP BY source ORDER BY source"""

  /** Per-source exact-duplication card — the release-statistics view
    * of n01's fingerprint groups: how much of each feed is copies.
    */
  private val dupCard = Q(
    "n122_source_dup_card",
    "per-source exact-duplicate card: doc count, distinct fingerprints, dup ratio, largest copy group",
    (s, dir) => {
      import graft.functions.TextFunctions.fingerprint
      val fps = Tables(s, dir).documents
        .select(col("source"), fingerprint(col("text")).as("fp"))
        .groupBy("source", "fp").agg(count(lit(1)).as("copies"))
      fps.groupBy("source")
        .agg(sum(col("copies")).as("n_docs"),
          count(lit(1)).as("n_distinct"),
          max(col("copies")).as("max_copies"))
        .withColumn("n_dup_docs", col("n_docs") - col("n_distinct"))
        .withColumn("dup_ratio",
          (col("n_docs") - col("n_distinct")).cast("double") /
            col("n_docs").cast("double"))
        .select("source", "n_docs", "n_distinct", "n_dup_docs",
          "max_copies", "dup_ratio")
        .orderBy("source")
    },
    Some(dupCardOracleSql))

  /** The n123 oracle, shared with s36's streaming convergence replay
    * (the ksOracleSql pattern). Even/odd vec_id split.
    */
  private[queries] val occupancyOracleSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS c_emb
                       FROM embeddings WHERE vec_id < 16),
            assign AS (
              SELECT n_id, cent_id FROM (
                SELECT n_id, cent_id,
                  row_number() OVER (PARTITION BY n_id
                    ORDER BY s DESC, cent_id ASC) AS rn
                FROM (SELECT e.vec_id AS n_id, c.cent_id,
                        ${Sql.oCos("e.embedding", "c.c_emb")} AS s
                      FROM embeddings e CROSS JOIN cents c))
              WHERE rn = 1),
            occ AS (
              SELECT cent_id,
                CAST(SUM(CASE WHEN n_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
                CAST(SUM(CASE WHEN n_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
              FROM assign GROUP BY cent_id),
            tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
                      CAST(SUM(cb) AS BIGINT) AS n_b FROM occ)
            SELECT cent_id, ca, cb, n_a, n_b,
              CASE WHEN n_a > 0 AND n_b > 0 THEN
                abs(CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE)
                  - CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE)) END AS gap
            FROM occ CROSS JOIN tot ORDER BY cent_id"""

  /** Embedding-space drift via centroid-occupancy shift — the drift
    * family applied where the scalar monitors are blind.
    */
  private val embeddingDrift = Q(
    "n123_embedding_occupancy_drift",
    "embedding-space drift: per-centroid occupancy of even vs odd vec_id slices with share gaps",
    (s, dir) => {
      val S = graft.operators.Similarity
      val emb = Tables(s, dir).embeddings
        .select(col("vec_id").as("id"), col("embedding"))
      S.occupancyGapReport(
        S.centOccupancy(emb, col("id") % 2 === 0, S.lowIdCents(emb)))
        .orderBy("cent_id")
    },
    Some(occupancyOracleSql))

  /** Tokenizer-artifact lifecycle: the n65 BPE merges pass through the
    * versioned store between training and application. BPE rounds are
    * prefix-stable, so ONE k=3 training yields both versions (v1 = the
    * first 2 merge rows — exactly the 2-round model; v2 = all 3); the
    * apply side loads the LATEST merge chain from disk (driver-collected
    * in round order — tokenizer model state, bounded by k) and segments
    * the corpus through the SAME
    * [[graft.operators.Tokenizer.segmentationStatsWith]] the retrain
    * path (n66) uses. Selecting v1 changes every source's segmentation
    * → hash mismatch, so version selection sits under the oracle
    * (which replays the full 3-round train + apply chain).
    */
  private val tokenizerArtifact = Q(
    "n124_tokenizer_artifact",
    "versioned BPE-merges artifact: train once, write v1(2 merges)/v2(3), load LATEST, segment the corpus",
    (s, dir) => graft.Scratch.withDir("graft_n124_") { base =>
      val art = new java.io.File(base, "merges").getAbsolutePath
      val T = graft.operators.Tokenizer
      val docs = Tables(s, dir).documents
      val m3 = T.bpeTrainMerges(docs, 3)
      graft.operators.ModelArtifacts.writeVersion(
        m3.filter(col("round") <= 2), art, 1)
      graft.operators.ModelArtifacts.writeVersion(m3, art, 2)
      val loaded = graft.operators.ModelArtifacts.loadLatest(s, art)
        .orderBy("round").select("lhs", "rhs", "version").collect()
      val merges = loaded.map(r => (r.getString(0), r.getString(1))).toSeq
      // merges are plan literals after the collect: the returned plan
      // has no lineage onto the artifact store, so no checkpoint is
      // needed before the temp tree is deleted
      T.segmentationStatsWith(docs, merges)
        .withColumn("version", lit(loaded.head.getInt(2)))
        .select("source", "version", "n_words", "n_symbols",
          "symbols_per_word")
        .orderBy("source")
    },
    Some(s"""WITH v0 AS (
              SELECT COUNT(*) AS c,
                '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS sym
              FROM (SELECT unnest(string_split(text, ' ')) AS w
                    FROM documents)
              WHERE w NOT LIKE '%|%'
              GROUP BY w),
            ${NorthStar4.bpeRound(1)},
            ${NorthStar4.bpeRound(2)},
            ${NorthStar4.bpeRound(3)},
            w0 AS (
              SELECT DISTINCT w,
                '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS sym
              FROM (SELECT unnest(string_split(text, ' ')) AS w
                    FROM documents)
              WHERE w NOT LIKE '%|%'),
            ${NorthStar4.bpeApplyRound(1)},
            ${NorthStar4.bpeApplyRound(2)},
            ${NorthStar4.bpeApplyRound(3)},
            ws AS (
              SELECT w, CAST(len(list_filter(string_split(sym, '|'),
                x -> x != '')) AS INT) AS n_sym
              FROM w3)
            SELECT source, CAST(2 AS INT) AS version,
              COUNT(*) AS n_words,
              CAST(SUM(n_sym) AS BIGINT) AS n_symbols,
              CAST(SUM(n_sym) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                AS symbols_per_word
            FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                  FROM documents) cw
            JOIN ws USING (w)
            GROUP BY source ORDER BY source"""))

  /** Dedup threshold tuning curve — the n120 sweep pattern applied to
    * near-dup dedup: ONE exact candidate generation at the loosest
    * threshold (the AllPairs prefix filter is exact at any threshold,
    * so the 0.7 pair set CONTAINS every tighter set), then per-
    * threshold pair counts / affected-doc counts / mean similarity.
    * This is the curve that picks the merge threshold before a 100 TB
    * dedup run: too loose over-merges (n_docs_affected explodes), too
    * tight leaves mirrors in (n112's leakage). Mean similarity routes
    * through DECIMAL(38,12) (summing quotients — the oSum12 pairing).
    */
  private val thresholdSweep = {
    val ts = Seq(0.7, 0.8, 0.9)
    Q(
      "n125_dedup_threshold_sweep",
      "near-dup threshold tuning curve: pair/affected-doc counts + mean Jaccard at t in {0.7,0.8,0.9} from one candidate pass",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        // pairs feed the per-threshold counts AND the affected-doc
        // explode — persist, the diamond policy
        val pairs = graft.operators.Dedup
          .jaccardPairs(Tables(s, dir).documents, 3, ts.min)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val swept = pairs
          .withColumn("threshold", explode(array(ts.map(lit): _*)))
          .filter(col("jaccard") >= col("threshold"))
        val pairCounts = swept.groupBy("threshold")
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("jaccard").cast(DecimalType(38, 12))).cast("double")
              .as("sum_j"))
        val docCounts = swept
          .select(col("threshold"),
            explode(array(col("id_a"), col("id_b"))).as("d"))
          .distinct()
          .groupBy("threshold").agg(count(lit(1)).as("n_docs_affected"))
        graft.DiamondCaches.register(pairs,
          pairCounts.join(docCounts, "threshold")
            .withColumn("mean_jaccard",
              col("sum_j") / col("n_pairs").cast("double"))
            .select("threshold", "n_pairs", "n_docs_affected", "mean_jaccard")
            .orderBy("threshold"))
      },
      Some(s"""WITH tok AS (
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
                >= ${ts.min}),
            tt(threshold) AS (VALUES ${ts.map(t => s"($t)").mkString(", ")}),
            sw AS (SELECT threshold, id_a, id_b, j
                   FROM tt JOIN jp ON j >= threshold),
            pc AS (
              SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                ${Sql.oSum12("j")} AS sum_j
              FROM sw GROUP BY threshold),
            dc AS (
              SELECT threshold,
                CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs_affected
              FROM (SELECT threshold, id_a AS d FROM sw
                    UNION ALL SELECT threshold, id_b FROM sw)
              GROUP BY threshold)
            SELECT threshold, n_pairs, n_docs_affected,
              sum_j / CAST(n_pairs AS DOUBLE) AS mean_jaccard
            FROM pc JOIN dc USING (threshold)
            ORDER BY threshold"""))
  }

  /** Quality-classifier operating-point curve — the third tuning sweep
    * (n120 index recall, n125 dedup threshold, here the GATE
    * threshold): confusion counts + precision/recall of the n68
    * trained classifier against the source labels at three candidate
    * thresholds. This is the table that picks the gate's operating
    * point before it filters a 100 TB feed — a 0.5 default keeps the
    * wrong precision/recall trade for most mixes. Counts are exact
    * integers; precision/recall are single divisions of exact counts;
    * the scores themselves are the hash-exact n68 values, so threshold
    * comparisons land identically in both engines.
    */
  private val classifierPr = {
    val ts = Seq(0.3, 0.5, 0.7)
    Q(
      "n126_classifier_pr_curve",
      "quality-gate operating points: confusion counts + precision/recall of the n68 classifier at t in {0.3,0.5,0.7}",
      (s, dir) => {
        val scored = graft.operators.QualityModel
          .trainedQualityScores(Tables(s, dir).documents,
            positiveSources = Seq("src0", "src1", "src2", "src3", "src4"),
            iters = 3)
        scored
          .withColumn("threshold", explode(array(ts.map(lit): _*)))
          .withColumn("p", col("score") >= col("threshold"))
          .groupBy("threshold")
          .agg(
            sum(when(col("p") && col("label") === 1, 1L).otherwise(0L))
              .as("tp"),
            sum(when(col("p") && col("label") === 0, 1L).otherwise(0L))
              .as("fp"),
            sum(when(!col("p") && col("label") === 1, 1L).otherwise(0L))
              .as("fn"),
            sum(when(!col("p") && col("label") === 0, 1L).otherwise(0L))
              .as("tn"))
          .withColumn("precision",
            when(col("tp") + col("fp") > 0L,
              col("tp").cast("double") / (col("tp") + col("fp")).cast("double")))
          .withColumn("recall",
            when(col("tp") + col("fn") > 0L,
              col("tp").cast("double") / (col("tp") + col("fn")).cast("double")))
          .orderBy("threshold")
      },
      Some(s"""${NorthStar4.qcCtes},
            sc AS (
              SELECT doc_id, y,
                0.5 + (0.5 * m) / (1.0 + abs(m)) AS score
              FROM m4),
            tt(threshold) AS (VALUES ${ts.map(t => s"($t)").mkString(", ")}),
            cf AS (
              SELECT threshold,
                CAST(SUM(CASE WHEN score >= threshold AND y = 1.0
                  THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                CAST(SUM(CASE WHEN score >= threshold AND y = 0.0
                  THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                CAST(SUM(CASE WHEN score < threshold AND y = 1.0
                  THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                CAST(SUM(CASE WHEN score < threshold AND y = 0.0
                  THEN 1 ELSE 0 END) AS BIGINT) AS tn
              FROM tt CROSS JOIN sc GROUP BY threshold)
            SELECT threshold, tp, fp, fn, tn,
              CASE WHEN tp + fp > 0 THEN
                CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
              CASE WHEN tp + fn > 0 THEN
                CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall
            FROM cf ORDER BY threshold"""))
  }

  val all: Seq[Q] = Seq(artifactLifecycle, hellinger, mad, lengthTvd,
    minhashEval, nprobeSweep, shadowEval, dupCard, embeddingDrift,
    tokenizerArtifact, thresholdSweep, classifierPr)
}
