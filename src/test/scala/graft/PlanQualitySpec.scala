package graft

import graft.operators.GlobalOrder
import graft.queries.Registry
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regressions: properties every registered query's
  * physical plan must keep as the registry grows.
  */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  // the cross-SF pair must actually scale the corpus the rule guards:
  // documents/embeddings are 500 rows at BOTH sf0.001 and sf0.01 (the
  // r10 blind spot) and first grow at sf0.1 (5,000 / 2,000)
  private val dirBig = "/root/testdata/sf0.1"

  private val limitRe =
    "(?:TakeOrderedAndProject\\(limit=|GlobalLimit |CollectLimit )(\\d+)".r

  /** Plan a frame WITHOUT executing it. The streaming audit frames
    * are built in audit mode — the run's exact lineage over BATCH
    * leaves of the same files — so `executedPlan` is forceable and
    * real (the batch planner MatchErrors on a watermarked
    * StreamingRelation — the r10 failure). Failures are localized per
    * frame so one bad plan names itself instead of poisoning the
    * sweep.
    */
  private def planOf(name: String,
      df: org.apache.spark.sql.DataFrame): (String, Int, Seq[Long]) = {
    // the single-partition size gate lowered: a micro-batch runs with
    // AQE off, where SmallPlanSinglePartition never fires, so the audit
    // frame keeps the join strategies its stream plans at scale
    GraftSession.withConf(spark,
        "spark.sql.streaming.unsupportedOperationCheck" -> "false",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1024") {
      try {
        val qe = df.queryExecution
        val partitionlessWindows = qe.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }.size
        val plan = qe.executedPlan.toString
        val limits = limitRe.findAllMatchIn(plan).map(_.group(1).toLong).toSeq
        (plan, partitionlessWindows, limits)
      } catch {
        case e: Throwable =>
          fail(s"$name: could not plan the audit frame: $e")
      }
    }
  }

  /** One planning pass over the batch registry, shared by the three
    * whole-registry property tests — some queries run real driver jobs
    * while building their plan (codebook collects, iterative loops), so
    * plan once, assert many.
    */
  private lazy val batchPlans: Seq[(String, String, Int)] =
    Registry.all.filterNot(_.name.matches("s\\d.*")).map { q =>
      val qe = q.run(spark, dir).queryExecution
      val partitionlessWindows = qe.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }.size
      (q.name, qe.executedPlan.toString, partitionlessWindows)
    }

  /** The streaming registry's plans (r9 verdict #1): every s-query's
    * pre-sink frame(s) from [[graft.queries.StreamingQueries.auditFrames]],
    * planned but never executed — the four most expensive bench
    * entries get the same mechanical sweep as the batch registry.
    */
  private lazy val auditFrames = graft.queries.StreamingQueries
    .auditFrames(spark, dir)

  private lazy val streamingPlans: Seq[(String, String, Int, Seq[Long])] =
    auditFrames.flatMap {
      case (name, frames) =>
        frames.zipWithIndex.map { case (f, i) =>
          val (plan, plw, limits) = planOf(s"$name#$i", f)
          (s"$name#$i", plan, plw, limits)
        }
    }

  test("no unintended cartesian product in any registered query plan") {
    // crossJoin(broadcast(...)) plans as BroadcastNestedLoopJoin — the
    // intended shape for tiny query sets; a bare CartesianProduct means
    // a join lost its keys.
    batchPlans.foreach { case (name, plan, _) =>
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n${plan.take(1200)}")
    }
  }

  test("BroadcastNestedLoopJoin only where a tiny side makes it intended") {
    // BNLJ is the right plan for a deliberately tiny non-equi side
    // (brute-force scoring sets, broadcast corpus counts); anywhere
    // else it means a join silently lost its equi-keys. The assertion
    // is set EQUALITY, so both a new BNLJ and a stale whitelist entry
    // fail review here, not at 100 TB.
    val allowed = Set(
      "n05_cosine_topk", "n12_ivf_ann", "n13_cosine_dup_pairs",
      "n20_tfidf_top_terms", "n40_bigram_fluency",
      // ground-truth + IVF-probe sides of the recall eval — the same
      // tiny broadcast query/centroid sets as n05/n12
      "n101_ann_recall_eval",
      // both margin passes are bruteTopK broadcast-query scans
      // (Q, then ≤Q·k candidates)
      "n102_bitext_margin",
      // one-row broadcast scalars (stratum total / leftover; supply
      // totals / the chosen water level; the pooled keep rate) over
      // D-row frames
      "n103_eval_allocation", "n104_token_waterfill",
      "n105_gate_health_wilson",
      // one-row corpus doc-count scalar under the per-term moments
      "n108_term_burstiness",
      // one-row corpus-total / denominator aggregates crossJoined back
      // onto per-row data — the intended broadcast-scalar shape
      // (n59 left this list in r17: the DSIR collapse turned its
      // keep-k crossJoin into a driver-side literal)
      "n61_temperature_mixture",
      // three one-row scalars (A, N, n_tgt) crossJoined onto the D-row
      // per-domain frame — same broadcast-scalar shape (n84 is the
      // same closed form at doc granularity)
      "n72_domain_ablation", "n84_doc_influence",
      // one-row corpus-count scalar driving the pacing boundaries
      "n85_curriculum_schedule",
      // (n86/n94 left this list in r18: the BM25 model collapse turned
      // the (n_docs, avgdl) stats crossJoin into driver-side literals
      // inside the native scoring expression)
      // one-row corpus-count scalar sizing the rank deciles
      "n92_calibration_bins",
      // one-row corpus-count scalars (the keep-k denominator / the
      // negative-draw modulus) crossJoined onto per-row data
      "n75_quality_rank_fusion", "n76_contrastive_triplets",
      // the dense source×bin grid: a B-row corpus-bin frame and a
      // one-row corpus-total scalar crossJoined onto the S-row source
      // totals — all three sides model-sized broadcast by construction
      "n118_source_length_tvd",
      // the n05 brute ground-truth pass + the n12 codebook crossJoins,
      // under the sweep composition
      "n120_ivf_nprobe_sweep",
      // the one-row broadcast codebook crossJoined onto the corpus —
      // the scan-stage occupancy argmax
      "n123_embedding_occupancy_drift",
      // one-row corpus-token-total scalar crossJoined onto the
      // shuffled-prefix-sum frame — the broadcast-scalar shape again
      "n131_epoch_shuffle_plan",
      // one-row all-sources unique-token total onto the S-row card
      "n132_repetition_exposure",
      // the L-row broadcast prototype codebook folded per row — the
      // n123 occupancy shape over label prototypes
      "n135_centroid_silhouette",
      // the bounded JL pair sample (32 vectors) under the < inequality
      // self-join — sample², never corpus²
      "n137_jl_distortion",
      // the one-row mean-vector-energy scalar crossJoined onto the
      // one-row totals — the broadcast-scalar shape
      "n143_embedding_anisotropy",
      // the one-row calibration count and the one-row conformal
      // threshold crossJoined onto per-row data — broadcast scalars
      "n145_conformal_gate",
      // the one-row corpus-token total onto the octave card
      "n146_zipf_octaves",
      // the bounded Two-NN pair sample (64 vectors) under the <>
      // inequality self-join — sample², never corpus² (the n137 rule)
      "n147_twonn_ratios",
      // the same bounded sample under the neighbor-recall self-join
      "n150_jl_neighbor_recall",
      // two broadcast scalars (corpus count for the median rank, the
      // one-row threshold onto the group counts)
      "n154_pass_at_k",
      // the one-row confident-learning threshold pair (t1, t0)
      // crossJoined onto the scored frame — broadcast scalar
      "n155_label_noise_cells")
    val actual = batchPlans
      .filter(_._2.contains("BroadcastNestedLoopJoin")).map(_._1).toSet
    assert(actual == allowed,
      s"BNLJ whitelist drift: unexpected=${actual -- allowed}, stale=${allowed -- actual}")
  }

  test("n152 funnel plan: no per-user collect_list — the skew-safe streaming pass") {
    // the r15 form aggregated collect_list timestamp arrays per user —
    // unbounded per-key state on the events table's natural skew key
    // (one bot user with 10⁷ views = a 10⁷-element buffer in one task).
    // The shipped plan must keep the O(steps)-memory shape: a user-keyed
    // exchange + sort feeding an object-level streaming pass, and no
    // collect_list anywhere.
    val plan = batchPlans.find(_._1 == "n152_event_funnel").get._2
    assert(!plan.contains("collect_list"),
      s"n152 plan regressed to per-user collect_list arrays:\n${plan.take(1200)}")
    assert(plan.contains("MapPartitions"),
      s"n152 plan lost its streaming per-user pass:\n${plan.take(1200)}")
    assert(plan.contains("hashpartitioning(user_id"),
      s"n152 plan lost its user-keyed exchange:\n${plan.take(1200)}")
  }

  test("dup-gram probe joins stay shuffled-hash — the build agg never collects to the driver") {
    // r17: the pos⋈dupGrams probe join is hinted SHUFFLE_HASH because
    // the planner's BroadcastHashJoin collected the full df≥minDf gram
    // aggregate to the driver and built the relation single-threaded
    // (cold 3.49 → 2.65 s at sf0.1), and at corpus scale that set is
    // over the broadcast cap anyway. n55's boiler join deliberately
    // keeps the broadcast (its build side is small at every scale) —
    // only the corpus-proportional build sides are pinned here.
    Seq("n44_dup_span_removal", "n27_dup_ngram_coverage")
      .foreach { name =>
        val plan = batchPlans.find(_._1 == name).get._2
        assert(plan.contains("ShuffledHashJoin"),
          s"$name lost its shuffled-hash probe join:\n${plan.take(1200)}")
      }
  }

  test("n46 PQ-ADC scores through broadcast dist-table joins, not query literals") {
    // the round-4 form collect()ed the query set and embedded per-query
    // ADC tables as plan literals — a capacity cliff at 10⁴+ queries.
    // The scale-safe shape is (q_id, code, dist) broadcast tables joined
    // on the code columns: the plan must show broadcast hash joins.
    val plan = batchPlans.find(_._1 == "n46_pq_ann").get._2
    assert(plan.contains("BroadcastHashJoin"),
      s"n46 plan lost its broadcast dist-table joins:\n${plan.take(1200)}")
  }

  test("no partition-less window function in any registered query plan") {
    // Window.orderBy(...) without partitionBy funnels every row through
    // ONE task — fine at sf0.001, fatal at 100 TB. Global-order analytics
    // must go through GlobalOrder closed forms instead (see q28).
    batchPlans.foreach { case (name, _, offenders) =>
      assert(offenders == 0,
        s"$name plans $offenders partition-less Window(s)")
    }
  }

  test("no corpus-proportional global limit in any registered query plan") {
    // limit(k) with k ∝ corpus size funnels k rows through ONE point
    // (TakeOrderedAndProject / CollectLimit) — invisible at test SF,
    // fatal at 100 TB. Every registered plan's limit must be a FIXED
    // top-k below this bound (the registry's largest deliberate top-k
    // is c08's 100). A corpus-proportional k slips under the bound at
    // sf0.001, so this registry sweep is paired with the operator-level
    // assert below, which pins the one interior plan that class of
    // defect actually shipped in (trainGate round 8).
    val FixedTopKBound = 128L
    val limitRe =
      "(?:TakeOrderedAndProject\\(limit=|GlobalLimit |CollectLimit )(\\d+)".r
    batchPlans.foreach { case (name, plan, _) =>
      limitRe.findAllMatchIn(plan).map(_.group(1).toLong).foreach { n =>
        assert(n <= FixedTopKBound,
          s"$name plans a global limit of $n rows (> $FixedTopKBound): " +
            s"either a corpus-proportional k or an undocumented top-k")
      }
    }
  }

  test("every registered streaming query has a plan-audit entry") {
    val registered = Registry.all.map(_.name).filter(_.matches("s\\d.*")).toSet
    val audited = auditFrames.map(_._1).toSet
    assert(audited == registered,
      s"streaming audit drift: unaudited=${registered -- audited}, " +
        s"stale=${audited -- registered}")
  }

  test("no cartesian product in any streaming query plan") {
    streamingPlans.foreach { case (name, plan, _, _) =>
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n${plan.take(1200)}")
    }
  }

  test("streaming BroadcastNestedLoopJoin only where a tiny side makes it intended") {
    // s15's interior IS n05's brute-force scorer — the deliberately
    // tiny non-equi query side. Everything else in the streaming
    // registry joins on derived equi-keys (band keys, grams, buckets,
    // sources) and must plan hash joins; set equality so both a new
    // BNLJ and a stale entry fail here, not at 100 TB.
    val allowed = Set("s15_stream_vector_search#0",
      // the one-row broadcast codebook crossJoined onto the stream —
      // the scan-stage argmax that makes the monitor stateless
      "s36_stream_embedding_drift#0")
    val actual = streamingPlans
      .filter(_._2.contains("BroadcastNestedLoopJoin")).map(_._1).toSet
    assert(actual == allowed,
      s"streaming BNLJ whitelist drift: unexpected=${actual -- allowed}, " +
        s"stale=${allowed -- actual}")
  }

  test("no partition-less window function in any streaming query plan") {
    streamingPlans.foreach { case (name, _, offenders, _) =>
      assert(offenders == 0,
        s"$name plans $offenders partition-less Window(s)")
    }
  }

  test("no corpus-proportional global limit in any streaming query plan") {
    val FixedTopKBound = 128L
    streamingPlans.foreach { case (name, _, _, limits) =>
      limits.foreach { n =>
        assert(n <= FixedTopKBound,
          s"$name plans a global limit of $n rows (> $FixedTopKBound)")
      }
    }
  }

  test("streaming shuffle-join whitelist: model/dim joins broadcast, corpus-x-corpus joins may merge") {
    // at 100 TB a model/dim join that silently loses its broadcast
    // becomes a full shuffle of the corpus against a table of model
    // state — invisible at test SF, a cluster-melter in production.
    // Only frames whose BOTH sides are corpus-scale may plan a
    // shuffle join (SortMergeJoin/ShuffledHashJoin): s20's index probe
    // and batch-admission joins (batch bands x standing bands, both
    // grow with data) and s22's snapshot-x-changeset merges (the
    // changeset stand-in is corpus-sized; a per-batch slice broadcasts
    // at run time, which only IMPROVES on the audited shape). Set
    // equality, so both a lost broadcast and a stale whitelist entry
    // fail here.
    val allowed = Set(
      "s20_stream_near_dedup#0", "s20_stream_near_dedup#3",
      "s22_stream_snapshot_merge#0", "s22_stream_snapshot_merge#1")
    val actual = streamingPlans.filter { case (_, plan, _, _) =>
      plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
    }.map(_._1).toSet
    assert(actual == allowed,
      s"streaming shuffle-join drift: unexpected=${actual -- allowed}, " +
        s"stale=${allowed -- actual}")
  }

  test("literal-embedded model gates plan ZERO join operators") {
    // s21/s27 score the stream with the trained weights embedded as
    // plan literals (element_at over a typedLit vector) — the gate is
    // pure scan-stage work, which is the cheapest possible 100 TB
    // shape. A join appearing here means the scoring path regressed to
    // shipping model state through a shuffle.
    val literalGates =
      Set("s21_stream_quality_gate#0", "s27_stream_reward_gate#0")
    streamingPlans.filter(p => literalGates.contains(p._1)).foreach {
      case (name, plan, _, _) =>
        assert(!plan.contains("Join"),
          s"$name: the literal-model gate now plans a join:\n${plan.take(1200)}")
    }
    assert(streamingPlans.count(p => literalGates.contains(p._1)) == 2)
  }

  test("streaming limit constants are scale-invariant between sf0.001 and sf0.1") {
    // the batch cross-SF rule's streaming counterpart: the audit-mode
    // frames plan in seconds (stand-in models, no training), so the
    // whole streaming registry replans at an SF where every fixture
    // grows; any interior top-k whose constant tracks the corpus
    // (today the only streaming limit is s28's fixed vocab-64) moves
    // 10-100x and goes red here.
    val at001 = streamingPlans.map(p => p._1 -> p._4.sorted).toMap
    val atBig = graft.queries.StreamingQueries
      .auditFrames(spark, dirBig).flatMap { case (name, frames) =>
        frames.zipWithIndex.map { case (f, i) =>
          val (_, _, limits) = planOf(s"$name#$i", f)
          s"$name#$i" -> limits.sorted
        }
      }.toMap
    assert(atBig.keySet == at001.keySet)
    at001.foreach { case (name, limits) =>
      assert(atBig(name) == limits,
        s"$name: limit constants moved with the corpus — " +
          s"sf0.001=$limits vs sf0.1=${atBig(name)}")
    }
  }

  test("bt reward round plan: keyed aggs + keyed join only — no window, limit, or cartesian") {
    // each Bradley–Terry GD round (the engine under n81/n83/s27/n94)
    // is two keyed aggregations and one keyed join over the persisted
    // pair-token frame; audited on the interior frame shape like the
    // doremi round, since the trainer's output is driver-materialized
    // and invisible to the registry-wide sweep.
    val frame = graft.operators.Preference
      .btRoundPlan(Tables(spark, dir).documents)
    val optimized = frame.queryExecution.optimizedPlan
    val bad = optimized.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => l
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => l
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(bad.isEmpty, s"bt round plan has window/limit nodes:\n$optimized")
    val physical = frame.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct") &&
      !physical.contains("BroadcastNestedLoopJoin"),
      s"bt round plan lost its equi-keys:\n$physical")
  }

  test("trainGate threshold plan is distributed — no global limit anywhere") {
    // the round-8 shape was orderBy().limit(k).agg(min) with
    // k = ceil(frac·nDocs): a TakeOrderedAndProject gathering a quarter
    // of the corpus through one task. The fixed shape ranks via
    // GlobalOrder and filters; its plan must carry NO limit node of any
    // kind (the result is a 1-row aggregate, not a top-k).
    val docs = Tables(spark, dir).documents
    val frame = graft.operators.QualityModel
      .gateThresholdPlan(docs, Seq("src0", "src1"), k = 1000L)
    val optimized = frame.queryExecution.optimizedPlan
    val limits = optimized.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => l
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => l
    }
    assert(limits.isEmpty,
      s"gate threshold plan contains limit nodes:\n$optimized")
    val physical = frame.queryExecution.executedPlan.toString
    assert(!physical.contains("TakeOrderedAndProject") &&
      !physical.contains("CollectLimit"),
      s"gate threshold physical plan gathers through a limit:\n$physical")
  }

  test("doremi round plan: vocab-keyed aggs only — no window, limit, or cartesian") {
    // each n70 training round is two vocab-keyed aggregations and one
    // vocab-keyed join; a window or limit sneaking in would serialize
    // the round through one task at scale. Audited on the interior
    // frame shape since the trainer's output is driver-materialized
    // and invisible to the registry-wide sweep.
    val frame = graft.operators.Mixture
      .roundLossPlan(Tables(spark, dir).documents)
    val optimized = frame.queryExecution.optimizedPlan
    val bad = optimized.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => l
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => l
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(bad.isEmpty, s"doremi round plan has window/limit nodes:\n$optimized")
    val physical = frame.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct") &&
      !physical.contains("BroadcastNestedLoopJoin"),
      s"doremi round plan lost its equi-keys:\n$physical")
  }

  test("global limit constants are scale-invariant between sf0.001 and sf0.1") {
    // the r9 blind spot: a corpus-proportional k = ceil(0.25·500) = 125
    // sails under the 128 bound at sf0.001. Scale-invariance is what
    // "fixed top-k" MEANS — replan each limit-bearing query at an SF
    // where every fixture actually grows (sf0.1 — sf0.01 keeps
    // documents/embeddings at 500 rows, the r10 vacuity) and require
    // the multiset of limit constants to be identical; any k ∝ corpus
    // size moves 10–100× and goes red here regardless of where it sits
    // relative to the bound. Queries whose sf0.001 plan carries NO
    // limit node are skipped: the defect class is a limit whose
    // CONSTANT tracks the corpus, and such a node exists at every SF —
    // replanning the rest would pay iterative-trainer builds at 100×
    // data to compare empty sequences. Residual blindness, accepted:
    // a limit that only MATERIALIZES at larger SFs (a builder branching
    // on corpus size, e.g. `if (count > t) df.limit(k)`) would never
    // enter withLimits and ship unchecked — no registry builder
    // branches on data today, and introducing one should add the query
    // to this rule's docs explicitly.
    val withLimits = batchPlans.map { case (name, plan, _) =>
      name -> limitRe.findAllMatchIn(plan).map(_.group(1).toLong).toSeq.sorted
    }.filter(_._2.nonEmpty).toMap
    Registry.all.filterNot(_.name.matches("s\\d.*"))
      .filter(q => withLimits.contains(q.name)).foreach { q =>
        val planBig = q.run(spark, dirBig).queryExecution.executedPlan.toString
        val limitsBig =
          limitRe.findAllMatchIn(planBig).map(_.group(1).toLong).toSeq.sorted
        assert(limitsBig == withLimits(q.name),
          s"${q.name}: limit constants moved with the corpus — " +
            s"sf0.001=${withLimits(q.name)} vs sf0.1=$limitsBig")
      }
  }

  test("the cross-SF rule catches a deliberate corpus-proportional limit canary") {
    // the exact defect shape trainGate shipped in round 8: top
    // k = ceil(frac·nDocs) of a global order. At sf0.001 the constant
    // (125) passes the fixed bound; at sf0.1 it is 1,250 — the canary
    // proves the SF pair actually discriminates (documents must grow
    // between the two dirs) and that the scale-invariance assert above
    // goes red on the class, not just on the one operator that
    // shipped it.
    def canaryLimits(d: String): Seq[Long] = {
      val docs = Tables(spark, d).documents
      val k = math.ceil(0.25 * docs.count()).toInt
      val plan = docs.orderBy(col("doc_id")).limit(k)
        .queryExecution.executedPlan.toString
      limitRe.findAllMatchIn(plan).map(_.group(1).toLong).toSeq.sorted
    }
    assert(canaryLimits(dir) != canaryLimits(dirBig),
      "the canary's limit constant did not move between SFs — " +
        "the scale-invariance rule would miss the defect class")
  }

  test("q28 closed forms == Spark window analytics, including uneven ntile") {
    // n = 10 is NOT divisible by 4 (bucket sizes 3,3,2,2) — the driver
    // fixtures are, so the uneven branch is pinned here.
    import spark.implicits._
    val n = 10L
    val df = (1L to n).map(i => (i, (i * 37 % 11).toDouble)).toDF("k", "v")
    val ranked = GlobalOrder.withGlobalIndex(df, Seq("v", "k"))
    val base = n / 4; val rem = n % 4; val big = rem * (base + 1)
    val closed = ranked.select(col("k"),
      expr(s"""CASE WHEN _global_rank <= $big
              |  THEN (_global_rank - 1) DIV ${base + 1} + 1
              |  ELSE (_global_rank - 1 - $big) DIV $base + $rem + 1
              |END""".stripMargin).cast("int").as("quartile"),
      ((col("_global_rank") - 1).cast("double") / (n - 1).toDouble).as("pr"),
      (col("_global_rank").cast("double") / n.toDouble).as("cd"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    val w = Window.orderBy(col("v"), col("k"))
    val viaWindow = df.select(col("k"),
      ntile(4).over(w).as("quartile"),
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(closed == viaWindow)
  }

  test("GlobalOrder.withRunningTotal matches single-partition window sum") {
    val t = Tables(spark, dir)
    val src = t.orders.select("o_orderkey", "o_custkey")
    val viaPrefix = GlobalOrder.withRunningTotal(
      src, Seq(col("o_orderkey")), col("o_custkey"))
      .select(col("o_orderkey"), col("_start_offset"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val w = Window.orderBy(col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val viaWindow = src
      .withColumn("off",
        coalesce(sum(col("o_custkey")).over(w), lit(0L)))
      .select(col("o_orderkey"), col("off"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaPrefix == viaWindow)
  }

  test("saltedJoin over a unique dim equals the plain join, row for row") {
    val t = Tables(spark, dir)
    val fact = t.lineitem
      .select(col("l_orderkey").as("okey"), col("l_linenumber"))
    val dim = t.orders
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("okey"), r.getAs[Int]("l_linenumber"),
        r.getAs[String]("o_orderpriority"))
    val salted = graft.operators.Skew.saltedJoin(fact, dim, "okey", 8)
      .collect().map(key).sortBy(k => (k._1, k._2))
    val plain = fact.join(dim, "okey")
      .collect().map(key).sortBy(k => (k._1, k._2))
    assert(salted.toList == plain.toList)
    // hot-key-only variant: threshold 3 exercises BOTH the salted branch
    // (orders with >3 lineitems) and the plain branch on this fixture
    val hotOnly = graft.operators.Skew
      .saltedJoinHotKeys(fact, dim, "okey", 8, 3L)
      .collect().map(key).sortBy(k => (k._1, k._2))
    assert(hotOnly.toList == plain.toList)
  }

  test("GlobalOrder.withGlobalIndex matches single-partition row_number") {
    val t = Tables(spark, dir)
    val viaGlobal = GlobalOrder.withGlobalIndex(
      t.orders.select("o_orderkey", "o_totalprice"), Seq("o_orderkey"))
      .select(col("o_orderkey"), col("_global_rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaWindow = t.orders
      .withColumn("rn", row_number().over(Window.orderBy(col("o_orderkey"))))
      .select(col("o_orderkey"), col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaGlobal == viaWindow)
  }
}
