package graft

import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

/** Global plan audit: no query in the driver surface may plan a
  * cartesian product or fall back to a nested-loop join — the two
  * shapes that silently stop scaling. Two kinds of exception:
  *
  *  - the documented brute-force baseline (e_cosine_topk broadcasts the
  *    tiny query set against one corpus scan: that nested loop IS the
  *    operator, and the ANN paths exist to avoid it at scale);
  *  - single-row-scalar attaches: a nested-loop join whose build side
  *    is a global aggregate (maxRows = 1) is O(stream side) — the
  *    standard way to spread one computed scalar (a corpus count, a
  *    grand total) across a frame without an eager driver job. The
  *    check verifies the 1-row bound from the optimized logical plan,
  *    so a join that could broadcast more than one row still fails.
  */
class PlanAuditSpec extends SparkSpec {

  private val exempt = Set(
    "e_cosine_topk",   // intentional broadcast×scan baseline
    "e_knn_labels",    // builds on the same brute-force baseline scan
    "e_hard_negatives", // exact arm of the miner: same baseline shape
    "e_ann_recall",     // recall eval NEEDS the brute-force reference arm
    "e_mmr_topk"        // oracle-exact config rides the brute-force
                        // shortlist arm; scale callers pass an ANN arm
                        // to mmrRerank directly
  )

  test("no CartesianProduct / BroadcastNestedLoopJoin anywhere in the surface") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (exempt(name)) None
      else {
        val qe = fn(spark, sf).queryExecution
        val plan = qe.executedPlan.toString
        val bad = Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(plan.contains)
        // a nested-loop join is tolerable ONLY when every non-equi join
        // in the optimized plan has a guaranteed single-row side
        val scalarOnly = bad == Seq("BroadcastNestedLoopJoin") &&
          qe.optimizedPlan.collect {
            case j: Join if !j.condition.exists(hasEquiKeys) =>
              j.left.maxRows.contains(1L) || j.right.maxRows.contains(1L)
          }.forall(identity)
        if (bad.nonEmpty && !scalarOnly) Some(s"$name -> ${bad.mkString(",")}") else None
      }
    }
    assert(offenders.isEmpty, s"scale-killer join shapes:\n${offenders.mkString("\n")}")
  }

  // Unpartitioned windows run on ONE partition — a corpus-sized one is
  // a scale-killer. These four are the documented exceptions; each
  // global window sits above a frame bounded by construction, never by
  // the corpus:
  private val boundedGlobalWindow = Set(
    "d_pack_contexts", // bucket-total prefix sum: n / 4096 rows
    "d_pack_efficiency", // the same bucket-total prefix sum, computed
                         // once before the per-L aggregates
    "d_epoch_shuffle", // bucket-count prefix sum: <= 8192 rows
    "d_mixture_plan",  // grand-total over the per-group token frame
    "d_source_mix",    // grand-total over the (source, lang) frame
    "d_training_prep", // epochShuffle's bucket-count prefix sum: <= 8192 rows
    "d_training_packs", // shuffle + packing bucket prefix sums, both bounded
    "d_training_upsample", // epochShuffle's bucket-count prefix sum over
                           // the replica key: <= 8192 rows
    "d_training_doremi",   // the same replica-key prefix sum — the
                           // doremi fit upstream adds aggregates only
    "d_temperature_mix", // grand totals over the |sources|-row rate frame
    "d_curation_mixture", // the same rate-frame grand totals, stage 6
    "d_vocab_coverage", // rank/cumsum over the TakeOrdered top-maxCut
                        // frame: bounded by the requested budget
    "d_training_mixture", // rate-frame grand totals + epochShuffle's
                          // bucket-count prefix sum, both bounded
    "d_zipf_slope",    // rank window over the TakeOrdered topN frame
    "d_hybrid_topk",   // single-query facade: the lexical arm's literal
                       // q_id folds, leaving one rank window over the
                       // <= depth-row BM25 cut (multi-query callers
                       // partition by a real q_id attribute)
    "d_quality_auc",   // rank cumsum over the distinct-score-KEY frame —
                       // OP-ENFORCED bound: Eval.scoreKey quantizes to
                       // floor(score*1e6) by default, so the frame is
                       // <= range*1e6+1 rows (<= 1e6+1 for [0,1] scores)
                       // regardless of corpus size; exact mode is an
                       // explicit opt-out (scoreQuantumE = None)
    "d_quality_pr",    // the same op-enforced bounded key frame,
                       // descending sweep
    "d_training_curriculum", // curriculumOrder's per-difficulty prefix
                            // sum: |distinct token count| rows; the
                            // corpus-sized rank is partitioned by
                            // (difficulty, bucket)
    "d_training_doremi_curr" // the same per-difficulty prefix sum over
                             // the composed epoch-major key:
                             // |copies|*|distinct token count| rows
                             // (copies single-digit by the epoch cap)
  )

  test("unpartitioned windows appear only on bounded frames") {
    // AQE's AdaptiveSparkPlan wrapper hides its subtree from collect —
    // audit the concrete tree of a no-AQE session instead
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (boundedGlobalWindow(name)) None
      else {
        val globals = fn(s2, sf).queryExecution.executedPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
        }
        if (globals.nonEmpty) Some(s"$name (${globals.size})") else None
      }
    }
    assert(offenders.isEmpty,
      s"corpus-sized single-partition windows:\n${offenders.mkString("\n")}")
    // the whitelist itself must stay honest: each listed query really
    // does plan its documented bounded global window
    boundedGlobalWindow.foreach { name =>
      val globals = SparkEntry.queries(name)(s2, sf).queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      assert(globals.nonEmpty, s"$name no longer plans a global window — drop it from the whitelist")
    }
  }

  // The §G17b quadratic class (BASELINE.md): a higher-order-function
  // chain computed in a Project gets alias-substituted into a pushed
  // Filter condition, where Catalyst's lambda inlining can re-evaluate
  // the chain per lambda step (the entropy gate's array_sort re-ran
  // per element: O(n² log n)/doc, 842 s at sf0.1). The fix pattern —
  // "materialize HOF-derived columns before `.where`" (sharedCheckpoint
  // or an exchange boundary) — is codified here: NO query on the
  // surface may plan a HigherOrderFunction inside a Filter condition.
  // Queries where a HOF-filter is genuinely bounded go in this
  // whitelist with the bound documented:
  private val boundedHofFilter = Set.empty[String]

  test("no higher-order function evaluates inside a Filter condition") {
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    def hofFilters(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.collect { case h: HigherOrderFunction => h.prettyName }
      }.flatten.distinct
    // negative control: the detector must flag a deliberately inlined
    // gate — a HOF-derived column thresholded straight through
    // CollapseProject + filter pushdown, the exact §G17b shape
    val inlined = spark.range(64)
      .select(col("id"), split(lit("a bb ccc"), " ").as("__w"))
      .select(col("id"), aggregate(
        transform(col("__w"), x => length(x)),
        lit(0), (a, b) => a + b).as("__e"))
      .where(col("__e") > 3)
    assert(hofFilters(inlined).nonEmpty,
      "detector failed to flag a deliberately inlined HOF gate — the audit is blind")
    // and the documented fix pattern must pass it: materialize the
    // derived column, then threshold the materialized frame
    import graft.ops.Checkpoints.SharedOps
    val materialized = spark.range(64)
      .select(col("id"), split(lit("a bb ccc"), " ").as("__w"))
      .select(col("id"), aggregate(
        transform(col("__w"), x => length(x)),
        lit(0), (a, b) => a + b).as("__e"))
      .sharedCheckpoint(eager = true)
      .where(col("__e") > 3)
    assert(hofFilters(materialized).isEmpty,
      "the materialize-before-where fix pattern must satisfy the audit")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (boundedHofFilter(name)) None
      else {
        val hofs = hofFilters(fn(spark, sf))
        if (hofs.nonEmpty) Some(s"$name (${hofs.mkString(",")})") else None
      }
    }
    assert(offenders.isEmpty,
      s"HOF chains inside Filter conditions (the §G17b quadratic class — " +
        s"materialize the derived column before .where):\n${offenders.mkString("\n")}")
    // whitelist honesty: each exempted query really does plan one
    boundedHofFilter.foreach { name =>
      assert(hofFilters(SparkEntry.queries(name)(spark, sf)).nonEmpty,
        s"$name no longer plans a HOF filter — drop it from the whitelist")
    }
  }

  // The r14 gramNovelty escape class (VERDICT r14 "what's wrong" #1 /
  // next-round #7): a frame consumed from ≥ 2 plan subtrees WITHOUT
  // ever becoming a checkpoint re-runs its whole build once per
  // consumer unless physical exchange reuse happens to fire — it
  // escaped CheckpointAuditSpec because that audit only sees frames
  // that ARE checkpoints. This audit finds the shape in the optimized
  // plan itself: any expensive subtree (real work + a relation scan)
  // duplicated at two positions of one query plan. Queries whose
  // duplicate is deliberate go here with the reason documented —
  // "rescued" means graft.tools.ReuseProbe verified the FINAL adaptive
  // physical plan reuses one exchange for both logical sites (executed,
  // not assumed), so the duplicate costs nothing at runtime:
  private val sharedSubtreeExempt: Map[String, String] = Map(
    "d_bigram_logprob" -> "token explode feeds bigram+unigram counts; rescued (ReusedExchange)",
    "d_ppx_buckets" -> "same token explode under both logprob arms; rescued (ReusedExchange)",
    "d_length_outliers" -> "median scalar attached to two arms; rescued (ReusedExchange)",
    "e_ann_recall" -> "brute-force reference arm in numerator+denominator; rescued (ReusedExchange)",
    "e_pq_near_dup" -> "self-join legs over the code-assignment frame; rescued (ReusedExchange)",
    "e_rank_metrics" -> "label join under two metric arms; rescued (ReusedExchange)",
    "e_ivf_near_dup" -> ("self-join legs recompute the probe projection (narrow, stateless " +
      "explode over the pruned scan) when AQE broadcasts one leg — cheaper at scale than " +
      "materializing the exploded n×nprobe frame; under SMJ the identical exchanges reuse"))

  /** Maximal duplicated expensive subtrees of an optimized plan: a
    * subtree whose canonicalized form appears at ≥ 2 distinct
    * positions and that contains both real work (Aggregate / Join /
    * Window / Generate) and a relation scan. Reported top-down, so
    * only the outermost duplicated frame is named (every descendant of
    * a duplicate is itself duplicated). Checkpointed frames are leaves
    * (LogicalRDD) with no relation below them, so a properly shared
    * frame never flags. */
  private def duplicatedExpensiveSubtrees(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // canonical form -> the tree positions (child-index paths) where it
    // occurs. Positions in one ancestor-descendant CHAIN are a single
    // consumption site, not a duplicate: canonicalization collapses
    // pure-rename Projects into their child, so a no-op Project and its
    // own child share a canonical form without any recompute.
    val occ = scala.collection.mutable.Map
      .empty[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, List[Seq[Int]]]
    def tally(p: LogicalPlan, path: Seq[Int]): Unit = {
      val c = p.canonicalized
      occ(c) = path :: occ.getOrElse(c, Nil)
      p.children.zipWithIndex.foreach { case (ch, i) => tally(ch, path :+ i) }
    }
    tally(plan, Seq.empty)
    def sites(c: LogicalPlan): Int = {
      val kept = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
      occ(c).sortBy(_.length).foreach { p =>
        if (!kept.exists(k => p.startsWith(k))) kept += p
      }
      kept.size
    }
    def expensive(p: LogicalPlan): Boolean =
      p.exists {
        case _: Aggregate | _: Join | _: Window | _: Generate => true
        case _ => false
      } && p.exists {
        case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
        case _ => false
      }
    val out = Seq.newBuilder[String]
    def walk(p: LogicalPlan): Unit =
      if (sites(p.canonicalized) >= 2 && expensive(p))
        out += s"${p.nodeName}[${p.output.map(_.name).take(4).mkString(",")}]" +
          s"×${sites(p.canonicalized)}"
      else p.children.foreach(walk)
    walk(plan)
    out.result().distinct
  }

  test("no un-checkpointed expensive subtree is consumed from multiple plan sites") {
    // negative control: the r14 gramNovelty double-scan shape — one
    // tokenize/explode/distinct frame feeding a semi-join branch AND a
    // separate aggregate — must flag
    val docs2 = graft.Tables.documents(spark, sf).limit(64)
    val grams = docs2
      .select(col("doc_id").as("id"), explode(split(col("text"), " ")).as("g"))
      .select(col("id"), xxhash64(col("g")).as("h")).distinct()
    val seen = grams.join(grams.select("h").limit(10), Seq("h"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_seen"))
    val twoSite = grams.groupBy("id").agg(count(lit(1)).as("n_grams"))
      .join(seen, Seq("id"), "left")
    assert(duplicatedExpensiveSubtrees(twoSite.queryExecution.optimizedPlan).nonEmpty,
      "detector failed to flag the gramNovelty double-scan shape — the audit is blind")
    // and the fix pattern (checkpoint the shared frame) must pass
    import graft.ops.Checkpoints.SharedOps
    val shared = grams.sharedCheckpoint(eager = true)
    val onePass = shared.groupBy("id").agg(count(lit(1)).as("n_grams"))
      .join(shared.join(shared.select("h").limit(10), Seq("h"), "left_semi")
        .groupBy("id").agg(count(lit(1)).as("n_seen")), Seq("id"), "left")
    assert(duplicatedExpensiveSubtrees(onePass.queryExecution.optimizedPlan).isEmpty,
      "the checkpoint-the-shared-frame fix pattern must satisfy the audit")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (sharedSubtreeExempt.contains(name)) None
      else {
        val dups = duplicatedExpensiveSubtrees(fn(spark, sf).queryExecution.optimizedPlan)
        if (dups.nonEmpty) Some(s"$name: ${dups.mkString("; ")}") else None
      }
    }
    assert(offenders.isEmpty,
      s"expensive subtrees consumed from multiple plan sites without a " +
        s"checkpoint (the gramNovelty class — share the frame or document " +
        s"the exemption):\n${offenders.mkString("\n")}")
    // whitelist honesty
    sharedSubtreeExempt.keys.foreach { name =>
      assert(duplicatedExpensiveSubtrees(
        SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan).nonEmpty,
        s"$name no longer plans a duplicated subtree — drop it from the exemption map")
    }
  }

  /** True when a join condition contains at least one equality that a
    * hash join could use (approximation: any EqualTo between the two
    * sides — good enough to separate folded-constant/cross joins from
    * real equi-joins). */
  private def hasEquiKeys(cond: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    cond.collectFirst {
      case e: org.apache.spark.sql.catalyst.expressions.EqualTo
          if e.left.references.nonEmpty && e.right.references.nonEmpty => true
    }.nonEmpty
}
