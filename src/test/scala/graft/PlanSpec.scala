package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.aql.Aql
import graft.operators.Filters
import graft.sources.EventJson
import graft.streaming.{AqlPipeline, EventStream}

/** Plan-shape regression guards for the scale checklist (SCALING.md):
  * these properties were verified by hand via graft.Explain each round —
  * pin them so a refactor can't silently trade a pushed filter for a
  * post-scan one or a broadcast for a shuffle. Assertions read the
  * pre-execution physical plan (scan pushdown and join strategy are
  * decided at planning time).
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestBase._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  private object aqe extends AdaptiveSparkPlanHelper

  /** `from_json` calls anywhere in an executed plan. */
  private def fromJsonCalls(p: SparkPlan): Int =
    aqe.collectWithSubqueries(p) { case n =>
      n.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum
    }.sum

  /** The fixture events as ONE JSONL file: one micro-batch when tailed. */
  private lazy val jsonFile: String = {
    val dir = tmpDir("graft-plan-json")
    graft.sources.Tables.events(spark, sf0001)
      .coalesce(1).write.mode("append").json(dir)
    dir
  }

  private val sinkAqls =
    Seq("FROM allEvents", "FROM 'purchase' FILTER _.value > 50")

  test("q12: tag + value predicates reach the parquet scan (PushedFilters)") {
    val p = plan("q12_filter_tag_and")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("EqualTo(event_type,purchase)"), p)
    assert(p.contains("GreaterThan(value,100.0)"), p)
  }

  test("q02: projection prunes the scan to the selected columns") {
    val p = plan("q02_scan_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // 3 of lineitem's 11 columns + no others
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_linenumber")
      && readSchema.contains("l_extendedprice"), readSchema)
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"),
      readSchema)
  }

  test("q13: the ns-long time-range bounds reach the scan for row-group skipping") {
    val p = plan("q13_filter_time_range")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThanOrEqual(ts,") && p.contains("LessThan(ts,"), p)
  }

  test("q31: the dimension join is a broadcast hash join") {
    val p = plan("q31_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q61: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q61_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q7A: banding self-join is an equi-join, never a cartesian product") {
    val p = plan("q7A_dedup_minhash")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q7H: band join stays an equi-join in BOTH probe modes — the multi " +
    "dial adds probe rows, never a nested-loop pass") {
    for (mode <- Seq("single", "multi")) {
      spark.conf.set("spark.graft.simhash.dedupProbe", mode)
      try {
        val p = plan("q7H_dedup_embed")
        assert(!p.contains("CartesianProduct"), s"$mode: $p")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$mode: $p")
      } finally spark.conf.unset("spark.graft.simhash.dedupProbe")
    }
  }

  test("q76: exact-sim kernel is a block-grid equi-join — no nested-loop pass, " +
    "no single-partition exchange feeding it") {
    val p = plan("q76_sim_cosine_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    // global top-k over the survivors stays a TakeOrderedAndProject
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q78: the knn probe broadcasts the tiny query side, never the corpus") {
    val p = plan("q78_knn_label")
    // the non-equi probe is a BNLJ by design — bounded because the BUILD
    // side is the 10-row query set; the corpus only streams
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q7G: IVF assignment is in-row — no cartesian, no nested loop, " +
    "candidates meet on a cell-id equi-join") {
    val p = plan("q7G_ann_ivf")
    // centroids are a driver-resident literal: the old crossJoin/window
    // assignment shape must never come back
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("hashjoin") || p.contains("HashJoin"), p)
  }

  test("q7S: IVF-PQ candidates meet on a cell-id equi-join; the exact " +
    "rerank is a broadcast join — no cartesian, no nested loop") {
    val p = plan("q7S_ann_ivfpq")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // r18 serving-plan fold: under the measured payload gate the rerank
    // broadcasts the PAYLOAD and streams the shortlist, so the top-5
    // window reuses the ADC window's hash(q_id) partitioning — exactly
    // ONE q_id exchange in the whole search plan (two would mean the
    // shortlist-broadcast shape sneaked back below the gate)
    val qidExchanges = "hashpartitioning\\(q_id".r.findAllIn(p).size
    assert(qidExchanges == 1, s"q_id exchanges = $qidExchanges:\n$p")
  }

  test("q7N: df annotation is broadcast; candidates meet on an equi-join, " +
    "never a cartesian") {
    val p = plan("q7N_dedup_jaccard")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // r18: the candidate self-join broadcasts the materialized prefix
    // (model-scale at the default gate) — no sort-merge anywhere on the
    // path, and the prefix pipeline must read as ONE InMemoryRelation,
    // not two duplicate subplans (the r17 VERDICT #1 regression shape)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q7X/q7Y: the composed pipeline plans no cartesian and no " +
    "corpus-wide nested loop — the only cross is the 1-row CE total") {
    // r16: the end-to-end funnel chains six stages; a regression that
    // turned any stage's join into a cartesian would still return
    // correct rows at fixture scale — pin the plan, not just values.
    for (name <- Seq("q7X_pipeline_funnel", "q7Y_pipeline_schedule")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      // BroadcastNestedLoopJoin appears ONLY as the Cross of the 1-row
      // unigram-model total (the q7V broadcast-scalar shape) — never
      // an inner/outer nested loop over data-scale sides
      val bnl = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      assert(bnl.forall(_.contains("Cross")), s"$name:\n$p")
      // the packing/rank windows stay shard-partitioned inside the
      // composition too: every window spec names its partition keys (a
      // blanket no-SinglePartition pin would misfire on the funnel's
      // own one-row global aggregates, which are metadata-scale)
      val wins = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(wins.forall(_.contains("lang")), s"$name:\n${wins.mkString("\n")}")
    }
  }

  test("pipeline quality stage: ZERO (doc, token) exchanges — per-doc " +
    "counts are in-row (graft_token_counts), structural not optimizer-dependent") {
    // the composition's headline exchange saving (Pipeline scaladoc),
    // in three measured cuts + the r17 refinement: (1) one tf subtree
    // referenced three times relied on ReuseExchange, which did NOT
    // fire under the cached upstream (three corpus-scale shuffles);
    // (2) the restructure needed no reuse but still paid ONE
    // (doc_id, w) exchange; (3) the graft_token_counts kernel computes
    // within-doc counts in-row, deleting it entirely; (r17) the
    // global-vocabulary aggregation is computed ONCE, PERSISTED, and
    // probed exactly — the live plan reads it as an InMemoryRelation,
    // so the only plain corpus explode left sits behind the persisted
    // vocab build (it prints inside the InMemoryRelation's cached-plan
    // rendering, not in the live tree). Pin the OPTIMIZED plan:
    // exactly one kernel explode, the vocab as a persisted relation,
    // and ZERO (doc_id, w) aggregates anywhere.
    val df = graft.operators.Pipeline.qualityStage(
      graft.operators.Pipeline.dedupStage(spark, sf0001))
    val p = df.queryExecution.optimizedPlan.toString
    val kernelExplodes = p.linesIterator.count(
      _.contains("Generate explode(graft_token_counts(toks"))
    assert(kernelExplodes == 1, s"want 1 kernel explode, got $kernelExplodes:\n$p")
    assert(p.contains("InMemoryRelation [w#"),
      s"vocab table must be the persisted relation:\n$p")
    val docWAggs = p.linesIterator.count(l =>
      l.contains("Aggregate [doc_id") && l.contains(", w#"))
    assert(docWAggs == 0, s"want 0 (doc_id, w) aggregates, got $docWAggs:\n$p")
    // and under the auto vocab gate (fixture vocab ≈ 30 tokens, far
    // inside the 4M-row/128MB budget) the tf ⋈ freq join BROADCASTS —
    // the r16 dial that deletes the Zipf-head-skewed w re-exchange
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastHashJoin"), exec)
  }

  test("q7K: the packing window partitions by the (lang, source) shard — " +
    "never a global single-partition running sum") {
    val p = plan("q7K_pack_sequences")
    // a shard-less running-sum window would plan Exchange SinglePartition
    // (the whole corpus through one task)
    assert(!p.contains("Exchange SinglePartition"), p)
    val win = p.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(win.contains("lang") && win.contains("source"), p)
  }

  test("q7L: the per-corpus rank is the distributed (lang, bucket) shape " +
    "with broadcast offsets — never one window task per lang") {
    val p = plan("q7L_mix_weighted")
    // every lang-partitioned window must carry the __bkt bucket (local
    // numbering partitions by it; the offsets prefix-sum orders by it
    // over metadata-scale counts) — a bare per-lang window (5 tasks
    // holding the whole corpus) has no __bkt anywhere in its spec
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, p)
    winLines.filter(_.contains("lang")).foreach(l =>
      assert(l.contains("__bkt"), s"per-lang window without bucket:\n$l\n$p"))
    // the per-(lang, bucket) offsets join back via broadcast, and the
    // global head stays TakeOrderedAndProject — no full sort
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q7P: the eval shingle index broadcasts — the train side never " +
    "shuffles by shingle") {
    val p = plan("q7P_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // Range-join family pins (VERDICT r11 #4): q36/q37/q38 pass the oracle
  // but a Spark upgrade or join-reorder change could silently demote the
  // equi+range joins to a nested-loop pass or break q37's single-window
  // as-of emulation — the silent-regression class q13 demonstrated.

  test("q36: the theta pair count is ONE per-user range-frame window — " +
    "no join operator, no pair stream, no single-partition exchange (r17)") {
    val p = plan("q36_join_theta")
    // r17 rewrite: the pair count per user is a RANGE-frame count over
    // the user's time-sorted events — the self-join (which materialized
    // every pair just to count it, and shuffled/broadcast events twice)
    // is gone entirely, the q37 precedent.
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
    val win = p.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(win.contains("user_id"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q37: the as-of emulation is union + ONE per-user window pass — " +
    "no join operator of any kind in the plan") {
    val p = plan("q37_join_asof")
    // the whole point of the carry-forward shape: last_value over the
    // unioned streams replaces a per-purchase range join entirely
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
    val win = p.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(win.contains("user_id"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q38: the interval aggregate is ONE per-user range-frame window — " +
    "no join operator, no pair stream, no single-partition exchange (r18)") {
    val p = plan("q38_join_interval")
    // r18 rewrite (the q36/q37 idiom): each signup's (count, sum) over
    // [signup, +7d) is a RANGE-frame aggregate over the user's
    // time-sorted events — the equi+range join (which materialized the
    // signup × follow-up pair stream and shuffled events twice) is gone.
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
    val win = p.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(win.contains("user_id"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q57: first/last per user-day is ONE min_by/max_by aggregation — " +
    "no window pass, no distinct exchange (r17)") {
    val p = plan("q57_win_first_last_value")
    assert(!p.contains("Window"), p)
    assert(p.contains("min_by") && p.contains("max_by"), p)
    // partial aggregation must reach the map side: the one exchange
    // carries per-(user, day) partial states, never every event row
    assert(p.contains("partial_min_by") || p.contains("Partial"), p)
  }

  test("q62: grouped top-k is the two-phase salted shape — per-task input " +
    "bounded, never one window task per priority group (r17)") {
    val p = plan("q62_topk_per_group")
    val wins = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(wins.size >= 2, p)
    // phase 1 must partition by (group, salt): a bare per-group window
    // (5 tasks holding the whole table) has no salt anywhere
    assert(wins.exists(_.contains("salt")), p)
  }

  test("q55: the trailing-1h range frame partitions by user — pruned " +
    "events scan, no single-partition exchange") {
    val p = plan("q55_win_range_time")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // the window needs (event_id, user_id, value, ts) — the scan must
    // not drag the payload/tag columns along at 100×
    assert(!readSchema.contains("props") && !readSchema.contains("tags"), readSchema)
    val win = p.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(win.contains("user_id"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q74: tf computes IN-ROW (graft_token_counts) — zero (doc, term) " +
    "aggregates/exchanges; only the vocab-scale df agg and the term " +
    "re-key shuffle (r17)") {
    // r17 rewrite (the r16 q7O/q7V kernel shape): the old explode →
    // groupBy(doc_id, term) corpus-scale exchange — previously shared
    // by both branches via ReuseExchange — is deleted outright. The df
    // branch re-runs the kernel explode (one extra projected scan, the
    // q7F trade) instead of shipping every distinct (doc, term) row.
    val df = SparkEntry.queries("q74_text_tfidf")(spark, sf0001)
    val p = df.queryExecution.optimizedPlan.toString
    val docTermAggs = p.linesIterator.count(l =>
      l.contains("Aggregate [doc_id") && l.contains(", term#"))
    assert(docTermAggs == 0, s"want 0 (doc_id, term) aggregates, got $docTermAggs:\n$p")
    val kernelExplodes = p.linesIterator.count(
      _.contains("Generate explode(graft_token_counts("))
    assert(kernelExplodes == 2, s"want 2 kernel explodes (tf + df branch), " +
      s"got $kernelExplodes:\n$p")
    // the global top-10 stays a TakeOrderedAndProject, never a full sort
    assert(df.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"), p)
  }

  test("q7V: the corpus total re-aggregates the vocab exchange via " +
    "runtime stage reuse — two corpus scans, not three (r17)") {
    // the total = freq.agg(sum(c)) spelling references freq twice; the
    // initial plan shows both subtrees, and AQE dedupes the
    // canonical-equal vocab exchanges at runtime (the r5 q74 mechanism)
    val df = SparkEntry.queries("q7V_quality_unigram_ce")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage")
      || p.contains("StageReuse") || p.contains("reused"), p)
  }

  test("q7F: no exchange carries corpus-sized (doc, bg) rows — both " +
    "branches collapse before any shuffle, profile joins broadcast") {
    // Round-13 shape (see the registry comment): the profile branch
    // shuffles only (lang, bg) partial counts and the predict branch
    // only (doc, lang, cand) partial scores. A corpus-sized exchange —
    // one whose partitioning or payload pairs doc_id with bg — was the
    // r11 regression (2.29→2.74 s); pin its absence.
    val df = SparkEntry.queries("q7F_lang_id")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val badExchange = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("doc_id") &&
        l.contains("bg#"))
    assert(!badExchange, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("JSON ingest: each line is parsed ONCE under attachJson's filter " +
    "stack — no predicate inlines its own from_json copy") {
    // AqlPipeline.attachJson's selection over a batch read: corrupt-lane
    // and key filters, the µs columns, the tag set, then the AQL predicate
    def shape(events: DataFrame, aql: String): DataFrame =
      Filters.withTags(EventStream.withEventTime(
          EventJson.wellFormed(events).filter(col("event_id").isNotNull)))
        .filter(Aql.predicate(aql)).drop("tags")
    for (aql <- sinkAqls) {
      val p = shape(EventJson.read(spark, jsonFile), aql)
        .queryExecution.executedPlan
      assert(fromJsonCalls(p) == 1, s"$aql:\n$p")
    }
  }

  test("JSON ingest: one from_json per line in a streaming attachJson " +
    "micro-batch too") {
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", tmpDir("graft-plan-derby"))
    for (aql <- sinkAqls) {
      val url = s"jdbc:derby:${tmpDir("graft-plan-db")}/db;create=true"
      val q = AqlPipeline.attachJson(spark, jsonFile, aql, url,
        tmpDir("graft-plan-ckpt")).start()
      val p = try {
        q.processAllAvailable()
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.executedPlan
      } finally q.stop()
      assert(fromJsonCalls(p) == 1, s"$aql:\n$p")
    }
  }
}
