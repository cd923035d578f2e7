package graft

/** Plan audits: the properties that decide whether these queries survive a
  * 100× scale-up — filters/projections reaching the parquet scan, dimension
  * joins broadcast, no stray shuffles — asserted on the executed plans the
  * driver will actually run.
  */
class ExplainSpec extends SparkTestBase {

  private def plan(name: String): String =
    q(name).queryExecution.executedPlan.toString

  test("iterative operators reuse their round caches on a repeat invocation") {
    // the round-8 memo/lazy-persist contract: a SECOND construction of the
    // same pagerank query must read the persisted final iterate
    // (InMemoryTableScan / existing-RDD scan) rather than silently
    // rebuilding the 5-round lineage — the 2.8 s → 0.4 s warm-pass win
    // depends on it, and a plan change that breaks plan-identity (e.g. a
    // nondeterministic expression sneaking into the edge build) would
    // regress it without failing any value check
    q("graph_pagerank").collect() // materialize rounds (first invocation)
    val warm = q("graph_pagerank").queryExecution.executedPlan.toString
    assert(warm.contains("InMemoryTableScan") || warm.contains("Scan ExistingRDD"),
      s"warm pagerank must read cached rounds, got:\n${warm.take(800)}")
    // k-core: the memo must return the SAME result relation object for
    // the same (edges plan, k); asserted on the operator itself — the
    // gate entry wraps it in an orderBy, so object identity only holds
    // one level down
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    val k1 = operators.RelOps.kcore(li, 2)
    val k2 = operators.RelOps.kcore(li, 2)
    assert(k1 eq k2, "kcore repeat invocation must hit the result memo")
    assert(!(operators.RelOps.kcore(li, 3) eq k1),
      "a different k must not hit the k=2 slot")
  }

  test("q1: filter is pushed to the parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushdown:\n$p")
  }

  test("q1: aggregation is partial (map-side combine) before the shuffle") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    // partial + final pair means map-side combine happened
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q3/q5: dimension joins are broadcast, not shuffled") {
    for (name <- Seq("q3_top_orders", "q5_nation_revenue")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name should broadcast dims:\n$p")
    }
  }

  test("scan projection is pruned to referenced columns") {
    val p = plan("loki_projection")
    // ts is bigint (ns-Long corpus) or timestamp (µs corpus) — both valid
    assert(p.contains("ReadSchema: struct<ts:bigint") ||
           p.contains("ReadSchema: struct<ts:timestamp"), s"expected pruned schema:\n$p")
    assert(!p.contains("props"), s"unused column read:\n$p")
  }

  test("top-k uses TakeOrderedAndProject, not a global sort") {
    val p = plan("top_orders_by_price")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("whole-stage codegen covers the native expressions") {
    val df = q("dedup_embedding")
    df.collect() // materialize so the AQE plan is final
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") ||
      "\\*\\(\\d+\\) ".r.findFirstIn(p).isDefined, p)
    // round-16: the pair loop scores via the precomputed-norm cosine
    // (dot_double + per-row sn factors — bit-identical to cosine_sim,
    // see SimilarityOps.snorm); either native expression satisfies the
    // codegen-coverage intent
    assert(p.contains("dot_double") || p.contains("cosine_sim"), p)
    // round-11: the exact all-pairs row must pay its inherent O(n²) WORK
    // through the blocked equi-join (memory two blocks per task), never
    // a whole-relation broadcast — no gate row carries a BNLJ pair plan
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"dedup_embedding regressed to a broadcast nested-loop pair join:\n$p")
  }

  test("brute-force topk broadcasts the query side (corpus never shuffles)") {
    val p = plan("sim_brute_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("IVF: cluster assignment is scan-local — no Exchange below the probe join") {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = q("sim_ivf_topk")
    df.collect() // finalize the AQE plan
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // AQE wraps materialized subtrees in leaf QueryStageExec nodes; descend
    // into them so the whole physical tree is visible
    def flatten(n: SparkPlan): Seq[SparkPlan] = {
      val kids = n match {
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(qs.plan)
        case other => other.children
      }
      n +: kids.flatMap(flatten)
    }
    // find the probe BroadcastHashJoin on `cluster`; its streamed (corpus)
    // subtree must contain no shuffle — assignment is an argmax over the
    // broadcast codebook, not a window over an exchanged corpus
    val probe = flatten(root).collectFirst {
      case j: BroadcastHashJoinExec
          if j.leftKeys.exists(_.toString.contains("cluster")) => j
    }
    assert(probe.isDefined, s"expected a broadcast probe join on cluster:\n$root")
    val corpusSide =
      if (probe.get.buildSide == BuildRight) probe.get.left else probe.get.right
    def isShuffle(n: SparkPlan): Boolean = {
      val c = n.getClass.getSimpleName
      c.startsWith("ShuffleExchange") || c.startsWith("ShuffleQueryStage")
    }
    // don't descend into broadcast builds: whatever feeds a broadcast is
    // small by construction (here: the 16-row codebook's collect_list,
    // which legitimately funnels to a single partition)
    def streamOnly(n: SparkPlan): Seq[SparkPlan] = {
      val c = n.getClass.getSimpleName
      if (c.startsWith("BroadcastExchange") || c.startsWith("BroadcastQueryStage")) Seq(n)
      else {
        val kids = n match {
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(qs.plan)
          case other => other.children
        }
        n +: kids.flatMap(streamOnly)
      }
    }
    val shuffles = streamOnly(corpusSide).filter(isShuffle)
    assert(shuffles.isEmpty,
      s"corpus side of the probe join must not shuffle:\n$corpusSide")
  }

  test("stratified sample is a scan-local filter — no window, no per-stratum sort") {
    // the round-3 verdict's one scale-killer: Window.partitionBy(lang)
    // routes an entire stratum through one task; the hash-threshold
    // sampler must plan as filter-over-scan with only the deterministic
    // output orderBy behind it
    val p = plan("documents_stratified_sample")
    assert(!p.contains("Window"), s"sampler must not use a per-stratum window:\n$p")
    assert(!p.contains("hashpartitioning(lang"),
      s"sampler must not exchange on the stratum key:\n$p")
    assert(p.contains("PushedFilters"), s"keep predicate should reach the scan:\n$p")
  }

  test("weighted sample is scan-local, integer-exact, and rate-proportional") {
    // same scale contract as the stratified sampler: pure filter over the
    // scan, nothing stratum-keyed
    val p = plan("documents_weighted_sample")
    assert(!p.contains("Window") && !p.contains("hashpartitioning(lang"),
      s"weighted sampler must stay scan-local:\n$p")
    // driver replay of the integer semantics: kept set == the exact
    // Lehmer × ppm predicate over the corpus
    import org.apache.spark.sql.functions._
    val corpus = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val want = corpus.flatMap { case (id, tk) =>
      if (tk.isEmpty) None
      else {
        val w = math.min(1000000L, tk.distinct.length.toLong * 1000000L / (tk.length.toLong * 2))
        // doc_id reduced mod 2³¹−1 BEFORE the first multiply (round 12:
        // raw id·48271 wraps silently in Spark past ~1.9e14 while the
        // oracle's checked BIGINT errors — engine divergence)
        val u = id % 2147483647L * 48271L % 2147483647L * 48271L %
          2147483647L * 48271L % 2147483647L
        if (u * 1000000L < w * 2147483647L) Some(id -> w) else None
      }
    }.toMap
    val got = q("documents_weighted_sample").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == want, s"kept-set mismatch: ${got.size} vs ${want.size}")
    // and the realized rate tracks the mean weight (sanity: weighting is
    // live, not a constant-rate filter)
    val meanW = corpus.map { case (_, tk) =>
      if (tk.isEmpty) 0.0
      else math.min(1000000L, tk.distinct.length.toLong * 1000000L / (tk.length.toLong * 2)) / 1e6
    }.sum / corpus.length
    val rate = got.size.toDouble / corpus.length
    assert(math.abs(rate - meanW) < 0.15,
      s"realized rate $rate should track mean weight $meanW")
    // unbounded doc_id (round 12): the mixer must not wrap — a wrapped
    // negative u would be ALWAYS-KEPT in Spark while DuckDB's checked
    // BIGINT errors on the same row. Pin u ≥ 0 and the exact replay on
    // ids around 2^62.
    import spark.implicits._
    val hugeDf = Seq(
      (4611686018427387904L, "en", "a b c d"),
      (Long.MaxValue - 1, "en", "x x x x x y"))
      .toDF("doc_id", "lang", "text")
    val hugeGot = graft.operators.TextOps.weightedSample(hugeDf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hugeWant = Seq(
      4611686018427387904L -> "a b c d".split(" ").toSeq,
      (Long.MaxValue - 1) -> "x x x x x y".split(" ").toSeq)
      .flatMap { case (id, tk) =>
        val w = math.min(1000000L, tk.distinct.length.toLong * 1000000L / (tk.length.toLong * 2))
        val u = id % 2147483647L * 48271L % 2147483647L * 48271L %
          2147483647L * 48271L % 2147483647L
        assert(u >= 0, s"mixer wrapped on id $id")
        if (u * 1000000L < w * 2147483647L) Some(id -> w) else None
      }.toMap
    assert(hugeGot == hugeWant, s"huge-id kept set: $hugeGot vs $hugeWant")
  }

  test("source cap plans bounded heaps (partial+final TopKPerKey), not a per-source window") {
    // per-domain caps over a web-scale corpus: a row_number window would
    // serialize each source's full document set through one task; the
    // custom exec's partial pass bounds the key shuffle to
    // partitions×sources×k rows
    val p = plan("documents_source_cap")
    assert(!p.contains("Window"), s"cap must not use a per-source window:\n$p")
    assert(p.contains("TopKPerKeyPartial"),
      s"expected the map-side partial top-k pass:\n$p")
    assert(p.contains("TopKPerKey "), s"expected the final top-k merge:\n$p")
  }

  test("train split routes scan-local: no shuffle below the 3-row aggregate") {
    // the split column is a pure function of the text column, so the only
    // exchange in the plan is the final tiny aggregate's
    val p = plan("documents_train_split")
    assert(!p.contains("Window"), p)
    assert(p.split("Exchange").length - 1 <= 2,
      s"expected at most partial-agg + sort exchanges:\n$p")
  }

  test("sliding WAU: one data exchange — hash(user) serves both dedups") {
    // round 9: hash-partitioning on user_id alone clusters equal
    // (day, user) pairs, so the daily distinct AND countDistinct's
    // internal fan-out dedup both run partition-local. Exchanges in the
    // plan: the user repartition, the tiny per-day count, the bounds
    // max (single row), the final sort — and NO (day, user) re-exchange
    // of the fanned relation.
    val p = plan("events_sliding_wau")
    val fanReexchange = "hashpartitioning\\((day|user_id)#\\d+L?, (user_id|day)#\\d+L?".r
    assert(fanReexchange.findFirstIn(p).isEmpty,
      s"fanned relation re-exchanged on (day, user):\n$p")
  }

  test("composed pipeline samples without a per-stratum window") {
    val p = plan("pipeline_quality_dedup_sample")
    assert(!p.contains("Window"), s"pipeline sampler must not use a window:\n$p")
  }

  test("exact-fraction sampler twin still matches the hash sampler's relation shape") {
    // the exact twin IS allowed its window (small-corpus oracle variant);
    // this pins that both emit the same (lang, doc_id) schema so they stay
    // drop-in substitutes
    assert(q("documents_stratified_sample").schema ===
      q("documents_stratified_sample_exact").schema)
  }

  test("decontamination joins broadcast the benchmark n-gram set") {
    // the train side must stream through a map-side semi-join shape —
    // a shuffled join here would exchange the full exploded train corpus
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"benchmark side should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"train side must not shuffle-join:\n$p")
  }

  test("bucketized range join plans as an equi-join, not nested-loop") {
    // the whole point of the bucketing: a raw interval predicate plans as
    // BroadcastNestedLoopJoin (all-pairs — dead at scale); binning turns
    // it into a hash-joinable equi-key with a residual filter
    val p = plan("events_range_join_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must not plan as nested-loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected an equi-join:\n$p")
  }

  test("incremental dedup joins delta probe to index as an equi-join, never all-pairs") {
    val p = plan("dedup_incremental")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"candidate generation must stay an equi-join:\n$p")
  }

  test("unigram-LM scoring attaches the vocab via broadcast — the token relation never shuffle-joins") {
    val p = plan("text_unigram_logprob")
    assert(p.contains("BroadcastHashJoin"), s"vocab should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"token relation must not shuffle-join:\n$p")
  }

  test("BM25 ranks through TakeOrderedAndProject over a broadcast stats row") {
    val p = plan("text_bm25_search")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the stats row:\n$p")
  }

  test("importance weights broadcast the feature log-ratios onto the gram scan") {
    val p = plan("documents_importance_weights")
    assert(p.contains("BroadcastHashJoin"), s"ratio relation should broadcast:\n$p")
  }

  test("encode_ids: vocab rank has no single-task window anywhere in the plan") {
    // the round-5 verdict's one remaining single-task serialization: a
    // no-partition row_number window funneled the global vocab rank
    // through ONE task. The sorted-zipWithIndex form must plan with no
    // Window and no single-partition Exchange at all.
    val p = plan("text_encode_ids")
    assert(!p.contains("Window"), s"vocab rank must not use a global window:\n$p")
    assert(!p.contains("SinglePartition"),
      s"no stage may funnel through one partition:\n$p")
  }

  test("global-rank queries (shuffle order, ppl buckets) have no single-task stage") {
    // both assign global ranks via range sort + scan-local indexing
    // (encodeIds precedent); a no-partition row_number window — what the
    // oracle uses — would funnel the CORPUS through one task. The only
    // permitted SinglePartition is a scalar aggregate's final reduce
    // (HashAggregate(keys=[]) directly above it — one pre-aggregated row
    // per upstream partition, data-independent by construction).
    // tree-parent rule for Spark's plan strings: a node's parent is the
    // nearest PRECEDING line whose branch-marker column is smaller (the
    // nearest-line heuristic misidentifies the parent of any non-first
    // child — the preceding line is then the deepest leaf of a sibling)
    def depthOf(l: String): Int = l.indexOf("+-") match {
      case -1 => l.indexOf(":-") match { case -1 => 0; case d => d }
      case d => d
    }
    def parentOf(lines: IndexedSeq[String], i: Int): Option[String] = {
      val d = depthOf(lines(i))
      var j = i - 1
      while (j >= 0) {
        val l = lines(j)
        if (l.trim.nonEmpty && depthOf(l) < d &&
          !l.contains("QueryStage") && !l.contains("AQEShuffleRead"))
          return Some(l)
        // wrapper at a shallower depth: keep climbing from ITS depth
        else if (l.trim.nonEmpty && depthOf(l) < d &&
          (l.contains("QueryStage") || l.contains("AQEShuffleRead")))
          return parentOf(lines, j)
        j -= 1
      }
      None
    }
    for (name <- Seq("documents_shuffle_order", "documents_ppl_buckets",
        "lineitem_abc_classes")) {
      val p = plan(name)
      val lines = p.linesIterator.toIndexedSeq
      lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
        .foreach { case (_, i) =>
          val parent = parentOf(lines, i)
          assert(parent.exists(_.contains("HashAggregate(keys=[]")),
            s"$name: SinglePartition outside a scalar aggregate (parent=$parent):\n$p")
        }
      assert(!p.contains("Window"), s"$name: no window rank:\n$p")
    }
  }

  test("partition-pruned join: the fact scan carries a dynamic pruning filter") {
    val df = q("events_partition_pruned_join")
    df.collect() // writes the partitioned layout, finalizes the AQE plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning") || p.contains("DynamicPruning"),
      s"fact partitions must prune via the dim broadcast:\n$p")
  }

  test("bucketed join: sort-merge join with NO exchange on either side") {
    q("lineitem_bucketed_join").collect() // writes + registers the bucketed tables
    val join = spark
      .table(s"graft_ord_b${operators.RelOps.layoutTag(spark, sf, "orders")}")
      .join(spark
        .table(s"graft_li_b${operators.RelOps.layoutTag(spark, sf, "lineitem")}")
        .hint("merge"),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
    val p = join.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$p")
    assert(!p.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n$p")
  }

  test("quality classifier scores at scan speed — no hash exchange, model inlined") {
    // w·x over term_counts + element_at lookups: the model rides the
    // plan as literals, so the only exchange is the output ordering's
    // range partition — no join against a weight table, no explode
    val p = plan("text_quality_classifier")
    assert(!p.contains("Exchange hashpartitioning"),
      s"classifier scoring must not shuffle:\n$p")
    assert(!p.contains("Generate"), s"no token explode:\n$p")
    assert(p.contains("term_counts") || p.contains("staticinvoke"),
      s"expected the native tf expression:\n$p")
  }

  test("part_skyline: no window over the data — prefix max is scan-local + bounded stat table") {
    // the frontier walk must NOT plan the oracle's global window (a
    // single-task sort over every distinct price): per-partition prefix
    // max is computed inside mapPartitions, and cross-partition dominance
    // comes from the broadcast (n_partitions)-sized stat table, whose
    // collect_list scalar aggregate is the one permitted SinglePartition.
    val p = plan("part_skyline")
    assert(!p.contains("Window"), s"skyline must not use a global window:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"partition stat table / survivor set should broadcast:\n$p")
  }

  test("keyword TF-IDF: tf is scan-local — no exchange between the scan and the top-k partial") {
    // the term_counts rewrite's contract: the only corpus-sized exchanges
    // are the vocabulary df aggregate and the ≤3-rows-per-doc top-k
    // final; the per-doc tf relation itself never shuffles. The old
    // groupBy(doc_id, term) form planned three data-sized exchanges.
    val p = plan("text_keyword_tfidf")
    assert(p.contains("term_counts") || p.contains("TermCounts") ||
      p.contains("staticinvoke"), s"expected the native expression:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"tf must not shuffle (saw $exchanges hash exchanges):\n$p")
    assert(!p.contains("ObjectHashAggregate"), s"no set/object aggregate:\n$p")
  }

  test("copurchase: one order-key exchange feeds the run-walk; no object aggregate") {
    val p = plan("lineitem_copurchase_pairs")
    assert(!p.contains("ObjectHashAggregate"),
      s"collect_set's object aggregate must be gone:\n$p")
    // when another entry (association rules) has already registered the
    // pair-count cache, the plan legitimately serves from the
    // InMemoryRelation — whose PRINTED lineage repeats the original
    // exchanges without re-executing them. Count only the live section
    // (above the cache boundary) in that case.
    val live = p.indexOf("InMemoryRelation") match {
      case -1 => p
      case i => p.substring(0, i)
    }
    if (!p.contains("InMemoryRelation"))
      assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
        s"expected the run-walk mapPartitions:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(live).length
    assert(exchanges <= 2,
      s"only the order-key repartition + pair aggregate may shuffle (saw $exchanges):\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must not global-sort:\n$p")
  }

  test("spreadScan is a NO-OP on a corpus that already has scan parallelism") {
    // the round-10 scale contract: spreading exists for the one-file
    // local corpus (1 scan partition); a many-partition corpus — the
    // 100 TB case — must pass through UNTOUCHED, because a full-corpus
    // exchange there is a scale-killer. Both branches pinned:
    import org.apache.spark.sql.functions._
    val narrow = Tables.documents(spark, sf) // one file → 1-2 partitions
    val wide = narrow.repartition(
      spark.sparkContext.defaultParallelism) // already parallel
    val spreadNarrow = operators.TextOps.spreadScan(narrow)
    val spreadWide = operators.TextOps.spreadScan(wide)
    assert(spreadNarrow.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism,
      "a single-partition scan must spread to session parallelism")
    assert(spreadWide eq wide,
      "an already-parallel input must pass through without a new exchange")
    // and the spread relation computes the identical corpus
    assert(spreadNarrow.agg(sum(length(col("text")))).head() ==
      narrow.agg(sum(length(col("text")))).head())
  }

  test("winnowing is scan-local: no exchange below the per-doc projection") {
    val p = plan("text_winnowing")
    assert(!p.contains("Window") && !p.contains("BroadcastHashJoin"),
      s"winnowing must be a pure per-row projection:\n$p")
    assert(p.contains("winnow_fp") || p.contains("WinnowSelect") ||
      p.contains("staticinvoke"),
      s"expected the native expression in the plan:\n$p")
  }

  test("corpus-statistics broadcasts are size-conditional: capped estimate falls back to a shuffle join") {
    // the forced broadcast() hints OOM the driver at a 100 TB vocabulary;
    // with the estimate cap forced below any relation the same queries
    // must re-plan as shuffle joins (and still compute the same relation)
    // autoBroadcastJoinThreshold off too: at test scale Spark would
    // otherwise auto-broadcast the tiny corpus side on its own estimate —
    // at 100 TB both sides' estimates exceed the threshold, which is
    // exactly what the two caps together simulate
    spark.conf.set("graft.broadcast.maxBytes", "1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // probe via the keyword query: its size-gated join (tf ⋈ idf) sits in
    // the LIVE plan — text_unigram_logprob's equivalent join moved inside
    // its registry-cached per-doc relation, where a cache hit would serve
    // the uncapped build's InMemoryRelation and hide the fallback
    try {
      val p = plan("text_keyword_tfidf")
      assert(!p.contains("BroadcastHashJoin"),
        s"capped estimate must drop the broadcast hint:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffle-join fallback:\n$p")
    } finally {
      spark.conf.unset("graft.broadcast.maxBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("chunk dedup: no window rank; keep-first is one hash aggregate on the chunk") {
    // the oracle replays keep-first as row_number() over (partition by chunk);
    // the Spark plan must instead pick min(struct(doc_id,pos)) per chunk via
    // a partial-aggregated hash shuffle — no Window operator anywhere
    val p = plan("dedup_chunk_exact")
    assert(!p.contains("Window"), s"keep-first must not be a window:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"chunk winner pick must partial-aggregate:\n$p")
  }

  test("q18: customer broadcasts, order cap is TakeOrdered, agg is partial") {
    val p = plan("q18_large_customers")
    assert(p.contains("BroadcastHashJoin"), s"customer dim should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must be TakeOrdered, not a global sort:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"quantity sum must partial-aggregate:\n$p")
  }

  test("funnel: one shuffle — the per-user aggregate; no window, no join") {
    val p = plan("events_funnel")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"funnel must fold per-user sequences, not window/join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected exactly one hash exchange (user_id):\n$p")
  }

  test("kmeans: assignment is a broadcast-codebook argmin; census is ONE partial-agg exchange") {
    val p = plan("embedding_kmeans")
    // the corpus meets the codebook through a broadcast nested-loop join
    // (scan-local argmin) — never an exchange of the corpus on anything
    // but the final 8-key census
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"assignment must join the broadcast codebook:\n$p")
    assert(!p.contains("Window"), s"no window anywhere in kmeans:\n$p")
    assert("Exchange hashpartitioning\\(cluster".r.findAllIn(p).length == 1,
      s"exactly one cluster-census exchange expected:\n$p")
    // census combines map-side before the exchange
    assert(p.contains("partial_count"), s"census must partial-aggregate:\n$p")
  }

  test("ngram novelty: gram relation partial-aggregates; no join-back of grams") {
    val p = plan("documents_ngram_novelty")
    // first-seen is min(doc_id) per gram with map-side combine — the gram
    // explosion is reduced BEFORE it crosses the wire
    assert(p.contains("partial_min"),
      s"first-seen min must combine map-side:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
    // exactly one exchange carries gram-keyed rows; everything after is
    // per-doc-sized (the winner counts and the left join back to counts)
    assert("Exchange hashpartitioning\\(g#".r.findAllIn(p).length == 1,
      s"gram rows must shuffle exactly once:\n$p")
  }

  test("semdedup: pair generation is an equi-join on the cluster key, never all-pairs") {
    val p = plan("dedup_semdedup")
    assert(!p.contains("CartesianProduct"), p)
    // the a×b pair join must key on cluster (hash or sort-merge — Catalyst
    // picks by size); the only nested-loop joins allowed are the broadcast
    // codebook attachments inside the kmeans assignment
    assert("(BroadcastHashJoin|SortMergeJoin) \\[cluster".r.findAllIn(p).nonEmpty,
      s"expected an equi-join keyed on cluster:\n$p")
  }

  test("token budget selects without a per-source window") {
    // the greedy cumulative sum is the distributed-prefix construction
    // (local scan + broadcast offset table), never a per-source Window
    // that would serialize a 100 TB source through one task
    val p = plan("documents_token_budget")
    assert(!p.contains("Window"), s"budget selection must be window-free:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"offset table must attach via broadcast:\n$p")
  }

  test("span merge: two data exchanges; windows and aggregates share the doc partitioning") {
    val p = plan("text_dup_span_merge")
    // hash exchanges: the gram-fingerprint window + the doc_id island
    // window (spreadScan is round-robin, the final orderBy is range) —
    // the two aggregates must RIDE the doc_id partitioning, and the two
    // island windows must share one sort
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      s"expected exactly two hash exchanges:\n$p")
    // (doc_id, pos) local sorts: exactly one, shared by lag + island-sum
    // (the final orderBy's global doc_id sort is a different shape)
    val docSorts = "Sort \\[doc_id#\\d+L ASC NULLS FIRST, pos".r.findAllIn(p).length
    assert(docSorts == 1, s"island windows must share one doc sort (saw $docSorts):\n$p")
  }

  test("upsert merge: one exchange, partial-aggregated, no window rank") {
    val p = plan("corpus_upsert_latest")
    assert(!p.contains("WindowExec") && !p.contains("Window ["),
      s"latest-wins must not window-rank:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected exactly one hash exchange:\n$p")
    // map-side pre-reduction: a partial aggregate below the exchange
    assert("SortAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final aggregation around the shuffle:\n$p")
  }

  test("skew census: each branch scans exactly one pruned key column") {
    val p = q("diag_skew_census").queryExecution.executedPlan.toString
    Seq("l_orderkey", "l_partkey", "l_suppkey").foreach { k =>
      assert(p.contains(s"ReadSchema: struct<$k:bigint>"),
        s"branch for $k must read only its key column:\n$p")
    }
  }
}
