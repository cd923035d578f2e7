package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Host-engine relational surface (SURVEY.md §2.3): the query categories the
  * reference delegates to DataFusion and the rebuild delegates to Spark SQL —
  * aggregation, joins (broadcast/shuffle/semi/anti), windows, sort/top-k, set
  * ops, rollup, JSON extraction, time bucketing, sessionization.
  *
  * Scale notes (100 TB design intent, verified via .explain in tests):
  *   - dimension joins (region/nation/supplier/customer) are broadcast;
  *   - aggregations are partial (map-side combine) before the shuffle;
  *   - filters/projections push into the parquet scan;
  *   - double-valued aggregates are rounded so results are stable across
  *     partition orderings AND match the DuckDB oracle bit-for-bit.
  */
object RelOps {

  type Q = (SparkSession, String) => DataFrame

  /** 16-bit × 16-bit Morton (z-order) interleave, as a Catalyst column and
    * as the identical SQL text (the oracle replays bit-for-bit): bit i of
    * `x` lands at position 2i, bit i of `y` at 2i+1.
    */
  private def zInterleave16(x: Column, y: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1)
    }.reduce(_ + _)

  private def zInterleave16Sql(x: String, y: String): String =
    (0 until 16).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** Top-20 co-purchased part pairs over a (l_orderkey, l_partkey)
    * relation — the plan under the `lineitem_copurchase_pairs` entry,
    * reusable for the scale smoke. ONE shuffle hash-partitions by order,
    * an in-partition sort groups each order's items contiguously, and a
    * mapPartitions run-walk emits each order's distinct pairs directly
    * (≤21 per order — order size is structurally bounded); the pair
    * counts then partial-aggregate. mapPartitions (not collect_set +
    * explode) because the set aggregate runs on ObjectHashAggregateExec —
    * no codegen, per-group set buffers — and the A/B at sf0.1 measured
    * the run-walk at 0.8 s vs 1.1 s (set+explode), 2.0 s (self-equi-join,
    * DuckDB's shape). For UNBOUNDED group sizes this shape still holds: a
    * run is one order, never a partition-sized buffer.
    */
  def copurchasePairs(li: DataFrame): DataFrame =
    copurchaseCounts(li)
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))
      .limit(20)

  /** The run-walk pair expansion over a (key, item)-sorted partition:
    * emits each key-run's distinct ordered item pairs. Rows arrive
    * (key, item)-sorted, so a run's buffer is sorted and de-duplicated by
    * skipping the duplicate head. Pairs are emitted LAZILY — the run
    * buffer is bounded by the group's distinct items, but its pair set
    * is quadratic, and a pathological giant group must stream its pairs
    * into the downstream aggregate rather than materialize them (this
    * relation is public library surface, not just the bounded-order gate
    * query).
    */
  private def runWalkPairs(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val buf = new scala.collection.mutable.ArrayBuffer[Long](8)
    var curKey = Long.MinValue
    new Iterator[(Long, Long)] {
      private var out: Iterator[(Long, Long)] = Iterator.empty
      private def pairsOf(b: IndexedSeq[Long]): Iterator[(Long, Long)] =
        b.indices.iterator.flatMap { i =>
          ((i + 1) until b.length).iterator.map(j => (b(i), b(j)))
        }
      private def fill(): Unit = {
        while (!out.hasNext && it.hasNext) {
          val (k, p) = it.next()
          if (k != curKey) {
            val done = buf.toIndexedSeq
            buf.clear(); curKey = k; buf += p
            out = pairsOf(done)
          } else if (buf.isEmpty || buf.last != p) buf += p
        }
        if (!out.hasNext && !it.hasNext && buf.nonEmpty) {
          out = pairsOf(buf.toIndexedSeq); buf.clear()
        }
      }
      def hasNext: Boolean = { fill(); out.hasNext }
      def next(): (Long, Long) = { fill(); out.next() }
    }
  }

  /** `(num × by) DIV den` with a decimal(38,0) intermediate and a BIGINT
    * terminal — the scaled-ratio shape every ×1e6/×1000 derivation in
    * this module uses. The intermediate grows linearly with row count,
    * so an int64 version leaves only single-digit headroom at 1e12-row
    * scale (the overflow class the ×64 scale smoke surfaced); the
    * terminal is a tiny fixed-point ratio, so BIGINT output — and with
    * it the DuckDB oracle terminals and driver hashes — is unchanged.
    * `by` is a SQL snippet (a literal scale or a column name).
    */
  private[graft] def scaledDiv(num: String, by: String, den: String): Column =
    expr(s"CAST((CAST($num AS DECIMAL(38,0)) * $by) DIV $den AS BIGINT)")

  /** The variance numerator n·Σv² − (Σv)² in decimal(38,0): it grows
    * ×N² with row count, so it overflows int64 at a scale the merge
    * STATES (all int64) comfortably survive — the terminal itself needs
    * the width, unlike [[scaledDiv]]'s.
    */
  private[graft] def varqDecimal(n: Column, s: Column, ss: Column): Column =
    (n.cast("decimal(38,0)") * ss.cast("decimal(38,0)") -
      s.cast("decimal(38,0)") * s.cast("decimal(38,0)"))
      .cast("decimal(38,0)")

  /** Stable function INSTANCE for the [[copurchaseCounts]] mapPartitions:
    * an eta-expansion at the call site mints a fresh Function1 per
    * invocation, which defeats logical-plan canonicalization (MapPartitions
    * compares the function by equality) and with it the CacheManager
    * sharing five gate rows rely on — one val, one instance, equal plans.
    */
  private val runWalkPairsF: Iterator[(Long, Long)] => Iterator[(Long, Long)] =
    runWalkPairs

  /** The FULL co-purchase pair-count relation (p1 < p2, n_orders) — the
    * run-walk pipeline without the top-20 cap; also the co-purchase
    * graph's edge list for [[triangleCensus]]. Cached + registered HERE:
    * five gate rows (copurchase top-20, triangles, BFS levels, k-core,
    * association rules) derive from this one relation, and each paid the
    * full run-walk build on the bench's cold pass — with the cache at
    * the shared definition (and [[runWalkPairsF]] keeping the plans
    * canonicalization-equal) the first consumer builds, the rest reuse.
    */
  def copurchaseCounts(li: DataFrame): DataFrame = {
    val s = li.sparkSession
    import s.implicits._
    val counts = li
      // hotPartitions width: the run-walk pair expansion is the heavy
      // leg (typed-row deser + quadratic-per-order pair emission) and
      // ran through the session's 8 shuffle partitions (see
      // TextOps.hotPartitions)
      .repartition(TextOps.hotPartitions(s), col("l_orderkey"))
      .sortWithinPartitions("l_orderkey", "l_partkey")
      .select(col("l_orderkey").as[Long], col("l_partkey").as[Long])
      .mapPartitions(runWalkPairsF)
      .toDF("p1", "p2")
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("n_orders"))
      .cache()
    graft.operators.CacheRegistry.register(counts, Seq(counts))
    counts
  }

  /** Five-round integer fixed-point PageRank over a directed edge list
    * (src, dst) — the iterate behind the `graph_pagerank` gate row. All
    * arithmetic is ×1e12 fixed-point integer (`r div deg`, `85·Σ div 100`),
    * so the result is
    * accumulation-order-independent and bit-identical across engines.
    *
    * Scale shape: the edge relation is cached PRE-PARTITIONED on the
    * per-round join key (ed.src = ranks.node) — an arbitrarily-
    * partitioned cache would re-exchange the (large) edge side five
    * times; hash-partitioning before persist leaves only the
    * (node-count-sized) ranks side to move per round, the iterative-
    * graph layout a 100 TB run must have. Rounds are LAZY persists
    * (round 8; replaced the round-7 eager localCheckpoint): the whole
    * 5-round iterate materializes in ONE action instead of five
    * scheduled jobs, and — decisive — the round caches are PLAN-KEYED,
    * so a repeat invocation of the same query reuses them (measured at
    * sf0.1: first run 2.8 s ≈ eager's 2.77 s, repeat run 0.42 s vs
    * eager's 2.77 s — localCheckpoint mints fresh RDDs every call and
    * can never cache-hit across invocations). Eviction worst case is
    * LINEAR, not exponential: round k's lineage contains round k−1 once
    * and the ed join once, so a fully-evicted recompute replays the
    * edge build ~5× (the one-time cost the eager variant paid every
    * invocation anyway); all six caches register as one LRU entry and
    * age out together. The one eager driver action is the node count
    * (teleport needs the scalar).
    */
  def pageRankRanks(edges: DataFrame): DataFrame = {
    // out-degrees via a window over the SAME src partitioning the rounds
    // need, not an aggregate + self-join: the join form exchanged the
    // edge relation twice (deg-join + pre-round repartition) and paid two
    // SMJ sorts; this shape is ONE exchange + one per-partition sort and
    // leaves the cache hash(src)-partitioned for the round joins
    // (measured ~2× on the cold edge-cache build). Per-src window groups
    // are a node's out-edges — the same hub skew any per-node layout has;
    // WindowExec spills past its buffer, so a hub can't OOM a task.
    val ed = edges
      // session width, DELIBERATELY not hotPartitions (round-17 A/B, the
      // r16 verdict's watch item): widening this exchange to 32 read
      // warm 0.53 / cold 4.83 s vs 0.38-0.44 / 2.50-2.74 at the session's
      // 8 — the five round joins and the deg window all inherit the
      // cache's width, so the widening multiplied every round's reduce
      // tasks and the cold build paid 4 extra stages for idle width
      .repartition(col("src"))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .persist()
    CacheRegistry.register(ed, Seq(ed))
    val nNodes = ed.select(col("src")).distinct().count()
    // empty graph: zero nodes would divide the teleport by zero on the
    // driver; return the empty rank relation instead (the bfsLevels
    // empty-graph precedent)
    if (nNodes == 0) {
      return ed.select(col("src").as("node"), col("deg").as("r")).limit(0)
    }
    val Q = 1000000000000L
    val teleport = (15L * Q) / (100L * nNodes)
    var ranks = ed.select(col("src").as("node")).distinct()
      .select(col("node"), lit(Q / nNodes).as("r"))
    val roundCaches = scala.collection.mutable.ArrayBuffer[DataFrame](ed)
    for (_ <- 1 to 5) {
      ranks = ed.join(ranks, ed("src") === ranks("node"))
        .select(ed("dst").as("node"), expr("r div deg").as("contrib"))
        .groupBy("node").agg(sum("contrib").as("contrib_sum"))
        .select(col("node"),
          (lit(teleport) + expr("(85 * contrib_sum) div 100")).as("r"))
        .persist()
      roundCaches += ranks
    }
    CacheRegistry.register(ed, roundCaches.toSeq)
    ranks
  }

  /** Triangle census over the co-purchase part graph — the graph-shape
    * statistic (global clustering) community detection and fraud
    * pipelines compute. Degree-ordered orientation: every edge points
    * from its lower-(degree, id) endpoint to the higher, so each
    * triangle is counted EXACTLY once — at its minimum-rank edge as
    * |N⁺(lo) ∩ N⁺(hi)| — and, the scale property, out-degrees are capped
    * near √m on any graph (hubs receive edges instead of fanning
    * wedges). The intersection form materializes per-node out-adjacency
    * ARRAYS (≤ √m entries each) instead of the wedge relation (Σ outdeg²
    * rows — 41M vs 1.2M edges on the sf0.1 graph, measured): the
    * adjacency attaches to the edge list through two size-gated
    * broadcast joins (vocabulary-sized relation; falls back to shuffle
    * joins past the gate, the standard distributed shape), and the
    * intersection itself is scan-local columnar arithmetic.
    * All-integer: orientation compares (deg, id) lexicographically on
    * the two columns (no packed-int64 rank — packing capped degree and
    * id below 1e9), so orientation and census are bit-identical across
    * engines at any graph size.
    */
  def triangleCensus(li: DataFrame): DataFrame = {
    // copurchaseCounts is itself cached (shared by five rows); the bare
    // two-column projection over it needs no second persist
    val e = copurchaseCounts(li).select("p1", "p2")
    // deg feeds rank, n_nodes AND n_wedges; oriented feeds the adjacency
    // build AND the wedge probe; adj feeds BOTH broadcast sides — all
    // multi-consumer, all edge/node-count-sized, so each is persisted
    // once instead of re-executed per consumer (the census re-ran the
    // orientation joins four times before round 8)
    val deg = e.select(col("p1").as("n")).unionAll(e.select(col("p2").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .persist()
    // orientation order is lexicographic (deg, id), compared on the two
    // columns directly — packing into deg*1e9+id was equivalent but
    // capped both deg and id below 1e9, a silent-wraparound (or ANSI
    // error) wall a 100 TB graph can actually hit
    val oriented = e
      .join(TextOps.broadcastIfSmall(
        deg.select(col("n").as("p1"), col("deg").as("d1"))), "p1")
      .join(TextOps.broadcastIfSmall(
        deg.select(col("n").as("p2"), col("deg").as("d2"))), "p2")
      .select(
        when(col("d1") < col("d2") ||
          (col("d1") === col("d2") && col("p1") < col("p2")),
          col("p1")).otherwise(col("p2")).as("lo"),
        when(col("d1") < col("d2") ||
          (col("d1") === col("d2") && col("p1") < col("p2")),
          col("p2")).otherwise(col("p1")).as("hi"))
      .persist()
    val adj = oriented.groupBy(col("lo").as("n"))
      .agg(array_sort(collect_list(col("hi"))).as("nbrs"))
      .persist()
    CacheRegistry.register(e, Seq(e, deg, oriented, adj))
    val nTri = oriented
      .join(TextOps.broadcastIfSmall(
        adj.select(col("n").as("lo"), col("nbrs").as("alo"))), Seq("lo"), "left")
      .join(TextOps.broadcastIfSmall(
        adj.select(col("n").as("hi"), col("nbrs").as("ahi"))), Seq("hi"), "left")
      .select(size(array_intersect(
        coalesce(col("alo"), array()), coalesce(col("ahi"), array())))
        .cast("long").as("t"))
      .agg(sum("t").as("n_triangles"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    // undirected wedge total Σ d(d−1)/2 — d(d−1) is even, so the halved
    // double is integer-exact
    val nWedges = deg.agg(
      sum((col("deg") * (col("deg") - lit(1L)) / lit(2)).cast("long"))
        .as("n_wedges"))
    nNodes.crossJoin(nEdges).crossJoin(nWedges).crossJoin(nTri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        // global clustering coefficient ×1e6, floored — the operands are
        // exactly-representable int64s, so the floor is cross-engine
        // exact. nullif guard: a matching-only graph (every degree 1) has
        // zero wedges, and an unguarded divide makes floor(Inf) an ANSI
        // cast error — NULL coeff6 instead, identically in the oracle.
        floor(lit(3.0) * col("n_triangles") * 1000000L /
            nullif(col("n_wedges"), lit(0L)))
          .cast("long").as("coeff6"))
  }

  /** 2D Pareto skyline (minimize `price`, maximize `size`) over a
    * (key, price, size) relation — the multi-objective frontier query
    * recommendation and pricing pipelines run. A point survives iff no
    * other point has price ≤ AND size ≥ with one strict.
    *
    * Distributed two-phase shape (no unpartitioned window over the
    * data): (1) per-price max collapses the relation to one row per
    * distinct price (ordinary partial-aggregated shuffle); (2) a range
    * shuffle on price + in-partition sort, a SCAN-LOCAL prefix-max walk
    * per partition, and a broadcast (n_partitions)-sized per-partition
    * max table — bounded by the CLUSTER, not the data, its prefix
    * computed in-row over the collected list (the [[TextOps.shuffleOrder]]
    * offset idiom) — decide dominance against all strictly-cheaper
    * prices. Surviving (price, max size) pairs join back to recover
    * every member row (ties on both axes are mutually non-dominated and
    * all kept).
    */
  def skyline2d(p: DataFrame, keyCol: String, priceCol: String,
                sizeCol: String): DataFrame = {
    val session = p.sparkSession
    import session.implicits._
    val perPrice = p.groupBy(col(priceCol).as("price"))
      .agg(max(col(sizeCol).cast("long")).as("msize"))
    val sorted = perPrice
      .repartitionByRange(col("price"))
      .sortWithinPartitions("price")
      .select(col("price").as[Double], col("msize").as[Long])
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var runMax = Long.MinValue
        it.map { case (price, m) =>
          val prev = runMax
          if (m > runMax) runMax = m
          (pid, price, m, prev)
        }
      }.toDF("pid", "price", "msize", "local_prev")
      .cache()
    CacheRegistry.register(sorted, Seq(sorted))
    // per-partition prefix max, in-row over the bounded stat list (MinValue
    // +1 as the identity: one below any real msize, and a plain SQL long
    // literal — MinValue itself can't be written as a negated literal)
    val offs = sorted.groupBy("pid").agg(max("msize").as("pm"))
      .agg(sort_array(collect_list(struct(col("pid"), col("pm")))).as("cs"))
      .select(explode(expr(
        "transform(cs, (x, i) -> struct(x.pid AS pid, " +
          "aggregate(slice(cs, 1, i), -9223372036854775807L, " +
          "(a, y) -> greatest(a, y.pm)) AS ppm))")).as("e"))
      .select(col("e.pid").as("pid"), col("e.ppm").as("prev_part_max"))
    val sky = sorted.join(broadcast(offs), "pid")
      .filter(col("msize") > greatest(col("local_prev"), col("prev_part_max")))
      .select(col("price").as("sky_price"), col("msize").as("sky_size"))
    p.join(TextOps.broadcastIfSmall(sky),
        col(priceCol) === col("sky_price") &&
          col(sizeCol).cast("long") === col("sky_size"))
      .select(col(keyCol), col(priceCol).as("price"),
        col(sizeCol).cast("long").as("psize"))
  }

  /** k-core decomposition of the (co-purchased ≥ 2 times) part graph —
    * iterative peeling: drop every node with fewer than k live
    * neighbors, recompute degrees, repeat to the FIXPOINT. The k-core
    * (maximal subgraph with min degree ≥ k) is unique, so the result is
    * partitioning- and order-independent.
    *
    * Distributed shape, per round: two LEFT SEMI joins restrict the
    * cached edge relation (persisted PRE-PARTITIONED on `s`, the
    * pagerank layout — only the node-count-sized live set moves per
    * round) to live×live, then one partial-aggregated degree count.
    * Each iterate localCheckpoints so lineage stays flat; the driver
    * sees ONE scalar per round (the live count, for the convergence
    * test). Rounds are bounded by the peel depth of the graph, not its
    * size.
    */
  /** Bidirectional edge relation of the repeat-co-purchase graph
    * (n_orders ≥ 2), cached PRE-PARTITIONED on the per-round join key —
    * the layout every iterative consumer ([[kcore]], [[bfsLevels]])
    * joins against each round.
    */
  private def repeatCopurchaseEdges(li: DataFrame): DataFrame = {
    val pairs = copurchaseCounts(li).filter(col("n_orders") >= 2).select("p1", "p2")
    val edges = pairs.select(col("p1").as("s"), col("p2").as("d"))
      .union(pairs.select(col("p2").as("s"), col("p1").as("d")))
      .repartition(col("s")).persist()
    CacheRegistry.register(edges, Seq(edges))
    edges
  }

  def kcore(li: DataFrame, k: Int): DataFrame = {
    val edges = repeatCopurchaseEdges(li)
    CacheRegistry.memoizeResult(edges, ("kcore", k)) {
      kcoreCompute(edges, k)
    }
  }

  private def kcoreCompute(edges: DataFrame, k: Int): DataFrame = {
    def liveRestrict(live: DataFrame): DataFrame =
      edges
        .join(live, edges("s") === live("n"), "left_semi")
        .join(live.withColumnRenamed("n", "m"), col("d") === col("m"), "left_semi")
    var live = edges.select(col("s").as("n")).distinct().localCheckpoint()
    var nLive = live.count()
    var converged = false
    while (!converged) {
      val next = liveRestrict(live)
        .groupBy("s").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("s").as("n"))
        .localCheckpoint()
      val n2 = next.count()
      converged = n2 == nLive
      nLive = n2
      live = next
    }
    liveRestrict(live)
      .groupBy(col("s").as("part"))
      .agg(count(lit(1)).as("core_deg"))
  }

  /** Single-source BFS levels over the repeat-co-purchase graph from its
    * minimum node id — iterative frontier expansion: per round, the
    * frontier joins the cached pre-partitioned edge relation, already-
    * visited nodes drop by anti-join, and the loop ends when a frontier
    * comes back empty (rounds = the source's eccentricity, never the
    * graph size). Unreachable nodes are simply absent. One driver scalar
    * per round (the frontier count — the kcore/pagerank idiom).
    */
  def bfsLevels(li: DataFrame): DataFrame = {
    val edges = repeatCopurchaseEdges(li)
    CacheRegistry.memoizeResult(edges, "bfsLevels") {
      bfsLevelsCompute(edges, li.sparkSession)
    }
  }

  private def bfsLevelsCompute(
      edges: DataFrame, spark: SparkSession): DataFrame = {
    val srcRow = edges.agg(min("s")).head()
    if (srcRow.isNullAt(0)) // empty graph: no source, empty level relation
      return spark.range(0).select(col("id").as("part"), col("id").as("lvl"))
    val source = srcRow.getLong(0)
    var levels = spark.range(1)
      .select(lit(source).as("node"), lit(0L).as("lvl"))
      .localCheckpoint()
    var frontier = levels
    var round = 0L
    var done = false
    while (!done) {
      round += 1
      val next = edges
        .join(frontier.select(col("node").as("fn")), col("s") === col("fn"))
        .select(col("d").as("node")).distinct()
        .join(levels, Seq("node"), "left_anti")
        .select(col("node"), lit(round).as("lvl"))
        .localCheckpoint()
      if (next.isEmpty) done = true
      else {
        levels = levels.unionAll(next).localCheckpoint()
        frontier = next
      }
    }
    levels.orderBy("node").select(col("node").as("part"), col("lvl"))
  }

  /** DuckDB oracle for [[kcore]]: `rounds` chained peel CTEs (the
    * pagerank chained-iterate pattern — peeling is idempotent after
    * convergence, so any rounds ≥ the actual peel depth is exact; the
    * measured depth is ≤ 5 across the shipped corpus SFs, and a too-low
    * bound fails the gate loudly rather than silently). Every CTE a
    * round references TWICE is AS MATERIALIZED: inlined, each round
    * would re-expand its predecessor twice — 2^rounds replays of the
    * pair mining (measured: minutes at sf0.01 vs milliseconds
    * materialized).
    */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val base =
      """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pc AS MATERIALIZED (
        |  SELECT x.l_partkey AS p1, y.l_partkey AS p2
        |  FROM op x JOIN op y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), e AS MATERIALIZED (
        |  SELECT p1 AS s, p2 AS d FROM pc UNION ALL SELECT p2, p1 FROM pc
        |), l0 AS MATERIALIZED (SELECT DISTINCT s AS n FROM e)""".stripMargin
    val rnds = (1 to rounds).map { i =>
      s"l$i AS MATERIALIZED (SELECT e.s AS n FROM e JOIN l${i - 1} a ON e.s = a.n " +
        s"JOIN l${i - 1} b ON e.d = b.n GROUP BY e.s HAVING count(*) >= $k)"
    }.mkString(",\n")
    base + ",\n" + rnds +
      s"""
         |SELECT e.s AS part, CAST(count(*) AS BIGINT) AS core_deg
         |FROM e JOIN l$rounds a ON e.s = a.n JOIN l$rounds b ON e.d = b.n
         |GROUP BY e.s ORDER BY part""".stripMargin
  }

  /** ABC (Pareto) classification — every part labeled A/B/C by its
    * position in the GLOBAL cumulative revenue distribution (A = the
    * head covering 70% of revenue, B to 90%, C the tail). The global
    * running sum is the [[TextOps.shuffleOrder]] machinery with SUM
    * prefixes instead of counts: one range shuffle on (rev desc, key),
    * a scan-local per-partition running sum, and a broadcast
    * (n_partitions)-sized partition-total table whose prefix (and the
    * grand total) are computed in-row — no single-task window over the
    * parts, which is what the oracle's global window does and a 100 TB
    * plan must not. Revenue is per-row-quantized integer cents, so
    * every cumulative value and class boundary is cross-engine exact.
    */
  def abcClasses(li: DataFrame): DataFrame = {
    val session = li.sparkSession
    import session.implicits._
    val pr = li.groupBy(col("l_partkey").as("p"))
      .agg(sum(floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
        .as("rev"))
    val sorted = pr.repartitionByRange(col("rev").desc, col("p"))
      .sortWithinPartitions(col("rev").desc, col("p"))
      .select(col("p").as[Long], col("rev").as[Long])
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var run = 0L
        it.map { case (p, rev) => run += rev; (pid, p, rev, run) }
      }.toDF("pid", "p", "rev", "lcum")
      .cache()
    CacheRegistry.register(sorted, Seq(sorted))
    val offs = sorted.groupBy("pid").agg(sum("rev").as("ps"))
      .agg(sort_array(collect_list(struct(col("pid"), col("ps")))).as("cs"))
      .select(expr("aggregate(cs, 0L, (a, y) -> a + y.ps)").as("t"),
        explode(expr(
          "transform(cs, (x, i) -> struct(x.pid AS pid, " +
            "aggregate(slice(cs, 1, i), 0L, (a, y) -> a + y.ps) AS off))"))
          .as("e"))
      .select(col("e.pid").as("pid"), col("e.off").as("off"), col("t"))
    // boundary compare in decimal(38,0): cum·100 and t·90 both overflow
    // int64 once total revenue passes ~1e17 cents (≈ TPC-H SF 1e4) — at
    // the 100 TB target the int64 form wraps negative and labels garbage
    val cumD = col("cum").cast("decimal(38,0)") * 100
    val tD = col("t").cast("decimal(38,0)")
    sorted.join(broadcast(offs), "pid")
      .withColumn("cum", col("off") + col("lcum"))
      .select(col("p").as("p_partkey"), col("rev").as("rev_cents"),
        col("cum").as("cum_cents"),
        when(cumD <= tD * 70, "A")
          .when(cumD <= tD * 90, "B")
          .otherwise("C").as("abc"))
      .orderBy("p_partkey")
  }

  /** Content-fingerprinted identity of a corpus table file — the reuse
    * key for the pay-once layout operators (bucketed tables, DPP
    * partition layouts). Keying on the PATH alone would serve a stale
    * layout after the corpus is regenerated in place (the driver ships
    * new testdata generations at the same paths); folding in the source
    * file's length and mtime makes a regenerated corpus a new key. MD5
    * over the whole identity string also removes the 32-bit
    * String.hashCode collision risk between distinct paths.
    */
  private[graft] def layoutTag(s: SparkSession, dir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
    // two-part tag <pathHash>_<contentHash>: the PATH part scopes stale-
    // layout pruning (an sf0.01 layout must not evict the sf0.1 one —
    // different paths, both live); the CONTENT part (length+mtime) makes
    // an in-place corpus regeneration a new key, so the superseded
    // generation's layout is identifiable garbage under the same path hash.
    def md5(id: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(id.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    s"${md5(s"$dir|$table")}_${md5(s"${st.getLen}|${st.getModificationTime}")}"
  }

  /** The path-scoped prefix of a [[layoutTag]] — everything up to and
    * including the `_` that separates the path hash from the content
    * hash. Layout dirs sharing this prefix describe the SAME source path;
    * among those, any tag other than the current one is superseded.
    */
  private[graft] def layoutPathPrefix(tag: String): String =
    tag.substring(0, tag.indexOf('_') + 1)

  /** Delete sibling pay-once layout dirs whose corpus tag differs from
    * the current one. Layout dirs are keyed by [[layoutTag]] (content
    * fingerprint), so each corpus regeneration mints a new dir — without
    * pruning, every generation leaks a full partitioned/bucketed copy of
    * its table into /tmp or the warehouse. `parent/prefix<tag>` naming:
    * anything matching the prefix with a DIFFERENT tag is superseded.
    */
  private[graft] def pruneStaleLayouts(
      s: SparkSession, parent: String, prefix: String, keepName: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(parent)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    // same recent-mtime cutoff as pruneLegacyLayouts: a superseded-
    // generation dir can still be mid-read by a concurrent session that
    // started on the old corpus — deleting it would fail that session's
    // in-flight scan. A recently-written stale dir survives one sweep
    // window (bounded leak) and goes on the next call.
    val cutoff = System.currentTimeMillis() - 60L * 60L * 1000L
    if (fs.exists(dir)) {
      fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(prefix) && n != keepName &&
            st.getModificationTime < cutoff)
          try fs.delete(st.getPath, true) catch { case _: Exception => () }
      }
    }
  }

  /** One-time sweep of LEGACY layout dirs: earlier rounds tagged layouts
    * with other formats (a bare 32-bit hash, then a single 16-hex MD5) —
    * the path-scoped pruner above never matches them, so they'd leak
    * forever. Anything under `basePrefix` whose suffix is NOT the current
    * `<16hex>_<16hex>` two-part tag is a superseded generation (current
    * layouts of OTHER corpus paths all carry the two-part tag and are
    * kept). Deletes are best-effort (another user's dir fails on
    * permissions and is skipped). Safety scope on a sweep that
    * recursively deletes by name pattern: any candidate with a recent
    * mtime is skipped — a concurrently running older-build session's
    * layout is recently written, and deleting it mid-read would fail
    * that session's in-flight query. Truly-abandoned legacy dirs age
    * past the window and get swept on a later call. Callers pass the
    * BARE family prefix (not user-scoped): the oldest legacy formats
    * predate the per-user naming, and a user-scoped prefix would leak
    * them forever.
    */
  private[graft] def pruneLegacyLayouts(
      s: SparkSession, parent: String, basePrefix: String): Unit = {
    val current = ("^" + java.util.regex.Pattern.quote(basePrefix) +
      "(?:.+_)?[0-9a-f]{16}_[0-9a-f]{16}$").r
    val recentMs = 60L * 60L * 1000L
    val cutoff = System.currentTimeMillis() - recentMs
    val dir = new org.apache.hadoop.fs.Path(parent)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) {
      fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(basePrefix) && current.findFirstIn(n).isEmpty &&
            st.getModificationTime < cutoff)
          try fs.delete(st.getPath, true) catch { case _: Exception => () }
      }
    }
  }

  /** Inverted-trigram accelerated substring search (see the
    * `part_trigram_search` entry). Lossless for patterns of ≥ 3 characters.
    */
  def trigramSearch(parts: DataFrame, pat: String): DataFrame = {
    require(pat.length >= 3, "trigram prefilter is lossless only for >=3 chars")
    val qtris = pat.sliding(3).toSeq.distinct
    // index build: native one-pass char_trigrams (round 17) replaces the
    // transform(sequence)+array_distinct HOF pipeline — CodegenFallback,
    // interpreted lambda per trigram per row — and the scan is spread
    // first so the per-row trigram generation doesn't run inside the
    // one-file corpus' single scan task (no-op at real scan parallelism)
    val tri = TextOps.spreadScan(parts).select(col("p_partkey"),
      explode(graft.functions.GraftFunctions.char_trigrams(col("p_name"))).as("tg"))
    val cand = tri.filter(col("tg").isin(qtris: _*))
      .groupBy("p_partkey").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === qtris.size)
    parts.join(cand.select("p_partkey"), "p_partkey")
      .filter(col("p_name").contains(pat))
      .select("p_partkey", "p_name")
      .orderBy("p_partkey")
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(

    // TPC-H Q1-style pricing summary: the canonical partial-agg shape.
    ("q1_pricing_summary",
      (s: SparkSession, d: String) =>
        lineitem(s, d)
          .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
            round(avg("l_quantity"), 4).as("avg_qty"),
            round(avg("l_discount"), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some(
        """SELECT l_returnflag, l_linestatus,
          |       round(sum(l_quantity), 2) AS sum_qty,
          |       round(sum(l_extendedprice), 2) AS sum_base_price,
          |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
          |       round(avg(l_quantity), 4) AS avg_qty,
          |       round(avg(l_discount), 4) AS avg_disc,
          |       CAST(count(*) AS BIGINT) AS count_order
          |FROM lineitem
          |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Range-partitioned layout — the write-side organization that makes
    // data skipping work at 100 TB: repartitionByRange on the filter
    // column gives every output file a disjoint min/max range, so a
    // shipdate predicate prunes whole files from the scan. The gate
    // verifies the layout CONTRACT in-query: per-partition (min, max)
    // ranges are pairwise disjoint (checked over the ≤8-row partition
    // summary via a lag window), the partition count is bounded, and no
    // row was lost. Only the bounded summary ever leaves the executors.
    ("lineitem_range_layout",
      (s: SparkSession, d: String) => {
        val parts = lineitem(s, d)
          .select(col("l_shipdate"))
          .repartitionByRange(8, col("l_shipdate"))
          .select(spark_partition_id().as("pid"), col("l_shipdate"))
          .groupBy("pid")
          .agg(count(lit(1)).as("n_rows"),
            min("l_shipdate").as("mn"), max("l_shipdate").as("mx"))
        val w = Window.orderBy("mn", "pid")
        parts
          .withColumn("prev_mx", lag("mx", 1).over(w))
          .agg(
            sum("n_rows").as("n_rows_total"),
            (count(lit(1)) <= 8).as("parts_bounded"),
            // STRICT >: RangePartitioner routes equal keys to one
            // partition, so a shared boundary value between adjacent
            // partitions would mean the layout contract broke — mn ==
            // prev_mx must fail the check, not pass it
            (sum(when(col("prev_mx").isNull || col("mn") > col("prev_mx"), 0L)
              .otherwise(1L)) === 0).as("ranges_disjoint"))
      },
      Some(
        """SELECT CAST(count(*) AS BIGINT) AS n_rows_total,
          |       true AS parts_bounded, true AS ranges_disjoint
          |FROM lineitem""".stripMargin)),

    // TPC-H Q3-style: broadcast dim join + shuffle agg + top-k.
    ("q3_top_orders",
      (s: SparkSession, d: String) => {
        val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val o = orders(s, d).filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        val l = lineitem(s, d)
        l.join(broadcast(o.join(broadcast(c), o("o_custkey") === c("c_custkey"))),
            l("l_orderkey") === o("o_orderkey"))
          .groupBy(o("o_orderkey").as("o_orderkey"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some(
        """SELECT o_orderkey,
          |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM lineitem
          |JOIN orders   ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          |GROUP BY o_orderkey
          |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)),

    // TPC-H Q5-style: five-way join, all dims broadcast, revenue by nation.
    ("q5_nation_revenue",
      (s: SparkSession, d: String) => {
        val l = lineitem(s, d)
        val o = orders(s, d)
        val c = customer(s, d)
        val sup = supplier(s, d)
        val n = nation(s, d)
        l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey") &&
            sup("s_nationkey") === c("c_nationkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some(
        """SELECT n_name,
          |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM lineitem
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN orders   ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
          |JOIN nation   ON c_nationkey = n_nationkey
          |GROUP BY n_name
          |ORDER BY revenue DESC, n_name""".stripMargin)),

    // Sort / top-k.
    ("top_orders_by_price",
      (s: SparkSession, d: String) =>
        orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10),
      Some(
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // Window functions: rank + running sum per customer.
    ("window_rank_orders",
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        orders(s, d)
          // same-key repartition at worker parallelism — the rank +
          // running-sum windows reuse this exchange (see hotPartitions)
          .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
          .repartition(TextOps.hotPartitions(s), col("o_custkey"))
          .withColumn("rn", row_number().over(w))
          .withColumn("running_spend",
            round(sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
          .filter(col("rn") <= 3)
          .select("o_custkey", "rn", "o_orderkey", "running_spend")
          .orderBy("o_custkey", "rn")
      },
      Some(
        """SELECT o_custkey, rn, o_orderkey, running_spend FROM (
          |  SELECT o_custkey, o_orderkey,
          |         CAST(row_number() OVER w AS INTEGER) AS rn,
          |         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
          |           ORDER BY o_orderdate, o_orderkey
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
          |  FROM orders
          |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
          |) t WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // Distribution window functions — percent_rank / cume_dist / ntile,
    // the remaining ANSI window family (rank/row_number and frames are
    // covered above). All three are rational functions of integer ranks
    // (e.g. (rank−1)/(n−1)): both engines compute the identical IEEE
    // division, so the doubles are emitted RAW — unrounded — and still
    // hash-equal. Per-priority partitions: the window is partitioned, so
    // it scales with the key space, never a global sort. The 1-in-101
    // keyed sample keeps the gate artifact small without touching the
    // window semantics (filter applies after the window).
    ("window_distribution_orders",
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        orders(s, d)
          .withColumn("pr", percent_rank().over(w))
          .withColumn("cd", cume_dist().over(w))
          .withColumn("tile7", ntile(7).over(w))
          .filter(col("o_orderkey") % 101 === 0)
          .select(col("o_orderpriority"), col("o_orderkey"),
            round(col("o_totalprice"), 2).as("o_totalprice"),
            col("pr"), col("cd"), col("tile7"))
          .orderBy("o_orderpriority", "o_orderkey")
      },
      Some(
        """SELECT o_orderpriority, o_orderkey,
          |       round(o_totalprice, 2) AS o_totalprice, pr, cd, tile7
          |FROM (
          |  SELECT o_orderpriority, o_orderkey, o_totalprice,
          |         percent_rank() OVER w AS pr,
          |         cume_dist() OVER w AS cd,
          |         CAST(ntile(7) OVER w AS INTEGER) AS tile7
          |  FROM orders
          |  WINDOW w AS (PARTITION BY o_orderpriority
          |               ORDER BY o_totalprice, o_orderkey)
          |) t WHERE o_orderkey % 101 = 0
          |ORDER BY o_orderpriority, o_orderkey""".stripMargin)),

    // Exact interpolated percentiles per group (p50/p90/p99) — the
    // latency-quantile shape. Spark's `percentile` and DuckDB's
    // `quantile_cont` both do continuous linear interpolation over the
    // sorted group; like exact median this buffers the group (the
    // documented exact-variant cost; approx_percentile is the sketch
    // path at 100 TB).
    ("lineitem_percentiles_exact",
      (s: SparkSession, d: String) =>
        lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
            round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
            round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      Some(
        """SELECT l_returnflag,
          |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
          |       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
          |       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
          |       CAST(count(*) AS BIGINT) AS n
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Set operations: UNION (distinct) then EXCEPT (distinct), integer keys.
    ("setop_customers",
      (s: SparkSession, d: String) => {
        val c = customer(s, d)
        val a = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val b = c.filter(col("c_acctbal") > 9000).select("c_custkey")
        val m = c.filter(col("c_mktsegment") === "MACHINERY").select("c_custkey")
        a.union(b).distinct().except(m).orderBy("c_custkey")
      },
      Some(
        """(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
          | UNION
          | SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
          |EXCEPT
          |SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
          |ORDER BY c_custkey""".stripMargin)),

    // Grouping sets via ROLLUP.
    ("rollup_orders",
      (s: SparkSession, d: String) =>
        orders(s, d)
          .rollup("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
          .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      Some(
        """SELECT o_orderstatus, o_orderpriority,
          |       CAST(count(*) AS BIGINT) AS n,
          |       round(sum(o_totalprice), 2) AS total
          |FROM orders
          |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
          |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // Grouping sets via CUBE (all four grouping combinations).
    ("cube_orders",
      (s: SparkSession, d: String) =>
        orders(s, d)
          .cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      Some(
        """SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
          |FROM orders
          |GROUP BY CUBE (o_orderstatus, o_orderpriority)
          |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // Explicit GROUPING SETS — the two single-dimension aggregates in one
    // pass (neither ROLLUP nor CUBE: no grand total, no pair cell). Spark
    // expands the sets before the shuffle, so it stays one
    // partial-aggregated exchange like any groupBy.
    ("orders_grouping_sets",
      (s: SparkSession, d: String) =>
        orders(s, d)
          .groupingSets(
            Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
          .orderBy(col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first),
      Some(
        """SELECT o_orderstatus, o_orderpriority,
          |       CAST(count(*) AS BIGINT) AS n,
          |       round(sum(o_totalprice), 2) AS total
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
          |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // Distinct aggregation (exact; the approx_count_distinct sketch variant
    // is not oracle-comparable across engines).
    ("distinct_agg_lineitem",
      (s: SparkSession, d: String) =>
        lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_suppkey")).as("n_suppliers"),
            countDistinct(col("l_partkey")).as("n_parts"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag"),
      Some(
        """SELECT l_returnflag,
          |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
          |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
          |       CAST(count(*) AS BIGINT) AS n_rows
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Skew-resistant aggregation: the two-stage salt pattern (salt the hot
    // key space into 16 shards, partial-aggregate per shard, then combine).
    // Same relation as a direct groupBy — which is exactly the oracle — but
    // the first shuffle distributes a skewed key across 16 reducers. At
    // 100 TB this is the shape for power-law keys (AQE skew-join handles
    // joins; salting handles aggregations).
    ("events_type_salted_agg",
      (s: SparkSession, d: String) =>
        events(s, d)
          .withColumn("salt", pmod(col("event_id"), lit(16)))
          .groupBy("event_type", "salt")
          .agg(count(lit(1)).as("pn"), sum("value").as("pv"))
          .groupBy("event_type")
          .agg(sum("pn").as("n"), round(sum("pv"), 2).as("sum_value"))
          .orderBy("event_type"),
      Some(
        """SELECT event_type,
          |       CAST(count(*) AS BIGINT) AS n,
          |       round(sum(value), 2) AS sum_value
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Salted SKEW JOIN — the join-side twin of events_type_salted_agg's
    // aggregate salting: joining a big fact on a 3-value key
    // (l_returnflag) hash-partitions the whole table into 3 tasks no
    // matter the cluster size. The salted form replicates the SMALL side
    // ×16 (one row per salt) and salts the big side with a
    // value-independent row hash, so the equi-join key (flag, salt)
    // spreads each hot key over 16 tasks; the result is identical to the
    // plain join by construction, which is exactly the oracle. (AQE's
    // runtime skew-join split is the automatic variant; this is the
    // explicit pattern for engines/paths where it doesn't apply.)
    ("lineitem_salted_join",
      (s: SparkSession, d: String) => {
        val flagDim = lineitem(s, d).select(col("l_returnflag").as("flag")).distinct()
          .withColumn("flag_label", concat(lit("flag_"), col("flag")))
        // salt width DERIVED from the parallelism the hot keys must fill
        // (guide §2.5), not a constant 16: with ~3 distinct flags, each
        // hot key needs ~(target cores / hot keys) shards to spread one
        // key's rows over the machine; hotPartitions is the session's
        // capped exchange width, so the salted key space is ≥ it and the
        // skewed aggregate fans to every core at any deployment size.
        // Result-invariant: the dim side carries exactly one row per
        // (flag, salt), so any width ≥ 1 yields the identical join/agg.
        val salt = TextOps.hotPartitions(s)
        val saltedDim = flagDim
          .withColumn("salt", explode(sequence(lit(0), lit(salt - 1))))
        // NO spread on the fact side (measured, round 17): repartitioning
        // the scan before the salting hash ships every fact row through an
        // extra exchange whose serial write side (624 ms over the 3 scan
        // tasks) costs twice what the fused probe+partial-agg saves
        // (330 ms) — the per-row work here is too cheap to buy its rows an
        // exchange (guide §2.3: the probe is salt+broadcast-probe only)
        lineitem(s, d)
          .select(col("l_returnflag").as("flag"), col("l_quantity"),
            pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salt))
              .cast("int").as("salt"))
          .join(broadcast(saltedDim), Seq("flag", "salt"))
          .groupBy("flag_label")
          .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
          .orderBy("flag_label")
      },
      Some(
        """SELECT 'flag_' || l_returnflag AS flag_label,
          |       CAST(count(*) AS BIGINT) AS n,
          |       round(sum(l_quantity), 2) AS sum_qty
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Cohort LTV curves — the revenue twin of events_retention_cohorts:
    // customers cohorted by FIRST-order month, cumulative revenue per
    // cohort by months-since-first. Shape: one per-customer min
    // aggregate (the cohort), one (cohort, age) partial-agg, and a
    // cumulative window over the tiny (cohorts × ages) relation — the
    // orders fact shuffles once on o_custkey, the window never sees it.
    ("orders_cohort_ltv",
      (s: SparkSession, d: String) => {
        // cached (round 17): the cohort aggregate and the byAge join each
        // re-scanned orders (two ~180-320 ms single-task scans per pass);
        // the cached rows are three narrow columns per order
        val o = orders(s, d).select(col("o_custkey"),
          ((year(col("o_orderdate")) * 12) + month(col("o_orderdate")))
            .cast("long").as("m"),
          col("o_totalprice"))
          .cache()
        graft.operators.CacheRegistry.register(o, Seq(o))
        val first = o.groupBy("o_custkey").agg(min("m").as("m0"))
        val byAge = o.join(first, "o_custkey")
          .groupBy(col("m0").as("cohort_month"), (col("m") - col("m0")).as("age"))
          .agg(sum("o_totalprice").as("rev"))
        val w = Window.partitionBy("cohort_month").orderBy("age")
          .rowsBetween(Window.unboundedPreceding, 0)
        byAge
          .select(col("cohort_month"), col("age"),
            round(col("rev"), 2).as("rev"),
            round(sum("rev").over(w), 2).as("cum_rev"))
          .orderBy("cohort_month", "age")
      },
      Some(
        """WITH o AS (
          |  SELECT o_custkey,
          |         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
          |         o_totalprice
          |  FROM orders
          |), f AS (SELECT o_custkey, min(m) AS m0 FROM o GROUP BY 1),
          |a AS (
          |  SELECT f.m0 AS cohort_month, o.m - f.m0 AS age,
          |         sum(o.o_totalprice) AS rev
          |  FROM o JOIN f USING (o_custkey) GROUP BY 1, 2
          |)
          |SELECT cohort_month, age, round(rev, 2) AS rev,
          |       round(sum(rev) OVER (PARTITION BY cohort_month ORDER BY age
          |         ROWS UNBOUNDED PRECEDING), 2) AS cum_rev
          |FROM a ORDER BY cohort_month, age""".stripMargin)),

    // Approximate sketches (HLL++ distinct count, quantile summaries) — the
    // constant-memory path for cardinality/quantiles at 100 TB. Sketch
    // internals are engine-specific, so no SQL oracle; ApproxSpec bounds
    // the error against the exact values instead.
    // Sketches (HLL++ distinct, approximate percentiles). The sketch values
    // are engine-defined, so the gate emits a SELF-VERIFYING form: the
    // approximations are compared against exact aggregates computed in the
    // SAME query, and the oracle asserts the exact count plus the bounded-
    // error booleans — the driver now checks the error bounds every round
    // instead of a spec doing it once. Bounds: HLL++ at rsd 0.05 gets a
    // 2σ (10%) bound — measured worst error is 6.7% at sf0.1;
    // percentile_approx at accuracy 1000 has rank error ≤ 0.1% per group.
    ("events_approx_stats",
      (s: SparkSession, d: String) =>
        events(s, d)
          .groupBy("event_type")
          .agg(
            countDistinct(col("user_id")).as("exact_users"),
            approx_count_distinct(col("user_id")).as("au"),
            percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(1000)).as("ap"),
            expr("percentile(value, array(0.5D, 0.95D))").as("ep"))
          .select(col("event_type"), col("exact_users"),
            (abs(col("au") - col("exact_users")) <= col("exact_users") * 0.10)
              .as("users_ok"),
            (abs(element_at(col("ap"), 1) - element_at(col("ep"), 1)) <=
              abs(element_at(col("ep"), 1)) * 0.05).as("p50_ok"),
            (abs(element_at(col("ap"), 2) - element_at(col("ep"), 2)) <=
              abs(element_at(col("ep"), 2)) * 0.05).as("p95_ok"))
          .orderBy("event_type"),
      Some(
        """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
          |       true AS users_ok, true AS p50_ok, true AS p95_ok
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // HLL sketch MERGE — the incremental form of approx distinct (the
    // shape above computes one sketch per group; real 100 TB pipelines
    // keep PER-PARTITION/PER-DAY sketches and union them, never
    // re-scanning history). The register state unions losslessly, but
    // Datasketches marks a union-built sketch out-of-order and estimates
    // it with the non-composite estimator, so the merged ESTIMATE is only
    // near-identical to the direct one (bit-equality held below ~1k
    // cardinality where sketches stay in exact mode, and failed at sf0.1's
    // 1500 users/type — measured, hence the 2% band). Asserted in-query
    // (`merge_close`), alongside the usual accuracy bound vs the exact
    // count; the oracle checks the exact count and expects the two
    // invariant booleans TRUE (the self-verifying pattern of
    // loki_time_defaults / approx_stats).
    ("events_hll_distinct_merge",
      (s: SparkSession, d: String) => {
        val ev = events(s, d).select(col("event_type"), col("user_id"))
        val direct = ev.groupBy("event_type").agg(
          countDistinct(col("user_id")).as("n_exact"),
          expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est_direct"))
        val merged = ev
          .withColumn("slice", pmod(col("user_id"), lit(8)))
          .groupBy("event_type", "slice")
          .agg(expr("hll_sketch_agg(user_id)").as("sk"))
          .groupBy("event_type")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_merged"))
        direct.join(merged, "event_type")
          .select(col("event_type"), col("n_exact"),
            (abs(col("est_direct") - col("est_merged")) <=
              col("n_exact") * 0.02).as("merge_close"),
            (abs(col("est_direct") - col("n_exact")) <=
              col("n_exact") * 0.05).as("within_5pct"))
          .orderBy("event_type")
      },
      Some(
        """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
          |       true AS merge_close, true AS within_5pct
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Algebraic partial-aggregate merge — materialized-view maintenance:
    // per-slice partial states (n, Σv, Σv², min, max) merge by pure
    // addition/min/max into totals with derived mean and a variance
    // numerator, WITHOUT re-touching the rows (at 100 TB yesterday's
    // partials are never recomputed). Values quantize to ×1000
    // fixed-point first, so every state is an int64 and the merge is
    // bit-exact regardless of slice order — the oracle recomputes the
    // same integers directly from the rows, proving merged ≡ direct.
    // The derived variance NUMERATOR n·Σv² − (Σv)² is decimal(38,0),
    // not int64: it grows ×N² with row count (n·Σv² ≈ 2e17 at sf0.1 —
    // only ~46× headroom, gone well before 100 TB; the ×64 scale smoke
    // measured the int64 version overflowing), while the merge STATES
    // stay int64 — the partial representation is scale-safe, only the
    // final derivation needs width. DuckDB mirrors exactly: its
    // sum(BIGINT) is already HUGEINT, cast to the same DECIMAL(38,0).
    ("events_partial_agg_merge",
      (s: SparkSession, d: String) => {
        val ev = events(s, d).select(col("event_type"),
          floor(col("value") * lit(1000.0) + lit(0.5)).cast("long").as("v"),
          pmod(col("event_id"), lit(16)).as("slice"))
        ev.groupBy("event_type", "slice")
          .agg(count(lit(1)).as("pn"), sum("v").as("ps"),
            sum(col("v") * col("v")).as("pss"),
            min("v").as("pmn"), max("v").as("pmx"))
          .groupBy("event_type")
          .agg(sum("pn").as("n"), sum("ps").as("sum1000"),
            sum("pss").as("sumsq1000"),
            min("pmn").as("min1000"), max("pmx").as("max1000"))
          .select(col("event_type"), col("n"), col("sum1000"),
            col("sumsq1000"), col("min1000"), col("max1000"),
            scaledDiv("sum1000", "1000", "n").as("mean6"),
            // varq is computed in DECIMAL(38,0) (×N² growth overflows
            // int64) but EMITTED as VARCHAR: the driver's value hash
            // cannot digest a decimal128 terminal symmetrically (round-10
            // red; same class as the round-7 HUGEINT lesson), and the
            // digit string is width-independent. varq ≥ 0 by
            // Cauchy-Schwarz, so no sign-format divergence either.
            varqDecimal(col("n"), col("sum1000"), col("sumsq1000"))
              .cast("string").as("varq"))
          .orderBy("event_type")
      },
      Some(
        """WITH q AS (
          |  SELECT event_type,
          |         CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS v
          |  FROM events
          |)
          |SELECT event_type,
          |       CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(v) AS BIGINT) AS sum1000,
          |       CAST(sum(v * v) AS BIGINT) AS sumsq1000,
          |       min(v) AS min1000, max(v) AS max1000,
          |       CAST((sum(v) * 1000) // count(*) AS BIGINT) AS mean6,
          |       CAST(CAST(count(*) * sum(v * v) - sum(v) * sum(v) AS DECIMAL(38,0)) AS VARCHAR) AS varq
          |FROM q GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Semi + anti join cardinalities in one row.
    ("semi_anti_orders",
      (s: SparkSession, d: String) => {
        val o = orders(s, d)
        val l = lineitem(s, d).select("l_orderkey")
        val withItems = o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
          .agg(count(lit(1)).as("with_items"))
        val withoutItems = o.join(l, o("o_orderkey") === l("l_orderkey"), "left_anti")
          .agg(count(lit(1)).as("without_items"))
        withItems.crossJoin(withoutItems)
      },
      Some(
        """SELECT
          |  CAST((SELECT count(*) FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)) AS BIGINT) AS with_items,
          |  CAST((SELECT count(*) FROM orders WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)) AS BIGINT) AS without_items""".stripMargin)),

    // Statistical aggregates: sample stddev/variance, Pearson correlation,
    // sample covariance (same estimator definitions in both engines).
    // All four stat columns are emitted as SCALED INTEGERS, not doubles:
    // round-to-double kept splitting the driver's value hash on float
    // formatting classes tolerance-free doubles can't escape (round 2:
    // covar_samp ≈ -2.45e-7 rounds to 0.0 in Spark but -0.0 in DuckDB —
    // integers have no signed zero). Scale keeps the round-2 precision
    // (1e-4 / 1e-6). Order of ops matters: round to a whole double FIRST,
    // then cast — DuckDB's double→BIGINT cast rounds while Spark's
    // truncates, so casting a fractional double directly would diverge.
    // Margin analysis is unchanged from round 2: var_samp(l_extendedprice)
    // ~9e8 reported in millions keeps cross-engine summation noise ~1e-9
    // against a 0.5 integer-rounding boundary.
    ("lineitem_stats_agg",
      (s: SparkSession, d: String) =>
        lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            round(stddev(col("l_quantity")) * 1e4, 0).cast("long").as("sd_qty_e4"),
            round(variance(col("l_extendedprice")) / 1e6 * 1e4, 0).cast("long").as("var_price_m_e4"),
            round(corr(col("l_quantity"), col("l_extendedprice")) * 1e4, 0).cast("long").as("corr_qty_price_e4"),
            round(covar_samp(col("l_discount"), col("l_tax")) * 1e6, 0).cast("long").as("cov_disc_tax_e6"))
          .orderBy("l_returnflag"),
      Some(
        """SELECT l_returnflag,
          |       CAST(round(stddev_samp(l_quantity) * 1e4, 0) AS BIGINT) AS sd_qty_e4,
          |       CAST(round(var_samp(l_extendedprice) / 1e6 * 1e4, 0) AS BIGINT) AS var_price_m_e4,
          |       CAST(round(corr(l_quantity, l_extendedprice) * 1e4, 0) AS BIGINT) AS corr_qty_price_e4,
          |       CAST(round(covar_samp(l_discount, l_tax) * 1e6, 0) AS BIGINT) AS cov_disc_tax_e6
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // As-of semantics: attach each event's most recent PRIOR purchase by
    // the same user (the time-series join shape; expressible with an
    // ignore-nulls last() over an unbounded-preceding window, so no custom
    // operator is needed — built-ins compose, per the preference order).
    ("events_asof_prior_purchase",
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        events(s, d)
          .withColumn("prior_purchase_us",
            last(when(col("event_type") === "purchase", unix_micros(col("ts"))),
              ignoreNulls = true).over(w))
          .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_type"), col("prior_purchase_us"))
          .orderBy("event_id")
      },
      Some(
        """SELECT event_id, epoch_us(ts) AS ts_us, event_type,
          |       last_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
          |         OVER (PARTITION BY user_id ORDER BY ts, event_id
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_purchase_us
          |FROM events ORDER BY event_id""".stripMargin)),

    // Range join, bucketized — the scale path for interval joins Spark
    // has no native operator for: a naive `c.us BETWEEN e.us-W AND e.us`
    // theta-join plans as BroadcastNestedLoop (all-pairs per user — dead
    // at 100 TB). Binning both sides into W-wide buckets turns it into an
    // EQUI-join on (user_id, bucket): an event in bucket b can only match
    // window starts in buckets {b-1, b}, so exploding the probe side to 2
    // candidate buckets + the exact residual range filter is lossless,
    // with candidate volume 2×rows instead of |user-group|². Here: for
    // each error event, count same-user clicks in the preceding 10 min.
    ("events_range_join_bucketed",
      (s: SparkSession, d: String) => {
        val W = 600000000L // 10 min in µs
        val ev = events(s, d).select(
          col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        val errors = ev.filter(col("event_type") === "error")
        val probe = errors.select(
          col("event_id"), col("user_id"), col("us"),
          explode(array(floor(col("us") / W) - 1, floor(col("us") / W)))
            .as("bucket"))
        val clicks = ev.filter(col("event_type") === "click").select(
          col("user_id"), col("us").as("cus"),
          floor(col("us") / W).as("bucket"))
        val counts = probe.join(clicks, Seq("user_id", "bucket"))
          .filter(col("cus") >= col("us") - W && col("cus") < col("us"))
          .groupBy("event_id").agg(count(lit(1)).as("n_prior_clicks"))
        errors.select("event_id")
          .join(counts, Seq("event_id"), "left")
          .na.fill(0L, Seq("n_prior_clicks"))
          .orderBy("event_id")
      },
      Some(
        """SELECT e.event_id,
          |       CAST(count(c.event_id) AS BIGINT) AS n_prior_clicks
          |FROM events e LEFT JOIN events c
          |  ON c.user_id = e.user_id AND c.event_type = 'click'
          | AND epoch_us(c.ts) >= epoch_us(e.ts) - 600000000
          | AND epoch_us(c.ts) < epoch_us(e.ts)
          |WHERE e.event_type = 'error'
          |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin)),

    // Pivot: event counts per user as one column per event type.
    ("events_pivot_types",
      (s: SparkSession, d: String) =>
        events(s, d)
          .groupBy("user_id")
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .count()
          .na.fill(0L)
          .orderBy("user_id"),
      Some(
        """SELECT user_id,
          |       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
          |       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
          |       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
          |       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
          |       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Set op: INTERSECT (distinct).
    ("intersect_customers",
      (s: SparkSession, d: String) => {
        val c = customer(s, d)
        c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
          .intersect(c.filter(col("c_acctbal") > 5000).select("c_custkey"))
          .orderBy("c_custkey")
      },
      Some(
        """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
          |INTERSECT
          |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
          |ORDER BY c_custkey""".stripMargin)),

    // Exact median per group (continuous interpolation in both engines).
    ("events_median_value",
      (s: SparkSession, d: String) =>
        events(s, d)
          .groupBy("event_type")
          .agg(round(median(col("value")), 4).as("median_value"),
            count(lit(1)).as("n"))
          .orderBy("event_type"),
      Some(
        """SELECT event_type, round(median(value), 4) AS median_value,
          |       CAST(count(*) AS BIGINT) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Robust anomaly detection: median-absolute-deviation z-scores per
    // event_type (the outlier screen monitoring pipelines run — MAD is
    // insensitive to the outliers it hunts, unlike stddev). Three passes:
    // per-type median, per-type MAD of the deviations, then the anomaly
    // census — the two tiny per-type stat relations attach by BROADCAST,
    // so the event stream is never shuffled; the only exchanges are the
    // per-type partial aggregates. The summary aggregates (count, max,
    // conditional count) are all accumulation-order-independent, so the
    // result is partitioning-stable and oracle-exact. Exact median per
    // group buffers values; at 100 TB swap approx_percentile in — the
    // plan shape (broadcast stat attach, no data shuffle) is the part
    // that must survive scale.
    ("events_anomaly_mad",
      (s: SparkSession, d: String) => {
        val ev = events(s, d).select(col("event_type"), col("value"))
        val med = ev.groupBy("event_type").agg(median(col("value")).as("med"))
        // cached (round 17): the MAD aggregate and the final census each
        // re-ran the scan + median-broadcast join; the cached rows are
        // three narrow columns per event
        val dev = ev.join(broadcast(med), "event_type").cache()
        graft.operators.CacheRegistry.register(dev, Seq(dev))
        val mad = dev.groupBy("event_type")
          .agg(median(abs(col("value") - col("med"))).as("mad"))
        // nullif guard: a type where >= half the values equal the median
        // has MAD = 0, and an unguarded divide yields ±Inf/NaN whose
        // round/compare semantics diverge across engines. NULL rz instead
        // drops identically out of the conditional count and max on both
        // sides (mirrored in the oracle SQL below).
        val rz = lit(0.6745) * (col("value") - col("med")) /
          nullif(col("mad"), lit(0d))
        dev.join(broadcast(mad), "event_type")
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            round(max("med"), 4).as("med"),
            round(max("mad"), 4).as("mad"),
            sum(when(abs(rz) > 3.5, 1L).otherwise(0L)).as("n_anomalies"),
            round(max(abs(rz)), 4).as("max_abs_rz"))
          .orderBy("event_type")
      },
      Some(
        """WITH med AS (
          |  SELECT event_type, median(value) AS med FROM events GROUP BY 1
          |), dev AS (
          |  SELECT e.event_type, e.value, m.med
          |  FROM events e JOIN med m USING (event_type)
          |), mad AS (
          |  SELECT event_type, median(abs(value - med)) AS mad
          |  FROM dev GROUP BY 1
          |)
          |SELECT d.event_type,
          |       CAST(count(*) AS BIGINT) AS n,
          |       round(max(d.med), 4) AS med,
          |       round(max(a.mad), 4) AS mad,
          |       CAST(sum(CASE WHEN abs(0.6745 * (d.value - d.med) / nullif(a.mad, 0)) > 3.5
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
          |       round(max(abs(0.6745 * (d.value - d.med) / nullif(a.mad, 0))), 4) AS max_abs_rz
          |FROM dev d JOIN mad a USING (event_type)
          |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin)),

    // 2D Pareto skyline over part (cheapest price for the size, see
    // [[skyline2d]]): the multi-objective frontier — no other part is
    // both ≤ price and ≥ size with one strict. The oracle replays the
    // same per-price-max + prefix-max logic with a window (single-node
    // DuckDB can afford the global window; the Spark plan must not).
    ("part_skyline",
      (s: SparkSession, d: String) =>
        skyline2d(part(s, d), "p_partkey", "p_retailprice", "p_size")
          .orderBy("price", "p_partkey"),
      Some(
        """WITH pp AS (
          |  SELECT p_retailprice AS price, max(p_size) AS msize
          |  FROM part GROUP BY 1
          |), sky AS (
          |  SELECT price, msize,
          |         max(msize) OVER (ORDER BY price
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          |  FROM pp
          |)
          |SELECT p.p_partkey, p.p_retailprice AS price,
          |       CAST(p.p_size AS BIGINT) AS psize
          |FROM part p
          |JOIN sky s ON p.p_retailprice = s.price AND p.p_size = s.msize
          |WHERE s.pm IS NULL OR s.msize > s.pm
          |ORDER BY price, p_partkey""".stripMargin)),

    // JSON extraction from events.props ({"k": 87}).
    ("events_json_extract",
      (s: SparkSession, d: String) =>
        events(s, d)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy("event_type")
          .agg(sum("k").as("sum_k"), count(lit(1)).as("n"), max("k").as("max_k"))
          .orderBy("event_type"),
      Some(
        """SELECT event_type,
          |       CAST(sum(CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
          |       CAST(count(*) AS BIGINT) AS n,
          |       CAST(max(CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS max_k
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Time-bucketed aggregation (the batch shape of the streaming windowed agg).
    ("events_hourly_window",
      (s: SparkSession, d: String) =>
        events(s, d)
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
          .select(
            unix_micros(col("w.start")).as("bucket_us"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy("bucket_us", "event_type"),
      Some(
        """SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS bucket_us,
          |       event_type,
          |       CAST(count(*) AS BIGINT) AS n,
          |       round(sum(value), 2) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY bucket_us, event_type""".stripMargin)),

    // Sessionization: 30-minute inactivity gap per user (lag + cumulative flag).
    // The plan is deliberately the BARE window pipeline: one hash exchange
    // on user_id + in-partition sort, two Window passes over the same
    // sort (lag → running sum; the second consumes the first, so they
    // can't fuse), then a sort-local aggregate (hash(user_id) already
    // satisfies the (user_id, session_id) clustering — no second
    // exchange) and the deterministic output sort. Column pruning keeps
    // only (user_id, ts, event_id) through the exchange. A pre-aggregated
    // (user_id, ts, cnt) variant (session assignment is tie-invariant, so
    // collapsing equal-(user, ts) rows is sound) was measured WORSE —
    // 0.76 s vs 0.42 s warm at sf0.1 — because event timestamps are
    // distinct per user at every SF: the extra (user_id, ts) exchange
    // buys zero row reduction. Revisit only for corpora with heavy
    // same-instant bursts.
    ("events_sessionize",
      (s: SparkSession, d: String) => {
        val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        events(s, d)
          // explicit narrow projection + same-key repartition at the
          // worker parallelism: the two window passes + session aggregate
          // all ride this one exchange (stage count unchanged), which at
          // the session's data-sized 8 partitions held 3.1 s of task time
          .select("user_id", "ts", "event_id")
          .repartition(TextOps.hotPartitions(s), col("user_id"))
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id", sum("new_session").over(
            byUser.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("dur_us"))
          .orderBy("user_id", "session_id")
      },
      Some(
        """WITH flagged AS (
          |  SELECT user_id, event_id, ts,
          |         CASE WHEN lag(ts) OVER w IS NULL
          |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
          |              THEN 1 ELSE 0 END AS new_session
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |), sess AS (
          |  SELECT user_id, ts,
          |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          |  FROM flagged
          |)
          |SELECT user_id, session_id,
          |       CAST(count(*) AS BIGINT) AS n_events,
          |       max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us
          |FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),

    // CEP-style sequence pattern matching: occurrences of the CONTIGUOUS
    // event pattern click→error→click inside each user's time-ordered
    // stream (the MATCH_RECOGNIZE / complex-event-processing shape —
    // funnel below is the subsequence variant; this one requires
    // adjacency). ONE shuffle: per-user sequences aggregate into a
    // sorted struct array, the per-type initial letters concatenate into
    // a sequence string, and counting is the scan-local replace trick
    // (len − len(replace))/|pat| — non-overlapping left-to-right in both
    // engines, so counts agree exactly. Per-user state is the user's
    // event count (the sessionize bound), never corpus-sized.
    ("events_pattern_sequence",
      (s: SparkSession, d: String) =>
        events(s, d)
          .select(col("user_id"),
            struct(col("ts"), col("event_id"),
              substring(col("event_type"), 1, 1).as("c")).as("e"))
          .groupBy("user_id")
          .agg(array_sort(collect_list("e")).as("es"))
          .select(col("user_id"),
            concat_ws("", expr("transform(es, x -> x.c)")).as("seq"))
          .filter(col("seq").contains("cec"))
          .select(col("user_id"),
            length(col("seq")).cast("long").as("seq_len"),
            expr("(length(seq) - length(replace(seq, 'cec', ''))) div 3")
              .as("n_matches"),
            instr(col("seq"), "cec").cast("long").as("first_pos"))
          .orderBy("user_id"),
      Some(
        """WITH s AS (
          |  SELECT user_id,
          |         string_agg(substr(event_type, 1, 1), ''
          |                    ORDER BY ts, event_id) AS seq
          |  FROM events GROUP BY user_id
          |)
          |SELECT user_id,
          |       CAST(length(seq) AS BIGINT) AS seq_len,
          |       (length(seq) - length(replace(seq, 'cec', ''))) // 3 AS n_matches,
          |       CAST(instr(seq, 'cec') AS BIGINT) AS first_pos
          |FROM s WHERE seq LIKE '%cec%' ORDER BY user_id""".stripMargin)),

    // Ordered funnel conversion (view → click → purchase, strictly later
    // steps): the product-analytics staple. The Spark side is ONE shuffle —
    // per-user event sequences fold through `aggregate()` (a Catalyst
    // higher-order function over the time-sorted array: first view sets t1,
    // first click after t1 sets t2, first purchase after t2 sets t3) — where
    // the oracle's three dependent min-aggregates need three passes + joins.
    // Both engines compare in µs (unix_micros ↔ epoch_us) so the ns→µs
    // parquet coercion can't flip a strict inequality on one side only.
    // At 100 TB: one hash shuffle on user_id, per-user state is 3 longs; the
    // sorted collect is bounded by per-user event counts (salt a pathological
    // user before this op, as events_type_salted_agg demonstrates).
    ("events_funnel",
      (s: SparkSession, d: String) => {
        val perUser = events(s, d)
          .select(col("user_id"),
            struct(unix_micros(col("ts")).as("t"), col("event_type").as("e")).as("ev"))
          .groupBy("user_id")
          .agg(sort_array(collect_list(col("ev"))).as("seq"))
        val zero = struct(
          lit(null).cast("long").as("t1"),
          lit(null).cast("long").as("t2"),
          lit(null).cast("long").as("t3"))
        perUser
          .select(aggregate(col("seq"), zero, (acc, e) =>
            struct(
              coalesce(acc("t1"), when(e("e") === "view", e("t"))).as("t1"),
              coalesce(acc("t2"), when(e("e") === "click" &&
                acc("t1").isNotNull && e("t") > acc("t1"), e("t"))).as("t2"),
              coalesce(acc("t3"), when(e("e") === "purchase" &&
                acc("t2").isNotNull && e("t") > acc("t2"), e("t"))).as("t3"))
          ).as("f"))
          .agg(count(lit(1)).as("n_users"),
            count(col("f.t1")).as("n_viewed"),
            count(col("f.t2")).as("n_clicked"),
            count(col("f.t3")).as("n_converted"))
      },
      Some(
        """WITH s1 AS (
          |  SELECT user_id,
          |         min(epoch_us(ts)) FILTER (WHERE event_type = 'view') AS t1
          |  FROM events GROUP BY user_id
          |), s2 AS (
          |  SELECT e.user_id, min(epoch_us(e.ts)) AS t2
          |  FROM events e JOIN s1 ON e.user_id = s1.user_id
          |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
          |  GROUP BY e.user_id
          |), s3 AS (
          |  SELECT e.user_id, min(epoch_us(e.ts)) AS t3
          |  FROM events e JOIN s2 ON e.user_id = s2.user_id
          |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
          |  GROUP BY e.user_id
          |)
          |SELECT CAST(count(*) AS BIGINT) AS n_users,
          |       CAST(count(s1.t1) AS BIGINT) AS n_viewed,
          |       CAST(count(s2.t2) AS BIGINT) AS n_clicked,
          |       CAST(count(s3.t3) AS BIGINT) AS n_converted
          |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin)),

    // Retention cohorts: users grouped by first-activity day, activity
    // counted per (cohort, day-offset) cell — the second product-analytics
    // staple. Day buckets ship as epoch-µs (the hourly-window idiom) so no
    // date-type/timezone crosses the differential. Two shuffles at scale:
    // the per-user min, and the distinct-count per cell (count DISTINCT
    // inside each cell stays exact — cells are day×offset, bounded).
    ("events_retention_cohorts",
      (s: SparkSession, d: String) => {
        val ev = events(s, d).select(col("user_id"),
          unix_micros(date_trunc("day", col("ts"))).as("day_us"))
        val first = ev.groupBy("user_id").agg(min("day_us").as("cohort_us"))
        ev.join(first, "user_id")
          .select(col("cohort_us"),
            ((col("day_us") - col("cohort_us")) / 86400000000L)
              .cast("long").as("day_offset"),
            col("user_id"))
          .groupBy("cohort_us", "day_offset")
          .agg(countDistinct("user_id").as("n_users"))
          .orderBy("cohort_us", "day_offset")
      },
      Some(
        """WITH ev AS (
          |  SELECT user_id,
          |         epoch_us(time_bucket(INTERVAL 1 DAY, ts)) AS day_us
          |  FROM events
          |), first AS (
          |  SELECT user_id, min(day_us) AS cohort_us FROM ev GROUP BY user_id
          |)
          |SELECT cohort_us,
          |       CAST((day_us - cohort_us) // 86400000000 AS BIGINT) AS day_offset,
          |       CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
          |FROM ev JOIN first USING (user_id)
          |GROUP BY cohort_us, day_offset ORDER BY cohort_us, day_offset""".stripMargin)),

    // TPC-H Q18 (large-volume customers): the having-clause-on-aggregate
    // shape — orders whose lineitem quantity total exceeds 300, joined back
    // to orders and the customer dimension, top 100. Plan shape at scale:
    // partial-agg shuffle on l_orderkey, the >300 survivors (rare) join
    // orders on the SAME key (co-partitioned, no extra shuffle), customer
    // broadcasts, TakeOrdered caps the result.
    ("q18_large_customers",
      (s: SparkSession, d: String) => {
        val bigOrders = lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(round(sum("l_quantity"), 2).as("sum_qty"))
          .filter(col("sum_qty") > 300.0)
        orders(s, d)
          // the >300 filter keeps a few hundred orders out of ~10⁵ per SF,
          // but the static planner sizes bigOrders by its pre-aggregate
          // input and plans a sort-merge join, exchanging+sorting the
          // whole orders side; the hint makes the orders scan shuffle-free
          // (AQE would discover this at runtime — the hint pins it).
          // SIZE-GATED like every other broadcast site (round-11 ADVICE):
          // the >300 survivor set grows linearly with SF, so an
          // unconditional hint removes the planner's fallback and OOMs at
          // the scales the size-estimate gate exists for. The gate reads
          // the non-CBO estimate — the PRE-aggregate lineitem scan size —
          // so it is deliberately conservative: past the cap the join
          // degrades to the SMJ the static planner would pick even when
          // the survivors are actually tiny (the bench session runs AQE
          // off, so no runtime re-promotion THERE; production sessions
          // keep AQE on and recover the broadcast). At the bench SF the
          // estimate stays under the cap and the hint survives (measured
          // q18 0.53 s unchanged by the gating).
          .join(graft.operators.TextOps.broadcastIfSmall(bigOrders),
            col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            // o_orderdate reads as TimestampType under Tables.readerConfs
            // (inferTimestampNTZ off), so the cast is a no-op kept only as
            // a guard against a session missing those confs
            unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
            round(col("o_totalprice"), 2).as("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderdate_us"), col("o_orderkey"))
          .limit(100)
      },
      Some(
        """SELECT c_name, c_custkey, o_orderkey,
          |       epoch_us(o_orderdate) AS o_orderdate_us,
          |       round(o_totalprice, 2) AS o_totalprice, sum_qty
          |FROM orders
          |JOIN (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
          |      FROM lineitem GROUP BY l_orderkey
          |      HAVING round(sum(l_quantity), 2) > 300.0) big
          |  ON o_orderkey = big.l_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |ORDER BY o_totalprice DESC, o_orderdate_us, o_orderkey
          |LIMIT 100""".stripMargin)),

    // PageRank over the customer–supplier transaction graph (who bought
    // from whom, via orders ⋈ lineitem): the canonical iterative
    // distributed computation — per round, ranks join the cached edge
    // relation, contributions partial-aggregate to the receiving node,
    // teleport re-seeds. 5 rounds, damping 0.85. The arithmetic is PURE
    // INTEGER (ranks are ×1e12 fixed-point, contribution = r div deg,
    // damping = (85·S) div 100): floating-point accumulation order can
    // differ between engines and across partitionings, integer sums
    // cannot — both engines replay bit-identical trajectories, and the
    // result is partitioning-independent at any cluster size. The edge
    // relation (with out-degrees) is cached once through the LRU registry
    // and reused all rounds; each iterate localCheckpoints so lineage
    // stays flat (the connectedComponents idiom). Driver sees ONE scalar
    // (the node count) — everything else is joins + partial aggregates.
    ("graph_pagerank",
      (s: SparkSession, d: String) => {
        // the bipartite pair relation (orders⋈lineitem + distinct over
        // ~600k pairs) is consumed four ways downstream (two union
        // branches, the degree pass, the edge join) — persist it once so
        // every consumer reads the 590k cached rows instead of
        // re-running the join pipeline. Locally this measures neutral
        // (the cold run is stage-floor-bound: 15 stages × ~0.15 s
        // shuffle floor ≈ half the 4 s cold wall); at cluster scale the
        // three avoided re-executions of the pair join are the point.
        val e0 = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("a"),
            (col("l_suppkey") * 2 + 1).as("b"))
          .distinct()
          .persist()
        CacheRegistry.register(e0, Seq(e0))
        val edges = e0.select(col("a").as("src"), col("b").as("dst"))
          .union(e0.select(col("b").as("src"), col("a").as("dst")))
        val ranks = pageRankRanks(edges)
        ranks.select(
          when(col("node") % 2 === 0, "customer").otherwise("supplier").as("kind"),
          expr("node div 2").as("node_key"),
          col("r").as("rank12"))
          .orderBy(col("rank12").desc, col("kind"), col("node_key"))
          .limit(20)
      },
      Some(
        """WITH e0 AS (
          |  SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |), e AS (
          |  SELECT a AS src, b AS dst FROM e0
          |  UNION ALL SELECT b AS src, a AS dst FROM e0
          |), dg AS (
          |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
          |), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dg
          |), r0 AS (
          |  SELECT src AS node, 1000000000000 // (SELECT n FROM nn) AS r FROM dg
          |), r1 AS (
          |  SELECT e.dst AS node,
          |         CAST((SELECT 15000000000000 // (100*n) FROM nn)
          |           + (85 * sum(p.r // dg.deg)) // 100 AS BIGINT) AS r
          |  FROM e JOIN r0 p ON e.src = p.node JOIN dg ON dg.src = e.src
          |  GROUP BY e.dst
          |), r2 AS (
          |  SELECT e.dst AS node,
          |         CAST((SELECT 15000000000000 // (100*n) FROM nn)
          |           + (85 * sum(p.r // dg.deg)) // 100 AS BIGINT) AS r
          |  FROM e JOIN r1 p ON e.src = p.node JOIN dg ON dg.src = e.src
          |  GROUP BY e.dst
          |), r3 AS (
          |  SELECT e.dst AS node,
          |         CAST((SELECT 15000000000000 // (100*n) FROM nn)
          |           + (85 * sum(p.r // dg.deg)) // 100 AS BIGINT) AS r
          |  FROM e JOIN r2 p ON e.src = p.node JOIN dg ON dg.src = e.src
          |  GROUP BY e.dst
          |), r4 AS (
          |  SELECT e.dst AS node,
          |         CAST((SELECT 15000000000000 // (100*n) FROM nn)
          |           + (85 * sum(p.r // dg.deg)) // 100 AS BIGINT) AS r
          |  FROM e JOIN r3 p ON e.src = p.node JOIN dg ON dg.src = e.src
          |  GROUP BY e.dst
          |), r5 AS (
          |  SELECT e.dst AS node,
          |         CAST((SELECT 15000000000000 // (100*n) FROM nn)
          |           + (85 * sum(p.r // dg.deg)) // 100 AS BIGINT) AS r
          |  FROM e JOIN r4 p ON e.src = p.node JOIN dg ON dg.src = e.src
          |  GROUP BY e.dst
          |)
          |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
          |       node // 2 AS node_key, CAST(r AS BIGINT) AS rank12
          |FROM r5 ORDER BY rank12 DESC, kind, node_key LIMIT 20""".stripMargin)),

    // Trailing 7-day moving window per event type — the time-series RANGE
    // frame (not ROWS: gap days must count inside the window span, so the
    // frame is keyed on the day NUMBER). The corpus-wide work is the daily
    // pre-aggregation (partial-agg shuffle); the window then runs over the
    // tiny (type × day) relation — at 100 TB the window input stays
    // days×types rows no matter the event count. Money sums cross the
    // differential as integer CENTS (round(sum·100) per day, integer sums
    // in the frame) so no float accumulation order can flip the hash.
    ("events_daily_moving",
      (s: SparkSession, d: String) => {
        // quantize PER ROW, then integer-sum: round(sum(double)*100)
        // quantizes an accumulation-order-dependent value — a cell
        // landing within double-summation noise of an x.5 boundary could
        // round differently between engines (or runs) and every trailing
        // window containing it would diverge (the cusum/abc precedent).
        // Per-row value*100 is the same double multiply in both engines;
        // the sum is then exact integer arithmetic.
        val daily = events(s, d)
          .groupBy(col("event_type"),
            (unix_micros(date_trunc("day", col("ts"))) / 86400000000L)
              .cast("long").as("day_num"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("day_cents"))
        val w = Window.partitionBy("event_type").orderBy("day_num")
          .rangeBetween(-6, 0)
        daily.select(col("event_type"), col("day_num"), col("day_cents"),
          sum("day_cents").over(w).as("trail_cents"),
          count(lit(1)).over(w).as("trail_days"),
          expr("sum(day_cents) over (partition by event_type order by day_num " +
            "range between 6 preceding and current row) div " +
            "count(1) over (partition by event_type order by day_num " +
            "range between 6 preceding and current row)").as("avg_cents"))
          .orderBy("event_type", "day_num")
      },
      Some(
        """WITH daily AS (
          |  SELECT event_type,
          |         epoch_us(time_bucket(INTERVAL 1 DAY, ts)) // 86400000000 AS day_num,
          |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS day_cents
          |  FROM events GROUP BY 1, 2
          |)
          |SELECT event_type, day_num, day_cents,
          |       CAST(sum(day_cents) OVER w AS BIGINT) AS trail_cents,
          |       CAST(count(*) OVER w AS BIGINT) AS trail_days,
          |       CAST(sum(day_cents) OVER w AS BIGINT)
          |         // CAST(count(*) OVER w AS BIGINT) AS avg_cents
          |FROM daily
          |WINDOW w AS (PARTITION BY event_type ORDER BY day_num
          |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
          |ORDER BY event_type, day_num""".stripMargin)),

    // Z-order (Morton) layout — MULTI-dimension data skipping, completing
    // lineitem_range_layout's single-column story: interleaving the bits of
    // (ship-day, partkey) makes one sort key whose contiguous ranges are
    // small 2-D rectangles, so a scan filtered on EITHER dimension prunes
    // most buckets (the Delta/Iceberg OPTIMIZE ZORDER rationale). The gate
    // relation is the per-fixed-z-bucket bounding boxes — pure integer
    // arithmetic the oracle replays bit-for-bit (the same 32-term
    // interleave, generated once for both engines); ZOrderSpec separately
    // pins the physical contract (repartitionByRange on zval → ≤8 disjoint
    // z-ranges, no row loss) and that both dimensions' average bucket
    // extent beats the one-dimension layout's.
    ("lineitem_zorder_layout",
      (s: SparkSession, d: String) => {
        // NOT spread (measured, round 17): parallelizing the interleave +
        // cache build bought only ~0.1 s cold but left the cache 32-way —
        // and the two warm consumers then paid 32 cached-read tasks each
        // (~+0.27 s warm per invocation). The serial build is the better
        // trade at both temperatures' sum; at real scan parallelism the
        // cache inherits the scan's width anyway.
        val raw = lineitem(s, d).select(
          (unix_micros(date_trunc("day", col("l_shipdate").cast("timestamp")))
            / 86400000000L).cast("long").as("day_num"),
          col("l_partkey").as("pk"))
        // normalize both dims to dense zero-based coordinates first —
        // raw values share their high bits (every ship-day has bit 13
        // set), which would compress the whole corpus into one z-range
        // slice; the subtraction is one broadcast 1-row aggregate
        val mins = raw.agg(min("day_num").as("d0"), min("pk").as("p0"))
        val base = raw.crossJoin(broadcast(mins)).select(
          (col("day_num") - col("d0")).bitwiseAND(65535).as("xd"),
          (col("pk") - col("p0")).bitwiseAND(65535).as("yp"))
        // cached: both the zmax aggregate and the final bucket census
        // consume this relation — uncached, each re-ran the lineitem scan
        // AND the 32-term interleave (three full scans per invocation,
        // two interleave passes); the cached rows are three longs/row
        val z = base.select(col("xd"), col("yp"),
          zInterleave16(col("xd"), col("yp")).as("zval"))
          .cache()
        graft.operators.CacheRegistry.register(z, Seq(z))
        val zmax = z.agg(max("zval").as("zmax"))
        z.crossJoin(broadcast(zmax))
          .select(col("xd"), col("yp"),
            expr("zval div ((zmax div 8) + 1)").as("bucket"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_rows"),
            min("xd").as("day_min"), max("xd").as("day_max"),
            min("yp").as("pk_min"), max("yp").as("pk_max"))
          .orderBy("bucket")
      },
      Some(
        s"""WITH raw AS (
           |  SELECT epoch_us(time_bucket(INTERVAL 1 DAY, l_shipdate))
           |           // 86400000000 AS day_num,
           |         l_partkey AS pk
           |  FROM lineitem
           |), mn AS (SELECT min(day_num) AS d0, min(pk) AS p0 FROM raw
           |), base AS (
           |  SELECT (day_num - d0) & 65535 AS xd, (pk - p0) & 65535 AS yp
           |  FROM raw, mn
           |), z AS (
           |  SELECT xd, yp, ${zInterleave16Sql("xd", "yp")} AS zval
           |  FROM base
           |), zm AS (SELECT max(zval) AS zmax FROM z)
           |SELECT zval // ((zmax // 8) + 1) AS bucket,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       min(xd) AS day_min, max(xd) AS day_max,
           |       min(yp) AS pk_min, max(yp) AS pk_max
           |FROM z, zm
           |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Market-basket co-occurrence: part pairs bought together in one order,
    // top-20 by support — the association-mining staple; plan shape and
    // measurements in [[copurchasePairs]]. Per-run de-dup makes a part
    // repeated in one order count that order once.
    ("lineitem_copurchase_pairs",
      (s: SparkSession, d: String) =>
        copurchasePairs(lineitem(s, d).select("l_orderkey", "l_partkey")),
      Some(
        """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
          |SELECT x.l_partkey AS p1, y.l_partkey AS p2,
          |       CAST(count(*) AS BIGINT) AS n_orders
          |FROM op x JOIN op y
          |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
          |GROUP BY p1, p2
          |ORDER BY n_orders DESC, p1, p2 LIMIT 20""".stripMargin)),

    // ABC / Pareto revenue classes (see [[abcClasses]]): the global
    // cumulative-share labeling, distributed via sum-prefix offsets
    // (never the oracle's single-task global window).
    ("lineitem_abc_classes",
      (s: SparkSession, d: String) =>
        abcClasses(lineitem(s, d).select("l_partkey", "l_extendedprice")),
      Some(
        """WITH pr AS (
          |  SELECT l_partkey AS p,
          |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
          |              AS BIGINT) AS rev
          |  FROM lineitem GROUP BY 1
          |), c AS (
          |  SELECT p, rev,
          |         CAST(sum(rev) OVER (ORDER BY rev DESC, p) AS BIGINT) AS cum,
          |         CAST((SELECT sum(rev) FROM pr) AS BIGINT) AS t
          |  FROM pr
          |)
          |SELECT p AS p_partkey, rev AS rev_cents, cum AS cum_cents,
          |       CASE WHEN CAST(cum AS HUGEINT) * 100 <= CAST(t AS HUGEINT) * 70 THEN 'A'
          |            WHEN CAST(cum AS HUGEINT) * 100 <= CAST(t AS HUGEINT) * 90 THEN 'B'
          |            ELSE 'C' END AS abc
          |FROM c ORDER BY p_partkey""".stripMargin)),

    // Relational DIVISION — "suppliers who have shipped EVERY part in
    // the (top-2-price) promo list": the universal-quantifier query
    // shape. Distributed form is count-match — the distinct
    // (supplier, part) relation semi-restricts to the broadcast target
    // and a partial-aggregated count equals the target size — never the
    // textbook NOT EXISTS double anti-scan (two correlated passes over
    // the fact table at 100 TB). The target is fixed-size (LIMIT 2 with
    // a deterministic tiebreak), so the equality literal is stable.
    ("supplier_covers_all",
      (s: SparkSession, d: String) => {
        val target = part(s, d)
          .orderBy(col("p_retailprice").desc, col("p_partkey"))
          .limit(2).select("p_partkey")
        // restrict to target parts BEFORE the distinct: the dedup then
        // shuffles the ~|target|·|suppliers-per-part| matching rows, not
        // the whole (supplier, part) relation (measured 0.55 s → the
        // broadcast IN-filter is scan-local)
        val sp = lineitem(s, d).select(col("l_suppkey"), col("l_partkey"))
          .join(broadcast(target), col("l_partkey") === col("p_partkey"))
          .select("l_suppkey", "l_partkey").distinct()
        sp.groupBy("l_suppkey").agg(count(lit(1)).as("n_covered"))
          .filter(col("n_covered") === 2)
          .join(supplier(s, d).select(col("s_suppkey"), col("s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"))
          .orderBy("s_suppkey")
      },
      Some(
        """WITH target AS (
          |  SELECT p_partkey FROM part
          |  ORDER BY p_retailprice DESC, p_partkey LIMIT 2
          |), sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
          |cov AS (
          |  SELECT l_suppkey, count(*) AS c
          |  FROM sp JOIN target ON l_partkey = p_partkey GROUP BY 1
          |)
          |SELECT s.s_suppkey, s.s_name
          |FROM cov JOIN supplier s ON s.s_suppkey = cov.l_suppkey
          |WHERE cov.c = 2 ORDER BY s.s_suppkey""".stripMargin)),

    // Dynamic partition pruning — the fact table is LAID OUT partitioned
    // by event_type; joining a filtered dimension prunes fact PARTITIONS
    // at runtime (the scan's partition filter holds a dynamicpruning
    // subquery fed by the dim broadcast — ExplainSpec pins it). At
    // 100 TB this is the difference between scanning 2 of N partitions
    // and scanning the table; the layout write is the same pay-once
    // trade as bucketing. The dim is itself written to parquet so the
    // pruning rides a real filterable source, not a literal relation.
    ("events_partition_pruned_join",
      (s: SparkSession, d: String) => {
        // per-user dirs (a shared /tmp across users would collide on
        // permissions) keyed by the corpus fingerprint, not the path
        val user = sys.props.getOrElse("user.name", "u")
        val tag = layoutTag(s, d, "events")
        val factDir = s"/tmp/graft_dpp_fact_${user}_$tag"
        val dimDir = s"/tmp/graft_dpp_dim_${user}_$tag"
        // evict layouts of superseded corpus generations — without this
        // every regeneration leaks a partitioned events copy into /tmp.
        // Scoped to the same source PATH (tag's path-hash half), so the
        // sf0.1 layout survives an sf0.01 run and vice versa.
        pruneStaleLayouts(s, "/tmp",
          s"graft_dpp_fact_${user}_${layoutPathPrefix(tag)}",
          s"graft_dpp_fact_${user}_$tag")
        pruneStaleLayouts(s, "/tmp",
          s"graft_dpp_dim_${user}_${layoutPathPrefix(tag)}",
          s"graft_dpp_dim_${user}_$tag")
        // bare prefix ON PURPOSE: the oldest legacy formats predate the
        // per-user naming (e.g. graft_dpp_fact_<32bit>), so a user-scoped
        // prefix would never match them and the /tmp leak this sweep
        // exists to fix would quietly return for pre-user-era dirs. The
        // protections against sweeping a LIVE dir are inside
        // pruneLegacyLayouts: recently-modified dirs are skipped (a
        // concurrent session's layout is recently written) and deletes
        // are best-effort (another user's stale dir fails on permissions)
        pruneLegacyLayouts(s, "/tmp", "graft_dpp_fact_")
        pruneLegacyLayouts(s, "/tmp", "graft_dpp_dim_")
        // pay-once layout: the dir is per-corpus-dir and the corpus is
        // immutable, so a completed write (marked by _SUCCESS) is reused
        // — timed runs measure the pruned query, not the layout build
        def written(dir: String): Boolean = {
          val p = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
          p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
        }
        if (!written(factDir))
          events(s, d).write.mode("overwrite")
            .partitionBy("event_type").parquet(factDir)
        import s.implicits._
        if (!written(dimDir))
          Seq(("click", "paid"), ("purchase", "paid"), ("view", "organic"),
            ("error", "ops"), ("signup", "organic"))
            .toDF("event_type", "channel")
            .write.mode("overwrite").parquet(dimDir)
        val facts = s.read.parquet(factDir)
        val dim = s.read.parquet(dimDir).filter(col("channel") === "paid")
        facts.join(broadcast(dim), "event_type")
          .groupBy("event_type", "channel")
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
          .orderBy("event_type")
      },
      Some(
        """SELECT event_type, 'paid' AS channel,
          |       CAST(count(*) AS BIGINT) AS n,
          |       round(sum(value), 2) AS sum_value
          |FROM events WHERE event_type IN ('click', 'purchase')
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Bucketed co-located join — the layout technique for repeated big
    // joins at 100 TB: both sides are written bucketBy(8) on the join
    // key, so the sort-merge join reads co-located buckets with NO
    // Exchange on either side (ExplainSpec pins the exchange-free plan;
    // .hint("merge") keeps the plan shape deterministic across SFs
    // where the orders side would otherwise broadcast). The write cost
    // is paid once per layout; every subsequent join on the key rides
    // free — the point of bucketing. Table names are per-corpus-dir so
    // gate runs at different SFs can't collide in one session.
    ("lineitem_bucketed_join",
      (s: SparkSession, d: String) => {
        val liTag = layoutTag(s, d, "lineitem")
        val ordTag = layoutTag(s, d, "orders")
        val liT = s"graft_li_b$liTag"
        val ordT = s"graft_ord_b$ordTag"
        // evict warehouse dirs of superseded corpus generations (tables
        // are session-scoped in the in-memory catalog; the DIRS outlive
        // the JVM and would otherwise accumulate per regeneration).
        // Path-hash-scoped like the DPP prune: other SFs' layouts stay.
        pruneStaleLayouts(s, s.conf.get("spark.sql.warehouse.dir"),
          s"graft_li_b${layoutPathPrefix(liTag)}", s"graft_li_b$liTag")
        pruneStaleLayouts(s, s.conf.get("spark.sql.warehouse.dir"),
          s"graft_ord_b${layoutPathPrefix(ordTag)}", s"graft_ord_b$ordTag")
        pruneLegacyLayouts(s, s.conf.get("spark.sql.warehouse.dir"), "graft_li_b")
        pruneLegacyLayouts(s, s.conf.get("spark.sql.warehouse.dir"), "graft_ord_b")
        // pay-once semantics, literally: if THIS session already built
        // the layout (the table name is per-corpus-dir and the corpus is
        // immutable), reuse it — the bench's timed passes then measure
        // the join, not a re-materialization the technique exists to
        // avoid. A fresh session's in-memory catalog has never heard of
        // the table but the warehouse DIRECTORY outlives the JVM, so the
        // build path must clean the location first or the second driver
        // round ever dies with LOCATION_ALREADY_EXISTS.
        if (!s.catalog.tableExists(liT) || !s.catalog.tableExists(ordT)) {
          Seq(liT, ordT).foreach { t =>
            s.sql(s"DROP TABLE IF EXISTS $t")
            val p = new org.apache.hadoop.fs.Path(
              s.conf.get("spark.sql.warehouse.dir"), t.toLowerCase)
            val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
            if (fs.exists(p)) fs.delete(p, true)
          }
          // repartition ON the bucket key BEFORE the bucketed write
          // (round 17): with several write tasks per bucket each bucket
          // got several files, and the scan's declared sort order only
          // holds for single-file buckets — so the warm join re-SORTED
          // both sides inside every SMJ (plan: Sort under SortMergeJoin,
          // the exact cost sortBy exists to pre-pay). Same hash family
          // as the bucket spec → exactly one file per bucket, and the
          // join runs sort-free off the layout.
          lineitem(s, d).select("l_orderkey", "l_extendedprice")
            .repartition(8, col("l_orderkey"))
            .write.format("parquet").mode("overwrite")
            .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(liT)
          orders(s, d).select("o_orderkey", "o_orderpriority")
            .repartition(8, col("o_orderkey"))
            .write.format("parquet").mode("overwrite")
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ordT)
        }
        s.table(ordT)
          .join(s.table(liT).hint("merge"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            round(sum("l_extendedprice"), 2).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some(
        """SELECT o_orderpriority,
          |       CAST(count(*) AS BIGINT) AS n_items,
          |       round(sum(l_extendedprice), 2) AS revenue
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Inverted trigram index probe — pg_trgm-style accelerated
    // substring search: a part matches '%gear%' only if its name
    // contains ALL of the pattern's character trigrams (lossless for
    // patterns ≥ 3 chars), so candidates come from an IN-filtered
    // equi-probe of the (trigram → part) relation and only candidates
    // pay the exact contains() verify — at 100 TB the index is a
    // precomputed layout and a LIKE query never full-scans the text.
    ("part_trigram_search",
      (s: SparkSession, d: String) =>
        trigramSearch(part(s, d).select(col("p_partkey"), col("p_name")), "gear"),
      Some(
        """SELECT p_partkey, p_name FROM part
          |WHERE p_name LIKE '%gear%' ORDER BY p_partkey""".stripMargin)),

    // Month-over-month growth — the time-series reporting staple: per
    // priority, monthly revenue and its lag-based growth rate. Revenue
    // is per-row-quantized integer cents and the rate is ppm fixed-point
    // ((cur·1e6) div prev − 1e6), so every value is cross-engine exact
    // (a double ratio would be, too, but the integer form survives the
    // driver's bit-level hash without rounding conventions). The window
    // partitions by priority over MONTHS — bounded by the key's time
    // range, never the order count. First month per priority is NULL.
    ("orders_monthly_growth",
      (s: SparkSession, d: String) => {
        val m = orders(s, d)
          .groupBy(col("o_orderpriority"),
            unix_micros(date_trunc("MONTH", col("o_orderdate"))).as("month_us"))
          .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
            .as("rev_cents"))
        val w = Window.partitionBy("o_orderpriority").orderBy("month_us")
        // ppm scaling in decimal(38,0): rev·1e6 wraps int64 once a month
        // slice passes ~9e12 cents (the ABC boundary lesson); div in
        // decimal is the same truncating integral quotient both engines
        // compute
        m.withColumn("prev", lag("rev_cents", 1).over(w))
          .withColumn("growth6",
            expr("CAST((CAST(rev_cents AS DECIMAL(38,0)) * 1000000) div prev" +
              " - 1000000 AS BIGINT)"))
          .select(col("o_orderpriority"), col("month_us"), col("rev_cents"),
            col("growth6"))
          .orderBy("o_orderpriority", "month_us")
      },
      Some(
        """WITH m AS (
          |  SELECT o_orderpriority,
          |         epoch_us(date_trunc('month', o_orderdate)) AS month_us,
          |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
          |              AS BIGINT) AS rev_cents
          |  FROM orders GROUP BY 1, 2
          |)
          |SELECT o_orderpriority, month_us, rev_cents,
          |       CAST((rev_cents * 1000000) // lag(rev_cents) OVER w - 1000000
          |            AS BIGINT) AS growth6
          |FROM m
          |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month_us)
          |ORDER BY o_orderpriority, month_us""".stripMargin)),

    // CUSUM changepoint detection — the classic sequential drift monitor
    // over per-day totals. The recursion s_t = max(0, s_{t−1} + x_t − μ − k)
    // is CLOSED-FORM as prefix sums: s_t = P_t − min(0, min_{j≤t} P_j)
    // with P the running sum of (x − μ − k) — two cumulative windows, no
    // iterative state. Everything is ×1000 fixed-point integer (daily
    // totals, integer-floor mean, k = μ/20 slack, h = μ/4 threshold), so
    // the statistic and the alarm days are bit-identical across engines.
    // The windows partition by event_type and order by day — bounded by
    // the monitored key's TIME RANGE, never the event count.
    ("events_cusum_changepoint",
      (s: SparkSession, d: String) => {
        // quantize PER ROW, then sum int64s: floor(sum(double)) would
        // quantize an accumulation-order-dependent value — flaky within
        // ~1e-8 of a cell boundary (the partial_agg_merge idiom)
        val daily = events(s, d)
          .groupBy(col("event_type"),
            (unix_micros(date_trunc("DAY", col("ts"))) / 86400000000L)
              .cast("long").as("day"))
          .agg(sum(floor(col("value") * 1000 + 0.5).cast("long")).as("v"))
        val stats = daily.groupBy("event_type")
          .agg(expr("sum(v) div count(1)").as("mu"))
        val wc = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        daily.join(broadcast(stats), "event_type")
          .withColumn("x", col("v") - col("mu") - expr("mu div 20"))
          .withColumn("p", sum("x").over(wc))
          .withColumn("cusum", col("p") - least(lit(0L), min("p").over(wc)))
          .select(col("event_type"), col("day"), col("v"), col("cusum"),
            (col("cusum") > expr("mu div 4")).as("alarm"))
          .orderBy("event_type", "day")
      },
      Some(
        """WITH daily AS (
          |  SELECT event_type,
          |         CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT) AS day,
          |         CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS v
          |  FROM events GROUP BY 1, 2
          |), st AS (
          |  SELECT event_type, CAST(sum(v) // count(*) AS BIGINT) AS mu
          |  FROM daily GROUP BY 1
          |), px AS (
          |  SELECT d.event_type, d.day, d.v,
          |         sum(d.v - st.mu - st.mu // 20) OVER w AS p,
          |         st.mu
          |  FROM daily d JOIN st USING (event_type)
          |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |)
          |SELECT event_type, day, v,
          |       CAST(p - least(CAST(0 AS BIGINT), min(p) OVER w) AS BIGINT) AS cusum,
          |       (p - least(CAST(0 AS BIGINT), min(p) OVER w)) > mu // 4 AS alarm
          |FROM px
          |WINDOW w AS (PARTITION BY event_type ORDER BY day
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |ORDER BY event_type, day""".stripMargin)),

    // 2-core of the repeat-co-purchase graph (see [[kcore]]): iterative
    // peeling to the unique fixpoint — the community-pruning step
    // downstream of pair mining (the 1-degree fringe is noise; the core
    // is where basket structure lives). Edge threshold n_orders ≥ 2
    // keeps the graph sparse enough that peeling does real work at
    // every shipped SF (the unthresholded graph is a dense blob whose
    // 2-core is everything).
    ("graph_kcore",
      (s: SparkSession, d: String) =>
        kcore(lineitem(s, d).select("l_orderkey", "l_partkey"), 2)
          .orderBy("part"),
      Some(kcoreOracleSql(2, 10))),

    // Single-source BFS levels (see [[bfsLevels]]): hop distances from
    // the graph's minimum node over the same thresholded relation. The
    // oracle's recursive CTE explores (node, lvl) pairs — on a cyclic
    // graph that recursion is unbounded, so it is depth-capped at 20
    // and min-reduced; the Spark fixpoint's max level is below the cap
    // at every shipped SF (measured 10 at sf0.01, 1 at sf0.1), and a
    // deeper graph would fail the gate loudly, not silently (the
    // kcore-rounds argument).
    ("graph_bfs_levels",
      (s: SparkSession, d: String) =>
        bfsLevels(lineitem(s, d).select("l_orderkey", "l_partkey")),
      Some(
        """WITH RECURSIVE op AS MATERIALIZED (
          |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
          |), pc AS MATERIALIZED (
          |  SELECT x.l_partkey AS p1, y.l_partkey AS p2
          |  FROM op x JOIN op y
          |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
          |  GROUP BY 1, 2 HAVING count(*) >= 2
          |), e AS MATERIALIZED (
          |  SELECT p1 AS s, p2 AS d FROM pc UNION ALL SELECT p2, p1 FROM pc
          |), src AS MATERIALIZED (SELECT min(s) AS n FROM e),
          |r(n, lvl) AS (
          |  SELECT n, CAST(0 AS BIGINT) FROM src
          |  UNION
          |  SELECT e.d, r.lvl + 1 FROM r JOIN e ON e.s = r.n WHERE r.lvl < 20
          |)
          |SELECT n AS part, min(lvl) AS lvl FROM r GROUP BY 1 ORDER BY part""".stripMargin)),

    // 7-day sliding distinct users (weekly-active-users): EXACT sliding
    // count-distinct — not expressible as a window frame (COUNT(DISTINCT)
    // over RANGE isn't supported by either engine) — via the day-grid
    // expansion: daily distinct (day, user) pairs fan out to the ≤7
    // trailing days they're visible in, then one count-distinct per day.
    // Scale: the fan-out is a fixed ×7 of the daily-DISTINCT relation
    // (already aggregate-compressed, not the raw events), and the final
    // count-distinct is Spark's two-phase distinct aggregate — no
    // quadratic self-join of days, no per-day window.
    ("events_sliding_wau",
      (s: SparkSession, d: String) => {
        // ONE data exchange, on user_id alone: hash(user) clusters equal
        // (day, user) pairs too, so it satisfies BOTH (day, user)
        // dedups — the daily distinct AND countDistinct's internal
        // dedup of the ×7 fan-out — partition-locally; without the
        // explicit repartition Spark exchanges the fanned relation a
        // second time on (day, user). The end bound needs max(original
        // day), which equals max(FANNED day) − 6 (the max original day
        // fans through i=6), so it reads off the aggregated ~window-count
        // relation via a global window — the events scan runs ONCE (the
        // previous separate bounds branch re-ran scan+exchange+distinct),
        // and the single-partition barrier holds only per-day counts.
        // 6 partial trailing days are counted then dropped — identical
        // result.
        val daily = events(s, d).select(
          (unix_micros(date_trunc("DAY", col("ts"))) / 86400000000L)
            .cast("long").as("day"),
          col("user_id"))
          // session-width repartition, DELIBERATELY not hotPartitions:
          // round 16 widened this exchange and the driver's protocol
          // measured the query 4× slower at 32 cores than at 8 (warm
          // 0.47→1.90 s, cold →3.17 s, while the 8-core run — where the
          // widening degenerates — stayed at 0.44 s). The ×7 fan-out
          // dedup inside countDistinct pays per-partition hash tables;
          // widening multiplies that constant with no compute to hide
          // (round-17 revert, VERDICT r16 item 1).
          .repartition(col("user_id")).distinct()
        daily
          .select(col("user_id"), explode(sequence(col("day"),
            col("day") + 6L)).as("day"))
          .groupBy("day")
          .agg(countDistinct("user_id").as("wau"))
          .withColumn("hi", max("day").over(Window.partitionBy()) - 6L)
          .filter(col("day") <= col("hi"))
          .select(col("day"), col("wau"))
          .orderBy("day")
      },
      Some(
        """WITH daily AS (
          |  SELECT DISTINCT epoch_us(time_bucket(INTERVAL 1 DAY, ts))
          |           // 86400000000 AS day, user_id
          |  FROM events
          |), hi AS (SELECT max(day) AS hi FROM daily),
          |fan AS (
          |  SELECT d.user_id, d.day + i AS day
          |  FROM daily d, UNNEST(range(0, 7)) t(i), hi
          |  WHERE d.day + i <= hi.hi
          |)
          |SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
          |FROM fan GROUP BY day ORDER BY day""".stripMargin)),

    // Event-type transition counts (the user-journey Markov matrix):
    // per user, consecutive event pairs in (ts, event_id) order via ONE
    // per-user window lag — bounded state per user, no self-join — then
    // a global (from, to) count with transition probabilities ×1e6
    // integer-floored against the from-state total.
    ("events_transition_matrix",
      (s: SparkSession, d: String) => {
        val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val pairs = events(s, d)
          // narrow projection + same-key repartition at hotPartitions:
          // the lag window's sort held 2.2 s of task time in 8 tasks
          .select("user_id", "ts", "event_id", "event_type")
          .repartition(TextOps.hotPartitions(s), col("user_id"))
          .withColumn("prev", lag(col("event_type"), 1).over(byUser))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
          // cached (round 17): the totals broadcast leg and the main job
          // each re-ran the whole scan + lag-window pipeline (a profile
          // showed the window stage twice per pass); the cached relation
          // is the type×type count matrix — dozens of rows
          .cache()
        graft.operators.CacheRegistry.register(pairs, Seq(pairs))
        val totals = pairs.groupBy("from_type").agg(sum("n").as("n_from"))
        pairs.join(TextOps.broadcastIfSmall(totals), "from_type")
          .select(col("from_type"), col("to_type"), col("n"),
            scaledDiv("n", "1000000", "n_from").as("prob6"))
          .orderBy("from_type", "to_type")
      },
      Some(
        """WITH p AS (
          |  SELECT lag(event_type) OVER (PARTITION BY user_id
          |           ORDER BY ts, event_id) AS from_type,
          |         event_type AS to_type
          |  FROM events
          |), c AS (
          |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
          |  FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2
          |), t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
          |         FROM c GROUP BY 1)
          |SELECT c.from_type, c.to_type, c.n,
          |       CAST((c.n * 1000000) // t.n_from AS BIGINT) AS prob6
          |FROM c JOIN t USING (from_type)
          |ORDER BY from_type, to_type""".stripMargin)),

    // Association rules over the co-purchase pairs — the confidence/lift
    // step on top of the support counts (market-basket mining's second
    // half): each pair emits both rule directions, confidence =
    // supp(pair)/supp(antecedent) and lift = N·supp(pair)/
    // (supp(ante)·supp(cons)), both ×1e6 integer-floored so the ranking
    // is exact arithmetic in both engines. Per-part supports are a
    // vocabulary-sized aggregate attached via size-gated broadcast; the
    // top-20 caps through TakeOrdered. One new shuffle beyond the pair
    // pipeline (the per-part support aggregate).
    ("orders_association_rules",
      (s: SparkSession, d: String) => {
        val li = lineitem(s, d).select("l_orderkey", "l_partkey")
        val nOrders = li.select(countDistinct("l_orderkey").as("n_orders"))
        // persisted: the ante- and cons-side broadcasts below would each
        // re-run the (lineitem-wide) distinct + per-part aggregate
        val supp = li.distinct()
          .groupBy(col("l_partkey").as("p")).agg(count(lit(1)).as("n_p"))
          .persist()
        // copurchaseCounts is itself cached (both unionAll branches and
        // the other co-purchase rows all read the one materialization)
        val pairs = copurchaseCounts(li)
        CacheRegistry.register(supp, Seq(supp))
        // ONE pass over the cached pair relation (round 17, deferred from
        // r16): the union-of-swapped form read the 2×18 MB cache twice and
        // probed the two broadcast supports once per direction. Attach
        // both endpoints' supports to each pair ONCE, then explode the two
        // rule directions from the joined row — same rows by construction
        // (union(swap) ≡ explode of the direction structs), half the cache
        // reads and broadcast probes. The shared cached pair relation
        // itself is untouched.
        val rules = pairs
          .join(TextOps.broadcastIfSmall(
            supp.select(col("p").as("p1"), col("n_p").as("n_p1"))), "p1")
          .join(TextOps.broadcastIfSmall(
            supp.select(col("p").as("p2"), col("n_p").as("n_p2"))), "p2")
          .select(explode(array(
            struct(col("p1").as("ante"), col("p2").as("cons"),
              col("n_orders").as("n_pair"),
              col("n_p1").as("n_ante"), col("n_p2").as("n_cons")),
            struct(col("p2").as("ante"), col("p1").as("cons"),
              col("n_orders").as("n_pair"),
              col("n_p2").as("n_ante"), col("n_p1").as("n_cons")))).as("r"))
          .select(col("r.ante").as("ante"), col("r.cons").as("cons"),
            col("r.n_pair").as("n_pair"), col("r.n_ante").as("n_ante"),
            col("r.n_cons").as("n_cons"))
          .crossJoin(broadcast(nOrders))
        // lift6 composes from the already-floored conf6 ((conf6·N) div
        // n_cons) — identical composition in the oracle; both ratio
        // intermediates run in decimal(38,0) so no row count overflows
        // them (the int64 versions had single-digit headroom at 1e12
        // orders — the class the ×64 scale smoke surfaced)
        rules.select(col("ante"), col("cons"), col("n_pair"),
            col("n_cons"), col("n_orders"),
            scaledDiv("n_pair", "1000000", "n_ante").as("conf6"))
          .withColumn("lift6", scaledDiv("conf6", "n_orders", "n_cons"))
          .select("ante", "cons", "n_pair", "conf6", "lift6")
          .orderBy(col("conf6").desc, col("ante"), col("cons"))
          .limit(20)
      },
      Some(
        """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
          |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          |      FROM lineitem),
          |supp AS (SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS n_p
          |         FROM op GROUP BY 1),
          |pc AS (
          |  SELECT x.l_partkey AS p1, y.l_partkey AS p2,
          |         CAST(count(*) AS BIGINT) AS n_pair
          |  FROM op x JOIN op y
          |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
          |  GROUP BY 1, 2
          |), r AS (
          |  SELECT p1 AS ante, p2 AS cons, n_pair FROM pc
          |  UNION ALL SELECT p2, p1, n_pair FROM pc
          |)
          |SELECT r.ante, r.cons, r.n_pair,
          |       CAST((r.n_pair * 1000000) // sa.n_p AS BIGINT) AS conf6,
          |       CAST((((r.n_pair * 1000000) // sa.n_p) * n.n_orders) // sc.n_p
          |            AS BIGINT) AS lift6
          |FROM r JOIN supp sa ON sa.p = r.ante JOIN supp sc ON sc.p = r.cons, n
          |ORDER BY conf6 DESC, ante, cons LIMIT 20""".stripMargin)),

    // Triangle census over the co-purchase graph — see [[triangleCensus]]
    // for the degree-ordered orientation argument (each triangle counted
    // once; wedge fan-out capped near √m — the orientation every
    // distributed triangle counter uses). The census row (nodes, edges,
    // undirected wedges, triangles, global clustering ×1e6) is all
    // integer, so the differential is exact; the oracle replays the same
    // orientation in SQL.
    ("graph_triangles",
      (s: SparkSession, d: String) =>
        triangleCensus(lineitem(s, d).select("l_orderkey", "l_partkey")),
      Some(
        """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
          |e AS MATERIALIZED (
          |  SELECT x.l_partkey AS p1, y.l_partkey AS p2
          |  FROM op x JOIN op y
          |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
          |  GROUP BY 1, 2
          |), deg AS MATERIALIZED (
          |  SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
          |    SELECT p1 AS n FROM e UNION ALL SELECT p2 FROM e) GROUP BY 1
          |), rk AS (SELECT n, deg * 1000000000 + n AS r FROM deg),
          |o AS MATERIALIZED (
          |  SELECT CASE WHEN r1.r < r2.r THEN e.p1 ELSE e.p2 END AS lo,
          |         CASE WHEN r1.r < r2.r THEN e.p2 ELSE e.p1 END AS hi
          |  FROM e JOIN rk r1 ON r1.n = e.p1 JOIN rk r2 ON r2.n = e.p2
          |), tri AS (
          |  -- oriented path wedge lo→b→c closed by lo→c: once per triangle
          |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
          |  FROM o e1 JOIN o e2 ON e2.lo = e1.hi
          |       JOIN o e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
          |)
          |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
          |       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
          |       (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) FROM deg)
          |         AS n_wedges,
          |       tri.n_triangles,
          |       CAST(floor(3.0 * tri.n_triangles * 1000000 /
          |         nullif((SELECT sum(deg * (deg - 1) // 2) FROM deg), 0))
          |         AS BIGINT) AS coeff6
          |FROM tri""".stripMargin)),

    // Join-key skew census (see [[skewCensus]]) — the diagnostic a
    // 100 TB join runs BEFORE choosing its strategy: per candidate key,
    // the key-space size, hottest-key share (×1e6), and the salt factor
    // a 32-way shuffle of that key needs so the hottest key's rows fit
    // one partition's fair share. All integer, exact.
    ("diag_skew_census",
      (s: SparkSession, d: String) =>
        skewCensus(lineitem(s, d),
          Seq("l_orderkey", "l_partkey", "l_suppkey")),
      Some(Seq("l_orderkey", "l_partkey", "l_suppkey").map { k =>
        s"""SELECT '$k' AS join_key,
           |       CAST(count(*) AS BIGINT) AS n_keys,
           |       CAST(sum(cnt) AS BIGINT) AS n_rows,
           |       CAST(max(cnt) AS BIGINT) AS max_cnt,
           |       CAST(max(cnt) * 1000000 // sum(cnt) AS BIGINT)
           |         AS top_share6,
           |       CAST(greatest(1, (max(cnt) * 32 + sum(cnt) - 1)
           |         // sum(cnt)) AS BIGINT) AS salt32
           |FROM (SELECT $k, count(*) AS cnt FROM lineitem GROUP BY $k)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY join_key")))
  )

  /** Per-candidate-key skew census (see the `diag_skew_census` entry).
    * One partial-aggregated exchange per key (the per-key count), then a
    * scalar reduce — the census never materializes more than one row per
    * distinct key value, so it runs at full scan parallelism on any
    * corpus. `top_share6` is the hottest key's row share ×1e6;
    * `salt32` = ceil(max_cnt × 32 ÷ rows) is the salt factor under
    * which the hottest key's rows spread to a 32-way shuffle's fair
    * per-partition share (1 = no salting needed). Decimal intermediates
    * per the [[scaledDiv]] rationale: max_cnt×1e6 outgrows int64 well
    * before 1e12-row relations do.
    */
  def skewCensus(df: DataFrame, keys: Seq[String]): DataFrame =
    keys.map { k =>
      df.groupBy(col(k)).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_keys"), sum("cnt").as("n_rows"),
          max("cnt").as("max_cnt"))
        .select(lit(k).as("join_key"), col("n_keys"), col("n_rows"),
          col("max_cnt"),
          scaledDiv("max_cnt", "1000000", "n_rows").as("top_share6"),
          greatest(lit(1L), expr(
            "CAST((CAST(max_cnt AS DECIMAL(38,0)) * 32 + n_rows - 1)" +
              " DIV n_rows AS BIGINT)")).as("salt32"))
    }.reduce(_ unionAll _).orderBy("join_key")
}
