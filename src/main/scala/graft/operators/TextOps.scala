package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.GraftFunctions._

/** Text-analysis operators over `documents`: token statistics, quality
  * scoring, heuristic language ID, document fingerprinting. All per-document
  * computations are narrow (scan-local, no shuffle); only the final
  * aggregations shuffle, grouped on low-cardinality keys.
  */
object TextOps {

  type Q = (SparkSession, String) => DataFrame

  /** tokens(text) — documents are single-space separated. */
  private def toks: Column = split(col("text"), " ")

  /** Count of occurrences of `w` in the token array (codegen'd built-ins). */
  private def tokCount(w: String): Column =
    // native one-pass scan (round 17): the previous
    // size(filter(split(text," "), t === w)) form is CodegenFallback —
    // interpreted per-element lambda over a fresh token array, per marker
    // word per row (5× per row in langid). Bit-equivalent for every input
    // (FunctionsSpec pins the property); the whole scorer now stays inside
    // whole-stage codegen.
    graft.functions.GraftFunctions.token_count(col("text"), lit(w))

  private def duckTokCount(w: String): String =
    s"len(list_filter(string_split(text, ' '), t -> t = '$w'))"

  /** Marker words per language drawn from the corpus vocabulary. The point
    * of the heuristic is a deterministic n-gram-frequency decision, not
    * linguistic accuracy on this synthetic corpus.
    */
  private val markers = Seq("en" -> "the", "es" -> "a", "de" -> "data",
    "fr" -> "fast", "zh" -> "slow")

  /** 32-hex-digit threshold t such that P[md5(key) < t] = p for a uniform
    * 128-bit hash: floor(p · 2¹²⁸) rendered as the zero-padded lowercase
    * hex both engines print. md5 hex compares bytewise in Spark
    * (UTF8String) and DuckDB (binary collation), and '0'-'9' < 'a'-'f' in
    * ASCII, so the string comparison IS the numeric comparison — no hex
    * parse on either side, no float anywhere in the keep decision.
    */
  private[operators] def hexThreshold(p: Double): String = {
    val max = BigInt(1) << 128
    val t = (BigDecimal(p) * BigDecimal(max)).toBigInt.min(max - 1).max(BigInt(0))
    val s = t.toString(16)
    "0" * (32 - s.length) + s
  }

  /** Per-language keep rates for the stratified sampler: rebalancing
    * DOWNSAMPLES the dominant language and keeps more of the rare ones —
    * the shape a training-data pipeline actually runs (the corpus is
    * ~45% en).
    */
  private val strataRates = Seq(
    "en" -> 0.05, "es" -> 0.10, "de" -> 0.20, "fr" -> 0.40, "zh" -> 0.80)

  private def strataKeepSql: String = {
    val whens = strataRates
      .map { case (l, p) => s"WHEN '$l' THEN '${hexThreshold(p)}'" }
      .mkString(" ")
    s"md5(CAST(doc_id AS VARCHAR)) < CASE lang $whens ELSE '${hexThreshold(0.0)}' END"
  }

  /** Library form of the production sampler: keep ≈rate(lang) of each
    * stratum via the hash threshold — scan-local, skew-immune. Input needs
    * (doc_id, lang); unknown languages are dropped (rate 0).
    */
  def stratifiedSampleHash(docs: DataFrame,
      rates: Seq[(String, Double)] = strataRates): DataFrame = {
    val thr = rates.foldRight(lit(hexThreshold(0.0)): Column) {
      case ((l, p), els) => when(col("lang") === l, lit(hexThreshold(p))).otherwise(els)
    }
    docs.filter(md5(col("doc_id").cast("string")) < thr)
      .select(col("lang"), col("doc_id"))
  }

  /** Weighted Bernoulli sampling: each document keeps with probability
    * proportional to a PER-DOCUMENT weight (here vocabulary diversity —
    * the quality-weighted subsampling step between uniform stratified
    * sampling and hard quality filtering: low-diversity boilerplate is
    * downweighted, not cliff-dropped). Scan-local like the stratified
    * sampler — no shuffle, no per-stratum anything — and ALL-INTEGER so
    * both engines agree exactly: the per-doc uniform is THREE chained
    * Lehmer steps `x → x·48271 mod (2³¹ − 1)` (one step leaves small
    * sequential ids clustered near zero — measured keeping 100% of a
    * 500-doc corpus; three steps equidistribute them). doc_id is reduced
    * `pmod 2³¹−1` BEFORE the first multiply — doc_id itself is unbounded,
    * and a raw `doc_id·48271` would wrap silently in Spark past ~1.9e14
    * while DuckDB's overflow-checked BIGINT errors; after the reduction
    * every intermediate stays < 2⁴⁷, so both engines compute the same
    * value on ANY int64 doc_id. The weight is parts-per-million
    * `min(1e6, distinct·1e6 div (tokens·2))` (diversity 0.5 ⇒ certain
    * keep), and the keep test cross-multiplies — no doubles anywhere. A
    * production variant swaps the Lehmer mix for xxhash64(doc_id); the
    * SEMANTICS under test are the weighted inclusion, not the mixer's
    * avalanche.
    */
  def weightedSample(docs: DataFrame): DataFrame =
    docs
      .filter(size(toks) >= 1)
      .select(col("doc_id"), col("lang"),
        least(lit(1000000L), expr(
          "CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 1000000" +
          " div (CAST(size(split(text, ' ')) AS BIGINT) * 2)")).as("w_ppm"),
        (pmod(col("doc_id"), lit(2147483647L)) * 48271L % 2147483647L
          * 48271L % 2147483647L * 48271L % 2147483647L).as("u"))
      .filter(col("u") * 1000000L < col("w_ppm") * 2147483647L)
      .select(col("doc_id"), col("lang"), col("w_ppm"))

  /** Conditional broadcast for the corpus-statistics family's vocab-/
    * feature-sized relations (unigram log-probs, PMI counts, DSIR ratios,
    * the encode-ids vocab): these are aggregate-compressed but grow with
    * corpus VOCABULARY, not with a constant — a forced `broadcast()` hint
    * OOMs the driver at 100 TB instead of falling back. The hint is gated
    * on Catalyst's optimized-plan size estimate (scan-size-derived, so it
    * scales with the source): under `graft.broadcast.maxBytes` (default
    * 64 MB) the relation broadcasts as before; past it the hint is
    * dropped and the join falls back to a shuffle join (AQE may still
    * re-plan at runtime). ExplainSpec pins both branches.
    */
  private[graft] def estimatedSmall(df: DataFrame): Boolean = {
    val maxBytes = df.sparkSession.conf
      .getOption("graft.broadcast.maxBytes").map(_.toLong).getOrElse(64L << 20)
    df.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes
  }

  private[graft] def broadcastIfSmall(df: DataFrame): DataFrame =
    if (estimatedSmall(df)) broadcast(df) else df

  /** Spread a narrow scan to the session's parallelism before CPU-heavy
    * per-row work (tokenize → shingle → hash pipelines). A small corpus
    * arrives as ONE parquet file = one scan partition, so everything up
    * to the first exchange — the expensive shingle construction included —
    * ran in a single task while 31 cores idled; the exchange this inserts
    * ships only the raw corpus rows, which the per-row work it unlocks
    * dwarfs. NO-OP past `target/2` existing partitions: a real many-file
    * corpus (the 100 TB case) already has scan parallelism, and adding a
    * full-corpus exchange there would be a scale-killer, not a win.
    */
  /** Partition count for a measured-hot exchange: never below the
    * session's shuffle setting (a real cluster sizes that to the data —
    * it stays authoritative there), raised to the worker parallelism when
    * the session setting is smaller (the bench session's data-sized
    * shuffle=8 leaves 3/4 of a local[32] box idle through its few
    * genuinely CPU-heavy sorts/windows — measured 0.4-0.9 s of task time
    * squeezed through 8 tasks on events_sessionize / window_rank /
    * dup_span_merge). Used as an explicit repartition ON THE OPERATOR'S
    * OWN KEY, so the downstream window/aggregate reuses the exchange —
    * stage count is unchanged, only its width.
    *
    * CAPPED at 4× the session setting (round-17, r16 ADVICE): on a large
    * cluster defaultParallelism (total cores) can dwarf the data-sized
    * shuffle setting, and an uncapped raise would shred these keyed
    * exchanges (and the cache layouts built on them) into tiny shuffle
    * blocks — the session setting stays authoritative within a small
    * constant. The local bench shape is unchanged (max(8, min(32, 32))
    * = 32).
    */
  private[graft] def hotPartitions(s: SparkSession): Int = {
    val conf = s.sessionState.conf.numShufflePartitions
    math.max(conf, math.min(s.sparkContext.defaultParallelism, 4 * conf))
  }

  private[graft] def spreadScan(df: DataFrame): DataFrame = {
    // streaming plans can't answer a partition probe (and their
    // per-batch parallelism is the source's concern) — pass through
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Estimate the scan's split count from the plan's FILE SOURCES
    // (already-listed FileIndex: total bytes + file count through
    // Spark's own bin-packing formula) instead of probing
    // df.rdd.getNumPartitions — the probe forced FULL physical planning
    // of the subtree on every operator construction and read the
    // pre-AQE count (round-11 ADVICE). Non-file-backed plans (memory
    // sinks, local relations) keep the probe as the fallback.
    val est = estimateScanSplits(df).getOrElse(df.rdd.getNumPartitions)
    if (est < math.max(2, target / 2)) df.repartition(target) else df
  }

  /** Approximate FileSourceScan split count from the analyzed plan's
    * HadoopFsRelations, replaying FilePartition's packing math
    * (maxSplitBytes = min(maxPartitionBytes, max(openCost,
    * totalPadded/defaultParallelism)); splits ≈ totalPadded/maxSplitBytes)
    * over the FileIndex's cached listing — no physical planning, no jobs.
    * None when the plan has no file source.
    */
  private def estimateScanSplits(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // only scan-shaped plans (project/filter over a file source — the hot
    // construction paths this probe serves): anything that can change
    // partitioning (repartition, aggregate, join, …) falls back to the
    // physical probe, which is always right
    val narrow = df.queryExecution.analyzed.collect {
      case n @ (_: Project | _: Filter | _: SubqueryAlias |
                _: org.apache.spark.sql.execution.datasources.LogicalRelation) => n
    }.size == df.queryExecution.analyzed.collect { case n => n }.size
    val rels = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            Seq(h)
          case _ => Seq.empty
        }
    }.flatten
    if (rels.isEmpty || !narrow) None
    else {
      val conf = df.sparkSession.sessionState.conf
      val openCost = conf.filesOpenCostInBytes
      val maxPB = conf.filesMaxPartitionBytes
      val nFiles = rels.map(_.location.inputFiles.length.toLong).sum
      val totalRaw = rels.map(_.location.sizeInBytes).sum.toLong
      val totalPadded = totalRaw + nFiles * openCost
      val bytesPerCore =
        totalPadded / math.max(1, df.sparkSession.sparkContext.defaultParallelism)
      val maxSplit = math.min(maxPB, math.max(openCost, bytesPerCore))
      // two regimes, take the larger: big files split by raw bytes
      // (padding is per-file, not per-split); many small files pack by
      // padded bytes but never exceed the file count
      val bySplit = math.ceil(totalRaw.toDouble / maxSplit).toLong
      val byPack = math.min(nFiles,
        math.ceil(totalPadded.toDouble / maxSplit).toLong)
      Some(math.max(1L, math.max(bySplit, byPack)).toInt)
    }
  }

  /** Intra-document keep-first dedup of 10-token chunks over (doc_id, tk)
    * rows — the library form under the `text_intradoc_dedup` entry (which
    * adds the planted-repeat construction); entirely per-row columnar
    * expressions, zero shuffles.
    */
  def intradocDedup(docs: DataFrame): DataFrame =
    docs
      // empty token arrays have no chunks and must be ABSENT (the oracle's
      // range(0, 0) UNNEST drops the doc): unguarded, sequence(0, -1)
      // steps DOWN to [0, -1] — Spark defaults to step -1 when start >
      // stop, the exact trap multimodal_frame_sample documents — and
      // fabricated two phantom ''-chunks for a chunkless document
      .filter(size(col("tk")) > 0)
      .withColumn("chunks",
        transform(
          sequence(lit(0L),
            ((size(col("tk")) + lit(9)) / lit(10)).cast("long") - 1L),
          i => array_join(
            slice(col("tk"), (i * 10 + 1).cast("int"), lit(10)), " ")))
      .select(
        col("doc_id"),
        size(col("chunks")).cast("long").as("n_chunks"),
        filter(col("chunks"), (c, i) =>
          array_position(col("chunks"), c) === (i + 1).cast("long"))
          .as("kept"))
      .select(col("doc_id"), col("n_chunks"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(array_join(col("kept"), " ")).as("dedup_md5"))

  /** Library form of the exact-fraction twin: ⌈frac⌉ per stratum via a
    * per-stratum row_number — exact sizes, but each stratum serializes
    * through one task (small-corpus oracle variant, not the scale path).
    */
  def stratifiedSampleExact(docs: DataFrame, frac: Double): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs
      .withColumn("rn", row_number().over(w))
      .withColumn("n_lang", count(lit(1)).over(Window.partitionBy("lang")))
      .filter(col("rn") <= ceil(col("n_lang") * frac))
      .select(col("lang"), col("doc_id"))
  }

  /** Vocabulary encoding, open relation: (doc_id, ids) with ids the
    * frequency-ranked token ids in document order (id 0 = most frequent,
    * ties lexical). The global rank is an ordered `zipWithIndex` over the
    * range-partitioned (count desc, token) sort: the sort spreads across
    * partitions, zipWithIndex pays one light per-partition count job, and
    * id assignment stays parallel — no single-task window anywhere in the
    * plan (the earlier no-partition `row_number` window serialized the
    * whole vocab through ONE task; ExplainSpec pins its absence).
    * Documents re-assemble scan-side: join ids onto (doc, pos, token) —
    * broadcast while the vocab estimate is small, shuffle join past it —
    * then collect_list ordered by position.
    */
  def encodeIds(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    // deliberately NOT spread and NOT cached (measured, round 17): the
    // two consumers' duplicated scan+posexplode is ~130 ms serial each,
    // and every sharing variant lost — a .cache() of the exploded rows
    // paid two 32-partition InMemoryTableScans per pass, a spread
    // exchange added 2 stages without the hoped ReusedExchange win
    // (0.60 s baseline vs 0.64-0.73 s for the variants)
    val tok = docs.select(col("doc_id"), posexplode(toks).as(Seq("pos", "token")))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    val ids = vocab.orderBy(col("cnt").desc, col("token"))
      .select("token").as[String].rdd
      .zipWithIndex()
      .toDF("token", "tid")
    // the rdd exit loses Catalyst stats (LogicalRDD defaults to "huge"),
    // so the broadcast decision reads the upstream vocab plan instead
    val idsHinted = if (estimatedSmall(vocab)) broadcast(ids) else ids
    tok.join(idsHinted, "token")
      .groupBy("doc_id")
      // array<struct>.field extraction (GetArrayStructFields, codegen)
      // instead of a transform lambda (CodegenFallback) — same array
      .agg(array_sort(collect_list(struct(col("pos"), col("tid"))))
        .getField("tid").as("ids"))
  }

  /** Unigram-LM scoring relation (see the `text_unigram_logprob` entry):
    * (doc_id, n_tokens, sum_lp6, nll) — per-doc mean unigram NLL under
    * corpus frequencies, per-token log-probs quantized to scaled BIGINTs
    * (×1e6) before the per-doc sum so the aggregate is integer-exact.
    * The vocab is aggregate-compressed → broadcast; the corpus side never
    * shuffle-joins.
    */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(toks).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    val tot = vocab.agg(sum("cnt").as("total"))
    val lp = vocab.crossJoin(broadcast(tot))
      .select(col("token"),
        round((log(col("cnt")) - log(col("total"))) * 1e6, 0)
          .cast("long").as("lp6"))
    // the per-doc relation is doc-count-sized (4 narrow columns) and has
    // MULTIPLE consumers (the unigram gate query, pplBuckets' sort AND its
    // per-language offsets) — cache it through the LRU registry so the
    // corpus explode+join runs once per corpus, not once per consumer
    val perDoc = tok.join(broadcastIfSmall(lp), "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("lp6").as("sum_lp6"))
      .withColumn("nll",
        round(-(col("sum_lp6").cast("double") / 1e6) / col("n_tokens"), 4))
      .cache()
    CacheRegistry.register(perDoc, Seq(perDoc))
    perDoc
  }

  /** Deterministic global training-order shuffle: (doc_id, pos) with pos
    * the document's position in the md5-keyed total order — the "shuffle
    * the corpus once, read it sequentially forever" step before training.
    * Content-addressed (md5 of the id, doc_id tie-break), so the order is
    * reproducible across engines and runs — no rand(), no seed state.
    *
    * Global positions WITHOUT a single-task window and WITHOUT
    * zipWithIndex (whose partition-count job executes the whole sort
    * lineage a second time): one range shuffle + in-partition sort, a
    * scan-local pass assigns per-partition local indexes, and the
    * (n_partitions)-sized count list — bounded by the CLUSTER, not the
    * data — turns them into global positions via an in-row prefix sum
    * (the [[pplBuckets]] rank machinery without the language key; its
    * scalar collect_list is the one permitted SinglePartition, a
    * one-row-per-partition reduction).
    */
  /** In-row EXCLUSIVE prefix sum over a collected, sorted (pid, cnt)
    * struct array `cs`: for each element, the total of all counts before
    * it. The bounded-array alternative to a Window that [[shuffleOrder]]
    * and [[pplBuckets]] both rank with — one definition so the subtle
    * slice/aggregate lambda can't drift between the two call sites.
    */
  private val prefixOffsetsExpr =
    "transform(cs, (x, i) -> struct(x.pid AS pid, " +
      "aggregate(slice(cs, 1, i), 0L, (a, y) -> a + y.cnt) AS off))"

  def shuffleOrder(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val sorted = docs
      .select(md5(col("doc_id").cast("string")).as("k"), col("doc_id"))
      .repartitionByRange(col("k"), col("doc_id"))
      .sortWithinPartitions("k", "doc_id")
      .select(col("doc_id").as[Long])
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var li = -1L
        it.map { d => li += 1; (pid, d, li) }
      }.toDF("pid", "doc_id", "li")
      .cache()
    CacheRegistry.register(sorted, Seq(sorted))
    val offs = sorted.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .agg(sort_array(collect_list(struct(col("pid"), col("cnt")))).as("cs"))
      .select(explode(expr(prefixOffsetsExpr)).as("e"))
      .select(col("e.pid").as("pid"), col("e.off").as("off"))
    sorted.join(broadcast(offs), "pid")
      .select(col("doc_id"), (col("off") + col("li")).as("pos"))
  }

  /** CCNet-style perplexity buckets: per language, split documents into
    * head/middle/tail terciles by unigram-LM mean NLL (lower = closer to
    * the corpus LM = "head"). The tercile assignment is ntile(3) SEMANTICS
    * computed WITHOUT a per-language single-task window: one range sort on
    * (lang, nll, doc_id), scan-local per-(partition, lang) indexes, and a
    * broadcast of the (partition × lang)-sized offset table turn local
    * indexes into within-lang ranks; then the SQL ntile closed form on the
    * rank — first `n mod k` buckets get the extra row, exactly the
    * standard every engine implements. At 100 TB each piece stays
    * distributed: one range sort, one bounded count table, one broadcast.
    */
  def pplBuckets(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val scored = unigramLogprob(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("lang"), col("nll"), col("doc_id"), col("n_tokens"))
    // Within-language ranks WITHOUT globalPositions: one range shuffle on
    // (lang, nll, doc_id) + in-partition sort, then a single scan-local
    // pass assigns each row its local index within its (partition, lang)
    // run — langs are contiguous after the sort, so a counter that resets
    // on lang change suffices. zipWithIndex would pay an extra whole-sort
    // execution for its partition-count job; here the only extra relation
    // is the (partition × lang)-sized count table, whose per-lang running
    // sum (a window over ≤ n_partitions rows per lang — bounded by the
    // CLUSTER, not the data) turns local indexes into global ranks.
    val sorted = scored
      .repartitionByRange(col("lang"), col("nll"), col("doc_id"))
      .sortWithinPartitions("lang", "nll", "doc_id")
      .select(col("lang").as[String], col("nll").as[Double],
        col("n_tokens").as[Long])
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var curLang: String = null
        var li = -1L
        it.map { case (lang, nll, nTok) =>
          if (lang != curLang) { curLang = lang; li = 0L } else li += 1
          (pid, lang, nll, nTok, li)
        }
      }.toDF("pid", "lang", "nll", "n_tokens", "li")
      .cache()
    CacheRegistry.register(sorted, Seq(sorted))
    // The count table is (partitions × langs)-sized — bounded by the
    // CLUSTER, not the data — so its per-lang running sum is computed
    // in-row over the collected per-lang count list (higher-order
    // aggregate on a bounded array) instead of a Window (the plan stays
    // Window-free, the property ExplainSpec pins) and instead of a
    // driver collect (the whole query stays LAZY: nothing executes at
    // DataFrame construction, and the offsets can never go stale
    // relative to a recomputed sort).
    val counts = sorted.groupBy("pid", "lang").agg(count(lit(1)).as("cnt"))
    val offs = counts.groupBy("lang")
      .agg(sort_array(collect_list(struct(col("pid"), col("cnt")))).as("cs"))
      .select(col("lang"),
        expr("aggregate(cs, 0L, (a, y) -> a + y.cnt)").as("n_lang"),
        explode(expr(prefixOffsetsExpr)).as("e"))
      .select(col("e.pid").as("pid"), col("lang"),
        col("e.off").as("off"), col("n_lang"))
    val ranked = sorted.join(broadcast(offs), Seq("pid", "lang"))
      .withColumn("rn", col("off") + col("li") + 1)
    // ntile(3) closed form: q = n div 3, r = n mod 3; the first r buckets
    // hold q+1 rows. q = 0 (n < 3) degenerates to bucket = rn, matching
    // ntile with more buckets than rows.
    val q = expr("n_lang div 3")
    val r = col("n_lang") % 3
    val cut = r * (q + 1)
    val bucket = when(col("rn") <= cut, ceil(col("rn") / (q + 1)))
      .otherwise(r + ceil((col("rn") - cut) / greatest(q, lit(1L))))
    ranked.withColumn("bucket", bucket.cast("long"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
        min("nll").as("min_nll"), max("nll").as("max_nll"))
      .orderBy("lang", "bucket")
  }

  /** TF-IDF scored terms (doc_id, term, tfidf6) — the relation under the
    * `text_keyword_tfidf` entry, reusable for the scale smoke. tf is
    * scan-local via [[graft.functions.TermCounts]]; idf quantizes to an
    * integer (×1e6) before scoring; the df relation is vocabulary-
    * compressed and size-gated-broadcast.
    *
    * DELIBERATE: tf feeds both the df aggregate and the scoring join,
    * and with no exchange below it the corpus is scanned twice (the old
    * groupBy(doc_id, term) shape scanned once and reused its shuffle
    * across both consumers). Two column-pruned, compression-friendly
    * parquet scans measure cheaper than materializing and shuffling the
    * whole token stream (1.68 s → 0.89 s at sf0.1), and the same holds
    * at scale: a token-stream exchange writes ~the corpus in row format
    * to shuffle storage, the very cost the rewrite removes. Caching tf
    * is the one alternative, and a token-level cache is the thing this
    * file's conventions (aggregate-compress, then cache) exist to avoid.
    */
  /** BM25 top-20 over a fixed term set (k1=1.2, b=0.75) — the shared
    * lexical scorer behind `text_bm25_search` AND `text_hybrid_rrf`'s
    * lexical leg (previously two verbatim copies that could drift).
    * Per-doc term frequencies are scan-local lambda counts; the corpus
    * statistics (N, avgdl, per-term df) are ONE aggregate row
    * cross-joined back as a broadcast — the corpus never shuffles, and
    * the top-k is a TakeOrdered. All score inputs are
    * exactly-representable integers in doubles, so both engines compute
    * bit-identical scores; ranking runs on the ×1e6 quantized BIGINT.
    */
  private[graft] def bm25Top20(docs: DataFrame, terms: Seq[String]): DataFrame = {
    // term counts via the native one-pass token_count (round 17) — the
    // size(filter(tk, _ === term)) HOFs were interpreted per term per
    // row (bit-equality pinned in FunctionsSpec); dl still counts the
    // split array
    val base = spreadScan(docs).select(col("doc_id"), toks.as("tk"), col("text"))
      .select(Seq(col("doc_id"), size(col("tk")).cast("double").as("dl")) ++
        terms.indices.map(i =>
          graft.functions.GraftFunctions.token_count(col("text"), lit(terms(i)))
            .cast("double").as(s"tf$i")): _*)
      // base feeds TWO consumers — the corpus-stats aggregate and the
      // scoring projection — and producing it is the expensive part (the
      // full tokenize pass); uncached, both consumers re-tokenized the
      // corpus. The cached relation is tiny: one row of (id, dl, tf…)
      // counts per document, the tokens themselves never persist.
      .persist()
    CacheRegistry.register(base, Seq(base))
    val aggs = Seq(count(lit(1)).cast("double").as("n"),
      avg("dl").as("avgdl")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1.0).otherwise(0.0)).as(s"df$i"))
    val stats = base.agg(aggs.head, aggs.tail: _*)
    val score = terms.indices.map { i =>
      log((col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5) + 1.0) *
        (col(s"tf$i") * 2.2) /
        (col(s"tf$i") +
          lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    // the capped 20-row result is cached like hybrid_rrf's semantic leg
    // (round 17): TWO gate rows consume this scorer (text_bm25_search
    // and the fusion query), and each pass re-ran the stats aggregate +
    // scoring TakeOrdered over the cached tokenize relation
    val top = base.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score * 1e6, 0).cast("long").as("score6"))
      .filter(col("score6") > 0)
      .orderBy(col("score6").desc, col("doc_id")).limit(20)
      .cache()
    CacheRegistry.register(top, Seq(top))
    top
  }

  def tfidfScored(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(term_counts(toks)).as(Seq("term", "tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val idf = df.crossJoin(broadcast(n))
      .select(col("term"),
        round(log((col("n_docs") + 1.0) / (col("df") + 1.0)) * 1e6, 0)
          .cast("long").as("idf6"))
    tf.join(broadcastIfSmall(idf), "term")
      .select(col("doc_id"), col("term"), (col("tf") * col("idf6")).as("tfidf6"))
  }

  /** Bigram-PMI relation (see the `text_pmi_bigrams` entry): (bigram,
    * c12, pmi6) ordered by (pmi6 desc, bigram). Docs under 2 tokens are
    * excluded. Both count relations are aggregate-compressed (vocab-sized,
    * bounded) and each feeds multiple consumers (the totals aggregate plus
    * the pmi joins) — cached so the corpus explode pass runs once per
    * relation, not once per consumer (CacheManager keys on the
    * canonicalized plan, so repeated invocations share an entry).
    */
  def pmiBigrams(docs: DataFrame): DataFrame = {
    val tk = docs.filter(size(toks) >= 2).select(toks.as("tk"))
    val uni = tk.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
      .cache()
    val n1 = uni.agg(sum("cu").as("n1"))
    val bi = tk.select(explode(shingles(col("tk"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
      .cache()
    // managed like the dedup family's caches: LRU-evicted per session
    // past the corpus cap, never leaked across a long-lived session
    CacheRegistry.register(uni, Seq(uni, bi))
    val n2 = bi.agg(sum("c12").as("n2"))
    bi
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(broadcastIfSmall(uni.select(col("w").as("w1"), col("cu").as("c1"))), "w1")
      .join(broadcastIfSmall(uni.select(col("w").as("w2"), col("cu").as("c2"))), "w2")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .withColumn("pmi6",
        round((log(col("c12")) - log(col("c1")) - log(col("c2")) +
          lit(2.0) * log(col("n1")) - log(col("n2"))) * 1e6, 0)
          .cast("long"))
      .select(col("bg").as("bigram"), col("c12"), col("pmi6"))
      .orderBy(col("pmi6").desc, col("bigram"))
  }

  /** BPE-style merge training (word-level): learn the top `rounds` pair
    * merges over the corpus — the tokenizer-training loop, driver-
    * coordinated exactly like the connected-components round loop. Each
    * round is one distributed pair-count aggregate (explode → groupBy →
    * top-1 by (count desc, pair asc)); only the single winning pair is
    * ever collected, then the merge applies corpus-wide as a scan-local
    * string rewrite and the next round counts over the merged text.
    *
    * Merge application uses a double-space separator scheme so plain
    * sequential `replace` performs the greedy non-overlapping merge
    * identically in any engine: with tokens joined by TWO spaces and the
    * string bounded by one space each side, a pair match consumes one
    * space from each neighboring gap and the replacement restores it —
    * adjacent disjoint occurrences (`a b a b`) both merge, overlapping
    * ones (`a a a`) merge left-greedily, the BPE contract. Merged tokens
    * join with `~` — the scheme's precondition (no corpus token contains
    * `~` or an embedded double space) is asserted PER ROW on the initial
    * scan: a violating corpus would corrupt merge boundaries identically
    * in both engines (the differential gate couldn't catch it), so it
    * fails loudly instead.
    *
    * Each round's merged text is CACHED (through the shared LRU registry)
    * before the next round counts over it: without the cache round r
    * re-executes all r−1 prior rewrites against the raw corpus — an
    * O(rounds²) scan blowup that's invisible at 3 rounds and fatal at a
    * real merge budget. With it, each round is one replace pass over the
    * previous round's materialization: wall-time linear in rounds
    * (measured in BENCH_COMPARE at the gate's 8 rounds).
    */
  private def bpeTrain(
      docs: DataFrame, rounds: Int): (DataFrame, Seq[(Int, String, Long)]) = {
    // spread once before the loop: every round's pair-count map side and
    // replace pass otherwise run inside the one-file scan's single task
    // (measured ~0.3-0.6 s PER ROUND cold, 8 rounds), and each round's
    // cached materialization inherits the parallelism
    var cur = spreadScan(docs).select(col("doc_id"),
      concat(lit(" "), regexp_replace(col("text"), " ", "  "), lit(" ")).as("t"))
      // assert_true returns NULL on success and throws on violation; as a
      // filter it survives column pruning and costs two scans of each row
      // of the ALREADY-materialized first round only
      .filter(assert_true(
        !col("text").contains("~") && !col("text").contains("  "),
        lit("bpeMerges separator precondition: corpus token contains '~' or a double space"))
        .isNull)
    val merges = Seq.newBuilder[(Int, String, Long)]
    val cached = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val tk = cur.select(split(trim(col("t")), "  ").as("tk"))
      // the winning-pair relation is cached too (one row per round): a
      // same-corpus re-invocation — the gate's train(merges) + apply pair
      // — reads the learned pairs from the warm one-row entries instead
      // of re-running each round's corpus-wide pair count
      val topDf = tk.filter(size(col("tk")) >= 2)
        .select(explode(shingles(col("tk"), 2)).as("p"))
        .groupBy("p").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("p")).limit(1)
        .cache()
      cached += topDf
      val top = topDf.collect()
      if (top.nonEmpty) {
        val pair = top(0).getString(0); val c = top(0).getLong(1)
        merges += ((r, pair, c))
        val Array(w1, w2) = pair.split(" ")
        cur = cur.select(col("doc_id"),
          replace(col("t"), lit(s" $w1  $w2 "), lit(s" $w1~$w2 ")).as("t"))
          .cache()
        cached += cur
      }
    }
    // plan-keyed caches: a later same-corpus/same-rounds invocation (the
    // train→apply pair in the gate) replays the loop against the warm
    // per-round materializations instead of re-training
    val caches = cached.result()
    if (caches.nonEmpty) CacheRegistry.register(caches.head, caches)
    (cur, merges.result())
  }

  def bpeMerges(docs: DataFrame, rounds: Int): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    bpeTrain(docs, rounds)._2.toDF("round", "pair", "cnt")
  }

  /** BPE APPLY — the tokenize step after training: learn `rounds` merges
    * over the corpus ([[bpeMerges]]' loop) and return the fully-merged
    * corpus relation (doc_id, n_tokens, text_md5) — per-doc token count
    * after all merges plus the md5 of the merged double-space text, so
    * the differential pins every byte of every document's merge
    * trajectory, not just the learned pair counts. Shares the per-round
    * cache with a prior same-corpus [[bpeMerges]] call.
    */
  def bpeApply(docs: DataFrame, rounds: Int): DataFrame =
    bpeTrain(docs, rounds)._1.select(col("doc_id"),
      size(split(trim(col("t")), "  ")).cast("long").as("n_tokens"),
      md5(col("t")).as("text_md5"))

  /** Cross-document repeated-span relation (see the `text_dup_spans`
    * entry): per doc, the count and fraction of its distinct 8-token
    * spans occurring in ≥2 documents. Document frequency comes from a
    * window count over the span key — ONE exchange of the span relation,
    * where the aggregate + flag-back join shape pays three (two span
    * exchanges with non-unifiable shapes plus the dfreq side). The span
    * key is high-cardinality, so the window partitions spread — no
    * single-stratum task. Docs under 8 tokens fall back to their whole
    * text as the single span (the [[graft.functions.GraftFunctions.shingles]] contract).
    */
  def dupSpans(docs: DataFrame): DataFrame = {
    val sp = spreadScan(docs)
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("tk"), 8))).as("g"))
      // span identity ships as a 128-bit fingerprint (two independent
      // xxhash64 lanes), the same fingerprint-as-identity convention
      // dedup_exact applies with md5: the ~50-char span string never
      // enters the exchange, and the window's required child sort
      // compares two longs instead of variable-length strings (measured
      // the string compare dominating this stage). A collision merging
      // two distinct spans needs both 64-bit lanes to collide —
      // ~n²/2¹²⁸, vanishing below hardware error rates at any corpus.
      .select(col("doc_id"),
        xxhash64(col("g")).as("gh1"), xxhash64(lit(1), col("g")).as("gh2"))
    sp.withColumn("df", count(lit(1)).over(Window.partitionBy("gh1", "gh2")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_ratio",
        round(col("n_shared").cast("double") / col("n_spans"), 4))
      .withColumn("is_dup_heavy", col("dup_ratio") > 0.5)
  }

  /** Maximal cross-document duplicated spans (see the
    * `text_dup_span_merge` entry) — the span-level half of
    * substring-style dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): where [[dupSpans]] counts WHICH
    * 8-grams repeat across documents, this merges each document's
    * duplicated gram positions into MAXIMAL token spans (gap-and-islands
    * over positions: intervals [pos, pos+7] coalesce while the next
    * start is ≤ prev start + 8), the unit a pipeline actually cuts or
    * masks. Only documents with ≥8 tokens participate — a shorter
    * document has no 8-token span by definition (unlike the shingles
    * whole-text fallback, whose span length would misreport coverage).
    *
    * Shape: gram identity ships as the 128-bit two-lane fingerprint
    * (the dupSpans convention); cross-document detection is
    * min(doc)≠max(doc) over the gram window — ONE exchange on the
    * high-cardinality gram key, no count-distinct, no join-back. The
    * island pass is one exchange on doc_id; both island windows share
    * its sort, and the two downstream aggregates ride the doc_id
    * partitioning exchange-free. Nothing is quadratic in corpus size.
    */
  def dupSpanMerge(docs: DataFrame): DataFrame = {
    val g = spreadScan(docs)
      .select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), posexplode(shingles(col("tk"), 8)))
      .select(col("doc_id"), col("pos"),
        xxhash64(col("col")).as("gh1"), xxhash64(lit(1), col("col")).as("gh2"))
    val byGram = Window.partitionBy("gh1", "gh2")
    // widen the gram exchange to the worker parallelism (same key → the
    // window reuses this exchange, stage count unchanged): the per-gram
    // min/max sort is the operator's heaviest reduce side and ran at the
    // session's data-sized 8 partitions (2.4 s of task time in 8 tasks)
    val dup = g
      .repartition(hotPartitions(docs.sparkSession), col("gh1"), col("gh2"))
      .withColumn("xdoc",
        min("doc_id").over(byGram) =!= max("doc_id").over(byGram))
      .filter(col("xdoc"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val islands = dup
      .withColumn("prev", lag("pos", 1).over(byDoc))
      // new island when the gap breaks contiguity (pos > prev + 8: the
      // intervals [prev, prev+7] and [pos, pos+7] neither overlap nor
      // touch); first row's null prev starts island 0
      .withColumn("brk",
        when(col("pos") - col("prev") > 8, 1L).otherwise(0L))
      .withColumn("island", sum("brk").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands
      .groupBy("doc_id", "island")
      .agg(min("pos").as("s"), (max("pos") + lit(7L)).as("e"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("covered_tokens"),
        max(col("e") - col("s") + 1).as("max_span_len"))
  }

  /** Latest-wins upsert merge (see the `corpus_upsert_latest` entry) —
    * the incremental-refresh shape a 100 TB corpus actually runs: the
    * standing snapshot unioned with a change feed of upserts and delete
    * tombstones, reduced to one surviving row per key. `rows` carries
    * (key, version, op, payload...); per key the row with the highest
    * version wins, and a winning `deleteOp` removes the key entirely.
    *
    * Shape: ONE hash exchange on the key — `max_by(struct(*), version)`
    * is partial-aggregatable, so each map task pre-reduces its slice to
    * one candidate row per local key before the shuffle (a window
    * row_number formulation would ship every version of every key and
    * sort it). The struct aggregation buffer forces SortAggregate (a
    * per-partition sort by key on each side of the one shuffle) rather
    * than HashAggregate — the standard Spark argmax cost, still far
    * cheaper than a second exchange. Versions must be unique per key
    * (any CDC feed's guarantee); ties would make max_by
    * nondeterministic.
    */
  def upsertLatest(
      rows: DataFrame, key: String, version: String,
      op: String, deleteOp: String = "D"): DataFrame = {
    val others = rows.columns.filter(_ != key)
    rows
      .groupBy(col(key))
      .agg(max_by(struct(others.map(col): _*), col(version)).as("w"))
      .select(col(key) +: others.map(c => col(s"w.$c")): _*)
      .filter(col(op) =!= deleteOp)
  }

  /** Per-language top-k n-grams (see the `text_ngram_topk` entry): counts
    * aggregate with map-side combine on the high-cardinality (lang, gram)
    * key, then [[graft.plans.TopKPerKey]] keeps `k` rows per language —
    * its partial/final split pre-reduces every partition map-side, so the
    * per-language shuffle ships ≤ partitions×langs×k rows, never the
    * gram-count relation. Deterministic ties: (count desc, gram asc).
    */
  def ngramTopK(docs: DataFrame, n: Int = 3, k: Int = 10): DataFrame = {
    // token array materialized before shingling — shingles' lambda
    // re-evaluates its token expression per element (see its docstring):
    // an inline split would cost O(|tokens|²) per doc
    val cnts = spreadScan(docs)
      .select(col("lang"), toks.as("tk"))
      .select(col("lang"), explode(shingles(col("tk"), n)).as("g"))
      .groupBy("lang", "g").agg(count(lit(1)).as("cnt"))
      // aggregate-compressed (gram-vocabulary-sized, the pmiBigrams
      // precedent) and the dominant cost of this query — the corpus
      // explode pass; cached so repeat invocations re-run only the
      // bounded top-k + sort over it
      .cache()
    CacheRegistry.register(cnts, Seq(cnts))
    graft.plans.GraftPlans
      .topKPerKey(cnts, Seq("lang"), Seq("cnt" -> false, "g" -> true), k)
  }

  /** Per-language quality z-scores (see the `documents_quality_zscore`
    * entry): the text_quality_score formula quantized to a BIGINT
    * scan-side, per-language (n, Σx, Σx²) as exact integer aggregates
    * (the determinant in decimal — n·Σx² − (Σx)² overflows a Long at
    * corpus scale), z = (n·x − Σx)/√(n·Σx² − (Σx)²) — one
    * exactly-representable integer divided by the IEEE sqrt of another,
    * so any engine computes bit-identical doubles. Emitted as a
    * ×1e4-quantized BIGINT: round(z, 4) split 0.0 vs −0.0 across engines
    * at sf0.1 (the round-2 lineitem_stats_agg signed-zero hash class —
    * integers cannot hit it).
    */
  def qualityZscore(docs: DataFrame): DataFrame = {
    val scored = docs
      .withColumn("n_tokens", size(toks).cast("double"))
      .withColumn("distinct_ratio",
        size(array_distinct(toks)).cast("double") / col("n_tokens"))
      .withColumn("avg_word_len",
        (length(col("text")) - col("n_tokens") + lit(1.0)) / col("n_tokens"))
      .withColumn("score",
        log(col("n_tokens")) * 0.3 + col("distinct_ratio") * 0.5 +
          col("avg_word_len") * 0.02)
      .select(col("doc_id"), col("lang"),
        round(col("score") * 1e6, 0).cast("long").as("sq"))
    val stats = scored.groupBy("lang").agg(
      count(lit(1)).as("n"), sum("sq").as("sm"),
      sum(col("sq") * col("sq")).as("ssq"))
    val det = col("n").cast("decimal(38,0)") * col("ssq").cast("decimal(38,0)") -
      col("sm").cast("decimal(38,0)") * col("sm").cast("decimal(38,0)")
    scored.join(broadcastIfSmall(stats), "lang")
      .withColumn("det", det)
      .withColumn("z",
        when(col("det") === 0, lit(0.0))
          .otherwise((col("n") * col("sq") - col("sm")).cast("double") /
            sqrt(col("det").cast("double"))))
      .select(col("doc_id"), col("lang"),
        round(col("z") * 1e4, 0).cast("long").as("z_q4"),
        (col("z") >= 0).as("above_lang_mean"))
  }

  /** Budget-constrained quality selection (see the
    * `documents_token_budget` entry) — the data-mixing step that turns a
    * per-source token BUDGET into a concrete keep set: within each
    * source, documents are taken greedily in quality order (the
    * text_quality_score formula, ×1e6-quantized; ties to lowest doc_id)
    * until the running token total would exceed the budget. The
    * cumulative sum is the [[pplBuckets]] distributed-prefix
    * construction — one range shuffle + in-partition scan for local
    * per-(partition, source) token prefixes, plus a cluster-bounded
    * (partitions × sources) offset table prefix-summed in-row and
    * broadcast — so no source ever serializes through a single-task
    * window at corpus scale, the property ExplainSpec pins (no Window
    * in the plan).
    */
  def tokenBudgetSelect(docs: DataFrame, budget: Long): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val scored = docs
      .withColumn("ntd", size(toks).cast("double"))
      .withColumn("score",
        log(col("ntd")) * 0.3 +
          (size(array_distinct(toks)).cast("double") / col("ntd")) * 0.5 +
          ((length(col("text")) - col("ntd") + lit(1.0)) / col("ntd")) * 0.02)
      .select(col("source"), col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        round(col("score") * 1e6, 0).cast("long").as("sq"))
    val sorted = scored
      .repartitionByRange(col("source"), col("sq").desc, col("doc_id"))
      .sortWithinPartitions(col("source"), col("sq").desc, col("doc_id"))
      .select(col("source").as[String], col("doc_id").as[Long],
        col("n_tokens").as[Long], col("sq").as[Long])
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cur: String = null
        var lt = 0L // inclusive local token prefix within (partition, source)
        it.map { case (src, id, nt, _) =>
          if (src != cur) { cur = src; lt = 0L }
          lt += nt
          (pid, src, id, nt, lt)
        }
      }.toDF("pid", "source", "doc_id", "n_tokens", "lt")
      .cache()
    CacheRegistry.register(sorted, Seq(sorted))
    // per-source partition offsets over TOKEN sums (the pplBuckets count
    // table with cnt = tokens); prefix-summed in-row over the bounded
    // array, broadcast — the plan stays lazy and Window-free
    val counts = sorted.groupBy("pid", "source").agg(sum("n_tokens").as("cnt"))
    val offs = counts.groupBy("source")
      .agg(sort_array(collect_list(struct(col("pid"), col("cnt")))).as("cs"))
      .select(col("source"), explode(expr(prefixOffsetsExpr)).as("e"))
      .select(col("e.pid").as("pid"), col("source"), col("e.off").as("off"))
    sorted.join(broadcast(offs), Seq("pid", "source"))
      .withColumn("kept", col("off") + col("lt") <= budget)
      .groupBy("source")
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("tokens_kept"),
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("tokens_total"))
  }

  /** Per-source document cap — the anti-domination guard corpus curation
    * applies before training (no single domain/source may contribute more
    * than `k` documents): rank within each source by length (n_chars
    * desc, doc_id asc for determinism) and keep the top `k` through
    * [[graft.plans.TopKPerKey]]. Bounded heaps per source — the
    * partial/final exec split ships ≤ partitions×sources×k rows through
    * the key shuffle, where a row_number window would serialize every
    * source's full document set through one task each.
    */
  def sourceCap(docs: DataFrame, k: Int = 25): DataFrame =
    graft.plans.GraftPlans.topKPerKey(
      docs.select(col("doc_id"), col("source"), col("n_chars")),
      Seq("source"), Seq("n_chars" -> false, "doc_id" -> true), k)

  /** Deterministic content-addressed train/val/test split: the first hex
    * nibble of md5(text) routes each document — 0..c → train (13/16),
    * d..e → val (2/16), f → test (1/16). Hashing CONTENT (not doc_id)
    * keeps the assignment stable under re-ingestion and id reshuffles,
    * and puts exact duplicates in the SAME split — no train/test leakage
    * through surviving dups. Scan-local routing (both engines compute the
    * same md5 hex, compared under binary collation), then a 3-row
    * aggregate.
    */
  def trainSplit(docs: DataFrame): DataFrame =
    docs
      .withColumn("h", substring(md5(col("text")), 1, 1))
      .withColumn("split",
        when(col("h") <= "c", "train")
          .when(col("h") <= "e", "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))

  /** DuckDB replay of [[bpeMerges]] / [[bpeApply]] for `rounds` rounds:
    * one count → top-1 → merge CTE chain per round (the same double-space
    * replace scheme), generated instead of hand-unrolled so the gate's
    * round count can grow without transcription errors. `apply = false`
    * selects the learned (round, pair, cnt) table; `apply = true` runs
    * the final merge too and selects the merged-corpus relation
    * (doc_id, n_tokens, text_md5).
    */
  private[graft] def bpeOracleSql(rounds: Int, apply: Boolean = false): String = {
    def countCte(r: Int, src: String) =
      s"""c$r AS (
         |  SELECT ws[i] || ' ' || ws[i+1] AS p, count(*) AS c
         |  FROM (SELECT string_split(trim(t), '  ') AS ws FROM $src),
         |       UNNEST(range(1, len(ws))) AS u(i)
         |  GROUP BY p
         |), p$r AS (SELECT p, c FROM c$r ORDER BY c DESC, p LIMIT 1)""".stripMargin
    def mergeCte(r: Int) =
      s"""r$r AS (
         |  SELECT doc_id,
         |         replace(t, ' ' || replace(p, ' ', '  ') || ' ',
         |                 ' ' || replace(p, ' ', '~') || ' ') AS t
         |  FROM r${r - 1}, p$r
         |)""".stripMargin
    val chain = (1 to rounds).map { r =>
      if (r < rounds || apply) countCte(r, s"r${r - 1}") + ",\n" + mergeCte(r)
      else countCte(r, s"r${r - 1}")
    }.mkString(",\n")
    val select =
      if (apply)
        s"""SELECT doc_id,
           |       CAST(len(string_split(trim(t), '  ')) AS BIGINT) AS n_tokens,
           |       md5(t) AS text_md5
           |FROM r$rounds ORDER BY doc_id""".stripMargin
      else {
        val unions = (1 to rounds).map { r =>
          if (r == 1) s"  SELECT 1 AS round, p AS pair, CAST(c AS BIGINT) AS cnt FROM p1"
          else s"  UNION ALL SELECT $r, p, CAST(c AS BIGINT) FROM p$r"
        }.mkString("\n")
        s"""SELECT round, pair, cnt FROM (
           |$unions
           |) ORDER BY round""".stripMargin
      }
    s"""WITH r0 AS (
       |  SELECT doc_id, ' ' || replace(text, ' ', '  ') || ' ' AS t
       |  FROM documents
       |),
       |$chain
       |$select""".stripMargin
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(

    // Token statistics per language.
    ("text_token_stats",
      (s: SparkSession, d: String) =>
        documents(s, d)
          .withColumn("n_tokens", size(toks).cast("long"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_tokens").as("total_tokens"),
            round(avg("n_tokens"), 4).as("avg_tokens"),
            min("n_tokens").as("min_tokens"),
            max("n_tokens").as("max_tokens"))
          .orderBy("lang"),
      Some(
        """SELECT lang,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
          |       round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
          |       CAST(min(len(string_split(text, ' '))) AS BIGINT) AS min_tokens,
          |       CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // BPE-ish pre-tokenization: the GPT-2-family pre-tokenizer splits on
    // letter-runs / digit-runs / punctuation-runs each with an optional
    // leading space, so "don't x2" → ["don", "'", "t", " x", "2"]. The
    // alternatives are DISJOINT after the optional space (letter vs digit
    // vs other), so Java regex (Spark, leftmost-first) and RE2 (DuckDB)
    // tokenize identically — the published pattern's "'s|'t|…"
    // contraction alternates and \s+(?!\S) lookahead are dropped because
    // RE2 has no lookahead and ordered-alternation subtleties would make
    // the two engines disagree. Token COUNT is what a data pipeline
    // budgets with; per-doc counts give the differential surface.
    ("text_token_bpe",
      (s: SparkSession, d: String) => {
        val pat = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
        documents(s, d)
          .select(
            col("doc_id"),
            size(toks).cast("long").as("n_ws_tokens"),
            size(regexp_extract_all(col("text"), lit(pat), lit(0)))
              .cast("long").as("n_bpe_tokens"))
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id,
          |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
          |       CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS BIGINT) AS n_bpe_tokens
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // Deterministic stratified sampling — the corpus-balancing step a
    // training pipeline applies per language/source/quality stratum,
    // with per-language REBALANCING rates (downsample the dominant
    // language, keep more of the rare ones). The keep decision is a
    // hash threshold on md5(doc_id) ([[strataKeep]]): a pure scan-local
    // filter — no shuffle, no per-stratum sort, nothing that routes a
    // stratum through one task — so the plan is identical at any corpus
    // size and any skew. Both engines compute the same md5, so the
    // sample is reproducible and oracle-checkable, unlike rand()-based
    // sampleBy. The exact-fraction row_number twin below remains as the
    // small-corpus oracle variant.
    // Weighted Bernoulli sampling (see [[weightedSample]]): keep
    // probability proportional to vocabulary diversity — the
    // quality-WEIGHTED subsampling between uniform stratified sampling
    // and hard quality filtering. Scan-local, all-integer (Lehmer uniform
    // × ppm weight, cross-multiplied), so the oracle replays it exactly.
    ("documents_weighted_sample",
      (s: SparkSession, d: String) =>
        weightedSample(documents(s, d)).orderBy("doc_id"),
      Some(
        """WITH w AS (
          |  SELECT doc_id, lang,
          |         least(1000000,
          |           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
          |             * 1000000
          |             // (CAST(len(string_split(text, ' ')) AS BIGINT) * 2)) AS w_ppm,
          |         ((doc_id % 2147483647 + 2147483647) % 2147483647)
          |           * 48271 % 2147483647 * 48271 % 2147483647
          |           * 48271 % 2147483647 AS u
          |  FROM documents WHERE len(string_split(text, ' ')) >= 1
          |)
          |SELECT doc_id, lang, w_ppm FROM w
          |WHERE u * 1000000 < w_ppm * 2147483647
          |ORDER BY doc_id""".stripMargin)),

    ("documents_stratified_sample",
      (s: SparkSession, d: String) =>
        stratifiedSampleHash(documents(s, d)).orderBy("lang", "doc_id"),
      Some(
        s"""SELECT lang, doc_id FROM documents
           |WHERE $strataKeepSql
           |ORDER BY lang, doc_id""".stripMargin)),

    // The exact-fraction twin: ⌈10%⌉ per language via a per-stratum
    // row_number over the md5 total order. EXACT sample sizes, but the
    // lang-partitioned window serializes each stratum through one task —
    // the small-corpus oracle variant, NOT the scale path (the gate's
    // production sampler is the hash-threshold query above).
    ("documents_stratified_sample_exact",
      (s: SparkSession, d: String) =>
        stratifiedSampleExact(documents(s, d), 0.1).orderBy("lang", "doc_id"),
      Some(
        """SELECT lang, doc_id FROM (
          |  SELECT lang, doc_id,
          |         row_number() OVER (PARTITION BY lang
          |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
          |         count(*) OVER (PARTITION BY lang) AS n_lang
          |  FROM documents
          |)
          |WHERE rn <= ceil(n_lang * 0.1)
          |ORDER BY lang, doc_id""".stripMargin)),

    // Per-source cap: the fourth production use of the TopKPerKey exec
    // (after sim_topk_exec, embedding_lang_outliers, text_ngram_topk) —
    // per-domain contribution limits before training. The oracle replays
    // it as a row_number window; the Spark plan must NOT (bounded heaps
    // + partial/final split instead — asserted in ExplainSpec).
    ("documents_source_cap",
      (s: SparkSession, d: String) =>
        sourceCap(documents(s, d)).orderBy("source", "doc_id"),
      Some(
        """SELECT doc_id, source, n_chars FROM (
          |  SELECT doc_id, source, n_chars,
          |         row_number() OVER (PARTITION BY source
          |           ORDER BY n_chars DESC, doc_id) AS rn
          |  FROM documents)
          |WHERE rn <= 25
          |ORDER BY source, doc_id""".stripMargin)),

    // Content-addressed train/val/test split; sum cast BIGINT (DuckDB's
    // BIGINT sum widens to HUGEINT, which would hash-mismatch).
    ("documents_train_split",
      (s: SparkSession, d: String) =>
        trainSplit(documents(s, d)).orderBy("split"),
      Some(
        """SELECT split, count(*) AS n_docs,
          |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM (
          |  SELECT CASE WHEN substr(md5(text), 1, 1) <= 'c' THEN 'train'
          |              WHEN substr(md5(text), 1, 1) <= 'e' THEN 'val'
          |              ELSE 'test' END AS split,
          |         n_chars
          |  FROM documents)
          |GROUP BY split
          |ORDER BY split""".stripMargin)),

    // The composed training-data pipeline in ONE plan: quality filter →
    // prefix dedup (keep min doc_id per 5-token prefix — the near-dup
    // planting shares openings, so this step genuinely drops rows) →
    // deterministic 20% hash-threshold sample. The point is
    // composability: each stage is the library operator shape, fused by
    // Catalyst into one job with no materialization between stages. The
    // only shuffles are the dedup aggregate and its join back — the
    // sampling stage is a scan-local filter (no per-stratum window; see
    // documents_stratified_sample).
    ("pipeline_quality_dedup_sample",
      (s: SparkSession, d: String) => {
        val filtered = documents(s, d).filter(length(col("text")) >= 200)
        val kept = filtered
          .withColumn("k", array_join(slice(split(col("text"), " "), 1, 5), " "))
          .groupBy("k").agg(min("doc_id").as("doc_id"))
        val surv = kept.join(documents(s, d).select("doc_id", "lang"), "doc_id")
        surv
          .filter(md5(col("doc_id").cast("string")) < lit(hexThreshold(0.2)))
          .select(col("lang"), col("doc_id"))
          .orderBy("lang", "doc_id")
      },
      Some(
        s"""WITH filtered AS (
           |  SELECT doc_id, lang, text FROM documents WHERE length(text) >= 200
           |), kept AS (
           |  SELECT min(doc_id) AS doc_id
           |  FROM filtered
           |  GROUP BY array_to_string(string_split(text, ' ')[1:5], ' ')
           |), surv AS (
           |  SELECT d.lang, k.doc_id FROM kept k JOIN documents d USING (doc_id)
           |)
           |SELECT lang, doc_id FROM surv
           |WHERE md5(CAST(doc_id AS VARCHAR)) < '${hexThreshold(0.2)}'
           |ORDER BY lang, doc_id""".stripMargin)),

    // Benchmark decontamination — the train/eval hygiene step every
    // training-data pipeline runs: flag training documents sharing any
    // 6-token n-gram with a held-out benchmark set (here: doc_id % 5 = 0,
    // the eval slice; the near-dup planting guarantees real hits). The
    // benchmark side is SMALL by definition, so its distinct n-gram set
    // broadcasts and the train side never shuffles — at 100 TB the scan
    // stays embarrassingly parallel with a map-side semi-join. Joined on
    // a 128-bit n-gram fingerprint (two xxhash64 lanes — the
    // fingerprint-as-identity convention dedup_exact sets with md5), so
    // the ~50-char gram string is dropped scan-side: the cache holds
    // (doc_id, 2×long), the broadcast set is longs, and the join probes
    // compare longs. Both engines agree because the oracle compares the
    // strings the fingerprints stand for — a disagreement needs a
    // two-lane collision, ~n²/2¹²⁸.
    ("text_decontaminate",
      (s: SparkSession, d: String) => {
        // ONE tokenize+shingle pass over the corpus, cached and consumed
        // by both sides (bench distinct probe + train scan) — the earlier
        // per-side grams() tokenized the corpus twice. Token array
        // materialized before shingling — shingles' lambda re-evaluates
        // its token expression per element (see its docstring).
        val grams = spreadScan(documents(s, d))
          .select(col("doc_id"), toks.as("tk"))
          .select(col("doc_id"),
            explode(array_distinct(shingles(col("tk"), 6))).as("g"))
          .select(col("doc_id"),
            xxhash64(col("g")).as("gh1"), xxhash64(lit(1), col("g")).as("gh2"))
          .cache()
        CacheRegistry.register(grams, Seq(grams))
        val bench = grams.filter(col("doc_id") % 5 === 0)
          .select("gh1", "gh2").distinct()
        val train = grams.filter(col("doc_id") % 5 =!= 0)
        // count(1), not count_distinct: the train side explodes
        // per-doc-DISTINCT grams and the bench side is globally distinct,
        // so the semi-join emits each (doc_id, gram) at most once — the
        // distinct aggregate's extra expand/shuffle pass bought nothing
        // (measured ~2× on this query's aggregate stage). The benchmark
        // n-gram set is small by construction (a fixed eval suite in
        // production), but the hint still degrades to a shuffle join past
        // the size estimate rather than forcing an OOM.
        train.join(broadcastIfSmall(bench), Seq("gh1", "gh2"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shared"))
          .orderBy("doc_id")
      },
      Some(
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |g AS (
          |  SELECT DISTINCT doc_id,
          |         CASE WHEN len(ws) >= 6
          |              THEN ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '
          |                   ||ws[i+4]||' '||ws[i+5]
          |              ELSE array_to_string(ws, ' ') END AS g
          |  FROM w, UNNEST(range(1, greatest(len(ws) - 4, 2))) AS t(i)
          |), bench AS (
          |  SELECT DISTINCT g FROM g WHERE doc_id % 5 = 0
          |)
          |SELECT doc_id, CAST(count(DISTINCT g.g) AS BIGINT) AS n_shared
          |FROM g JOIN bench USING (g)
          |WHERE doc_id % 5 != 0
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Sequence packing — the last step before training: assign documents
    // to ~2048-token training chunks. True greedy packing is inherently
    // serial, so the scalable shape is BUCKETED packing: docs hash into
    // 32 independent buckets (doc_id mod — balanced by construction),
    // each bucket packs serially in a deterministic md5 order via a
    // running token sum, and a chunk is a floor(cum/2048) slice. Every
    // window partition is a bounded bucket — the parallelism knob is the
    // bucket count (sized to corpus/chunk budget at 100 TB), never one
    // stratum through one task. Output is the per-chunk manifest
    // (bucket, chunk, docs, tokens); integer arithmetic end to end.
    ("documents_pack_chunks",
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy("bucket")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        documents(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"),
            pmod(col("doc_id"), lit(32)).cast("int").as("bucket"))
          .withColumn("cum", sum("n_tokens").over(w))
          .withColumn("chunk_id",
            floor((col("cum") - col("n_tokens")) / 2048).cast("long"))
          .groupBy("bucket", "chunk_id")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("chunk_tokens"))
          .orderBy("bucket", "chunk_id")
      },
      Some(
        """WITH b AS (
          |  SELECT doc_id,
          |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          |         CAST(doc_id % 32 AS INTEGER) AS bucket
          |  FROM documents
          |), c AS (
          |  SELECT bucket, n_tokens,
          |         sum(n_tokens) OVER (PARTITION BY bucket
          |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM b
          |)
          |SELECT bucket, CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS chunk_id,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens
          |FROM c GROUP BY 1, 2 ORDER BY bucket, chunk_id""".stripMargin)),

    // Sliding-window chunking with overlap (round 13) — the OTHER
    // chunker every retrieval/pretraining pipeline runs (pack_chunks
    // above assigns whole docs to budget chunks; this SPLITS each doc
    // into fixed token windows, stride < window so context overlaps
    // across cuts): windows of 32 tokens at stride 24, chunk k covering
    // tokens [24k, 24k+32); the last window may be short, and a doc
    // stops emitting once a window reaches its end (no tail window
    // fully contained in the previous one) — chunks = 1 + ceil(max(n −
    // 32, 0) / 24). Scan-local per-document arithmetic: explode +
    // slice, no shuffle anywhere (the orderBy is gate determinism),
    // so the plan is identical at any corpus size.
    ("documents_chunk_sliding",
      (s: SparkSession, d: String) =>
        documents(s, d)
          .select(col("doc_id"), toks.as("tk"))
          .select(col("doc_id"), col("tk"), size(col("tk")).as("n"))
          .select(col("doc_id"), col("tk"),
            explode(sequence(lit(0L),
              greatest(ceil((col("n") - lit(32)).cast("double") / 24)
                .cast("long"), lit(0L)))).as("chunk_id"))
          .select(col("doc_id"), col("chunk_id"),
            slice(col("tk"), (col("chunk_id") * 24 + 1).cast("int"), lit(32))
              .as("ck"))
          .select(col("doc_id"), col("chunk_id"),
            size(col("ck")).cast("long").as("n_tokens"),
            concat_ws(" ", col("ck")).as("chunk"))
          .orderBy("doc_id", "chunk_id"),
      Some(
        """WITH t AS (
          |  SELECT doc_id, string_split(text, ' ') AS tk,
          |         len(string_split(text, ' ')) AS n
          |  FROM documents
          |), c AS (
          |  SELECT doc_id, tk, n,
          |         unnest(generate_series(0,
          |           CAST(ceil(greatest(n - 32, 0) / 24.0) AS BIGINT))) AS chunk_id
          |  FROM t
          |)
          |SELECT doc_id, chunk_id,
          |       CAST(len(tk[chunk_id * 24 + 1 : least(chunk_id * 24 + 32, n)]) AS BIGINT) AS n_tokens,
          |       array_to_string(tk[chunk_id * 24 + 1 : least(chunk_id * 24 + 32, n)], ' ') AS chunk
          |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // Within-document repetition — the Gopher-family quality signal a
    // text-quality filter keys on: the fraction of REPEATED 3-grams
    // (1 − distinct/total over the duplicate-preserving shingle list).
    // Boilerplate and looped generations repeat n-grams; clean prose
    // doesn't. Scan-local per-document arithmetic, no shuffle.
    ("text_repetition",
      (s: SparkSession, d: String) =>
        documents(s, d)
          .select(col("doc_id"), toks.as("tk"))
          .select(col("doc_id"), shingles(col("tk"), 3).as("sh"))
          .select(col("doc_id"),
            size(col("sh")).cast("long").as("n_grams"),
            size(array_distinct(col("sh"))).cast("long").as("n_distinct"))
          .withColumn("rep_ratio",
            round(lit(1.0) - col("n_distinct") / col("n_grams"), 4))
          .withColumn("is_repetitive", col("rep_ratio") > 0.2)
          .orderBy("doc_id"),
      Some(
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |g AS (
          |  SELECT doc_id,
          |         CASE WHEN len(ws) >= 3
          |              THEN [ws[i]||' '||ws[i+1]||' '||ws[i+2]
          |                    for i in range(1, len(ws) - 1)]
          |              ELSE [array_to_string(ws, ' ')] END AS sh
          |  FROM w
          |)
          |SELECT doc_id,
          |       CAST(len(sh) AS BIGINT) AS n_grams,
          |       CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
          |       round(1.0 - len(list_distinct(sh)) * 1.0 / len(sh), 4) AS rep_ratio,
          |       (1.0 - len(list_distinct(sh)) * 1.0 / len(sh)) > 0.2 AS is_repetitive
          |FROM g ORDER BY doc_id""".stripMargin)),

    // Per-document quality score: token count, lexical diversity, mean word
    // length — combined into one bounded score with a quality flag.
    ("text_quality_score",
      (s: SparkSession, d: String) =>
        documents(s, d)
          .withColumn("n_tokens", size(toks).cast("double"))
          .withColumn("n_distinct", size(array_distinct(toks)).cast("double"))
          .withColumn("distinct_ratio", col("n_distinct") / col("n_tokens"))
          .withColumn("avg_word_len",
            (length(col("text")) - col("n_tokens") + lit(1.0)) / col("n_tokens"))
          .withColumn("score",
            log(col("n_tokens")) * 0.3 + col("distinct_ratio") * 0.5 +
              col("avg_word_len") * 0.02)
          .select(
            col("doc_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            round(col("distinct_ratio"), 4).as("distinct_ratio"),
            round(col("avg_word_len"), 4).as("avg_word_len"),
            round(col("score"), 4).as("score"),
            (col("score") >= 1.5).as("is_quality"))
          .orderBy("doc_id"),
      Some(
        """WITH q AS (
          |  SELECT doc_id,
          |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
          |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_distinct,
          |         CAST(length(text) AS DOUBLE) AS n_chars
          |  FROM documents
          |), sc AS (
          |  SELECT doc_id, n_tokens,
          |         n_distinct / n_tokens AS distinct_ratio,
          |         (n_chars - n_tokens + 1.0) / n_tokens AS avg_word_len,
          |         ln(n_tokens) * 0.3 + (n_distinct / n_tokens) * 0.5 +
          |           ((n_chars - n_tokens + 1.0) / n_tokens) * 0.02 AS score
          |  FROM q
          |)
          |SELECT doc_id,
          |       CAST(n_tokens AS BIGINT) AS n_tokens,
          |       round(distinct_ratio, 4) AS distinct_ratio,
          |       round(avg_word_len, 4) AS avg_word_len,
          |       round(score, 4) AS score,
          |       score >= 1.5 AS is_quality
          |FROM sc ORDER BY doc_id""".stripMargin)),

    // Linear quality CLASSIFIER — the fasttext-shaped model-scoring
    // pass (quality_score above is hand-tuned feature arithmetic; this
    // is w·x over a term-weight vector, the thing a trained classifier
    // exports). The model is INLINED INTO THE PLAN: per-doc term
    // frequencies come from the native term_counts map (one scan-local
    // pass), each weighted term is an element_at lookup, so scoring is
    // ZERO-shuffle — no explode, no join against a weight table; at
    // 100 TB the classifier runs at scan speed. Weights are ×10
    // fixed-point so the weighted sum is an integer (accumulation-
    // order-independent, cross-engine exact); the only float math is
    // one division and the softsign calibration z/(1+|z|) — pure IEEE
    // arithmetic with none of exp()'s libm variance.
    ("text_quality_classifier",
      (s: SparkSession, d: String) => {
        val w10 = Seq("data" -> 12L, "fast" -> 8L, "spark" -> 6L,
          "join" -> 5L, "big" -> 4L, "slow" -> -10L, "a" -> -3L, "the" -> -3L)
        val docs = documents(s, d)
          .select(col("doc_id"), toks.as("tk"))
          .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
            term_counts(col("tk")).as("tf"))
        val sumW10 = w10.map { case (t, w) =>
          coalesce(element_at(col("tf"), lit(t)), lit(0L)) * lit(w)
        }.reduce(_ + _)
        val z = col("sum_w10").cast("double") / (lit(10.0) * col("n_tokens")) -
          lit(0.05)
        // micro-scaled fixed-point output: floor(x·1e6 + 0.5) is plain
        // IEEE arithmetic on identical doubles — round(x, 6) is not
        // cross-engine stable when x lands EXACTLY on a half (Spark
        // rounds half-up, DuckDB half-even; sum/(10n) hits exact halves)
        def micro(c: Column): Column =
          floor(c * lit(1000000.0) + lit(0.5)).cast("long")
        docs.withColumn("sum_w10", sumW10)
          .select(col("doc_id"), col("n_tokens"), col("sum_w10"),
            micro(z).as("z6"),
            micro(z / (lit(1.0) + abs(z))).as("prob6"),
            (z > 0).as("is_quality"))
          .orderBy("doc_id")
      },
      Some(
        """WITH tk AS (
          |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          |), f AS (
          |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          |         CAST(12*len(list_filter(toks, x -> x = 'data'))
          |            + 8*len(list_filter(toks, x -> x = 'fast'))
          |            + 6*len(list_filter(toks, x -> x = 'spark'))
          |            + 5*len(list_filter(toks, x -> x = 'join'))
          |            + 4*len(list_filter(toks, x -> x = 'big'))
          |            - 10*len(list_filter(toks, x -> x = 'slow'))
          |            - 3*len(list_filter(toks, x -> x = 'a'))
          |            - 3*len(list_filter(toks, x -> x = 'the')) AS BIGINT) AS sum_w10
          |  FROM tk
          |), z AS (
          |  SELECT doc_id, n_tokens, sum_w10,
          |         sum_w10 / (10.0 * n_tokens) - 0.05 AS zv
          |  FROM f
          |)
          |SELECT doc_id, n_tokens, sum_w10,
          |       CAST(floor(zv * 1000000.0 + 0.5) AS BIGINT) AS z6,
          |       CAST(floor(zv / (1.0 + abs(zv)) * 1000000.0 + 0.5) AS BIGINT) AS prob6,
          |       zv > 0 AS is_quality
          |FROM z ORDER BY doc_id""".stripMargin)),

    // Per-language top-k n-grams — the corpus-statistics inventory step
    // (stopword lists, collocation tables, contamination probes all start
    // here). Counts aggregate with map-side combine on the
    // high-cardinality (lang, gram) key, then the custom TopKPerKeyExec
    // keeps 10 rows per language in bounded heaps — no per-language sort,
    // no single-stratum window task, so the plan survives a skewed
    // million-gram language. Third production use of the operator.
    // Deterministic ties: (count desc, gram asc).
    ("text_ngram_topk",
      (s: SparkSession, d: String) =>
        ngramTopK(documents(s, d)).orderBy("lang", "g"),
      Some(
        """WITH w AS (SELECT lang, string_split(text, ' ') AS ws FROM documents),
          |g AS (
          |  SELECT lang,
          |         CASE WHEN len(ws) >= 3
          |              THEN ws[i]||' '||ws[i+1]||' '||ws[i+2]
          |              ELSE array_to_string(ws, ' ') END AS g
          |  FROM w, UNNEST(range(1, greatest(len(ws) - 1, 2))) AS t(i)
          |), c AS (
          |  SELECT lang, g, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY lang, g
          |), r AS (
          |  SELECT lang, g, cnt,
          |         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, g) AS rn
          |  FROM c
          |)
          |SELECT lang, g, cnt FROM r WHERE rn <= 10 ORDER BY lang, g""".stripMargin)),

    // Cross-language quality normalization — the step that makes quality
    // scores comparable across languages before a global cut (a raw
    // score threshold over-keeps verbose languages): per-language z-score
    // of the text_quality_score formula. Determinism is by construction:
    // scores quantize to BIGINTs scan-side, per-language (n, Σx, Σx²)
    // are exact integer aggregates (Σx² in decimal — n·Σx² − (Σx)²
    // overflows a Long at corpus scale), and z = (n·x − Σx)/√(n·Σx² −
    // (Σx)²) divides one exactly-representable integer by the IEEE sqrt
    // of another, so both engines compute bit-identical doubles — no
    // float accumulation ever crosses engines. Scale shape: the stats
    // relation is one row per language (aggregate-compress → broadcast
    // join back); the score side stays scan-local.
    ("documents_quality_zscore",
      (s: SparkSession, d: String) =>
        qualityZscore(documents(s, d)).orderBy("doc_id"),
      Some(
        """WITH q AS (
          |  SELECT doc_id, lang,
          |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
          |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_distinct,
          |         CAST(length(text) AS DOUBLE) AS n_chars
          |  FROM documents
          |), s AS (
          |  SELECT doc_id, lang,
          |         CAST(round((ln(n_tokens) * 0.3 + (n_distinct / n_tokens) * 0.5 +
          |           ((n_chars - n_tokens + 1.0) / n_tokens) * 0.02) * 1e6, 0) AS BIGINT) AS sq
          |  FROM q
          |), st AS (
          |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
          |         CAST(sum(sq) AS BIGINT) AS sm,
          |         CAST(sum(sq * sq) AS BIGINT) AS ssq
          |  FROM s GROUP BY lang
          |), z AS (
          |  SELECT doc_id, s.lang,
          |         CAST(n AS HUGEINT) * ssq - CAST(sm AS HUGEINT) * sm AS det,
          |         n * sq - sm AS num
          |  FROM s JOIN st ON s.lang = st.lang
          |)
          |SELECT doc_id, lang,
          |       CAST(round((CASE WHEN det = 0 THEN 0.0
          |                  ELSE CAST(num AS DOUBLE) / sqrt(CAST(det AS DOUBLE)) END)
          |             * 1e4, 0) AS BIGINT) AS z_q4,
          |       (CASE WHEN det = 0 THEN 0.0
          |             ELSE CAST(num AS DOUBLE) / sqrt(CAST(det AS DOUBLE)) END)
          |         >= 0 AS above_lang_mean
          |FROM z ORDER BY doc_id""".stripMargin)),

    // Heuristic language ID: argmax of marker-word counts with a fixed
    // priority order, reported as a (actual, predicted) confusion matrix.
    ("text_langid",
      (s: SparkSession, d: String) => {
        // NOT spread (measured, round 17): with the native token_count
        // the 5-marker pass is 34 ms in the scan task; a spread exchange
        // saved no wall time and added a stage (its floor costs more)
        val counted = markers.foldLeft(documents(s, d)) {
          case (df, (l, w)) => df.withColumn(s"c_$l", tokCount(w))
        }
        val langs = markers.map(_._1)
        val pred = langs.init.foldRight(lit(langs.last): Column) {
          case (l, els) =>
            val c = col(s"c_$l")
            val geAll = langs.filter(_ != l)
              .map(o => c >= col(s"c_$o")).reduce(_ && _)
            when(geAll, lit(l)).otherwise(els)
        }
        counted
          .withColumn("pred_lang", pred)
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "pred_lang")
      }, {
        val cnts = markers.map { case (l, w) => s"${duckTokCount(w)} AS c_$l" }
          .mkString(", ")
        val langs = markers.map(_._1)
        val cases = langs.init.map { l =>
          val conds = langs.filter(_ != l).map(o => s"c_$l >= c_$o").mkString(" AND ")
          s"WHEN $conds THEN '$l'"
        }.mkString(" ")
        Some(
          s"""WITH c AS (SELECT doc_id, lang, $cnts FROM documents),
             |p AS (SELECT lang, CASE $cases ELSE '${langs.last}' END AS pred_lang FROM c)
             |SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
             |FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin)
      }),

    // Corpus token frequency: explode (lateral) + aggregate + top-k.
    ("text_top_tokens",
      (s: SparkSession, d: String) =>
        documents(s, d)
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token"))
          .limit(20),
      Some(
        """SELECT token, CAST(count(*) AS BIGINT) AS n
          |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
          |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin)),

    // Content-hash fingerprint (md5 of lowercased text) — exact-dup key.
    ("text_fingerprint",
      (s: SparkSession, d: String) =>
        documents(s, d)
          .select(col("doc_id"), md5(lower(col("text"))).as("fingerprint"))
          .orderBy("doc_id"),
      Some(
        """SELECT doc_id, md5(lower(text)) AS fingerprint
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // Rolling-hash fingerprint via the native RollingFingerprint expression
    // (single streaming pass; the cheap scale path). The hash is a fixed
    // polynomial over UTF-8 bytes (base 1000003 mod 2^64 from the FNV
    // offset basis), so DuckDB can replay it exactly with hugeint
    // arithmetic — the corpus is ASCII, making unicode(char) ≡ byte.
    ("text_fingerprint_rolling",
      (s: SparkSession, d: String) =>
        documents(s, d)
          .select(col("doc_id"), rolling_fp(lower(col("text"))).as("fingerprint"))
          .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |       CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616
          |                 ELSE h END AS BIGINT) AS fingerprint
          |FROM (
          |  SELECT doc_id,
          |         list_reduce(
          |           list_prepend(CAST(1469598103934665603 AS HUGEINT),
          |             [CAST(unicode(x) AS HUGEINT) for x in string_split(lower(text), '')]),
          |           (a, b) -> (a * 1000003 + b) % 18446744073709551616) AS h
          |  FROM documents)
          |ORDER BY doc_id""".stripMargin)),

    // Winnowing fingerprint selection (the MOSS sketch, SIGMOD 2003) — the
    // local-similarity sketch real code/text dedup stacks store per document:
    // hash every char 4-gram, slide an 8-gram window, keep each window's
    // minimum (leftmost on tie). Any shared substring of length ≥ 11 chars
    // between two documents is GUARANTEED to share a selected hash, at
    // ~2/(w+1) of the grams stored. The native WinnowSelect expression does
    // it in one incremental pass per row (monotonic deque, O(n) not O(n·w))
    // inside whole-stage codegen — scan-local, no shuffle, the 100 TB shape.
    // DuckDB replays the same seedless base-1000003 mod-2^64 gram hash
    // term-by-term in hugeint and the window selection as an explicit
    // window×gram join — O(n·w) rows, the cost of not having the operator.
    // Output is set-shaped (distinct selected hashes, sorted) and ships as
    // count + md5 over the joined values — no array cells in the gate.
    ("text_winnowing",
      (s: SparkSession, d: String) =>
        documents(s, d)
          .select(col("doc_id"), col("text"),
            winnow_fp(col("text"), 4, 8).as("sel"))
          .select(col("doc_id"),
            greatest(length(col("text")) - 3, lit(0)).cast("long").as("n_grams"),
            size(col("sel")).cast("long").as("n_selected"),
            md5(array_join(transform(col("sel"), _.cast("string")), ","))
              .as("winnow_md5"))
          .orderBy("doc_id"),
      Some(
        """WITH ch AS (
          |  SELECT doc_id, string_split(text, '') AS cs, len(text) AS n FROM documents
          |), g AS (
          |  SELECT doc_id, i AS p,
          |         CAST(CASE WHEN hu >= 9223372036854775808
          |                   THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS h
          |  FROM (
          |    SELECT doc_id, i,
          |           (CAST(unicode(cs[i]) AS HUGEINT) * 1000009000027000027
          |            + CAST(unicode(cs[i+1]) AS HUGEINT) * 1000006000009
          |            + CAST(unicode(cs[i+2]) AS HUGEINT) * 1000003
          |            + CAST(unicode(cs[i+3]) AS HUGEINT)) % 18446744073709551616 AS hu
          |    FROM ch, UNNEST(range(1, greatest(n - 2, 1))) AS r(i)
          |  )
          |), mx AS (SELECT doc_id, max(p) AS m FROM g GROUP BY doc_id
          |), win AS (
          |  SELECT doc_id, t
          |  FROM mx, UNNEST(range(1, greatest(m - 6, 2))) AS r(t)
          |), j AS (
          |  SELECT g.doc_id, w.t, g.p, g.h
          |  FROM win w JOIN g ON g.doc_id = w.doc_id AND g.p >= w.t AND g.p < w.t + 8
          |), mn AS (SELECT doc_id, t, min(h) AS mh FROM j GROUP BY doc_id, t
          |), sp AS (
          |  SELECT j.doc_id, j.t, min(j.p) AS p
          |  FROM j JOIN mn ON j.doc_id = mn.doc_id AND j.t = mn.t AND j.h = mn.mh
          |  GROUP BY j.doc_id, j.t
          |), sh AS (
          |  SELECT DISTINCT q.doc_id, g.h
          |  FROM (SELECT DISTINCT doc_id, p FROM sp) q
          |  JOIN g ON g.doc_id = q.doc_id AND g.p = q.p
          |), agg AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_selected,
          |         md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY h)) AS winnow_md5
          |  FROM sh GROUP BY doc_id
          |)
          |SELECT d.doc_id,
          |       CAST(greatest(len(d.text) - 3, 0) AS BIGINT) AS n_grams,
          |       coalesce(a.n_selected, CAST(0 AS BIGINT)) AS n_selected,
          |       coalesce(a.winnow_md5, md5('')) AS winnow_md5
          |FROM documents d LEFT JOIN agg a USING (doc_id)
          |ORDER BY doc_id""".stripMargin)),

    // Unigram-LM quality score — the perplexity-proxy filter (CCNet-style,
    // with the KenLM stage stood in by the corpus' own unigram model): a
    // document's mean negative log-likelihood under corpus token
    // frequencies. Shape at 100 TB: the vocab is an aggregate-compressed
    // relation (tokens, not documents) so it broadcasts; the corpus-side
    // join is map-side and the per-doc reduction is one partial-agg
    // shuffle on doc_id. Per-token log-probs are quantized to scaled
    // BIGINTs (×1e6) BEFORE the per-doc sum, so the aggregate is integer
    // arithmetic — no float accumulation order anywhere in the compared
    // output (the lineitem_stats_agg determinism pattern).
    ("text_unigram_logprob",
      (s: SparkSession, d: String) =>
        unigramLogprob(documents(s, d)).orderBy("doc_id"),
      Some(
        """WITH tok AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
          |), v AS (
          |  SELECT token, count(*) AS cnt FROM tok GROUP BY token
          |), t AS (
          |  SELECT sum(cnt) AS total FROM v
          |), lp AS (
          |  SELECT token,
          |         CAST(round((ln(cnt) - ln(total)) * 1e6, 0) AS BIGINT) AS lp6
          |  FROM v, t
          |)
          |SELECT doc_id,
          |       CAST(count(*) AS BIGINT) AS n_tokens,
          |       CAST(sum(lp6) AS BIGINT) AS sum_lp6,
          |       round(-(CAST(sum(lp6) AS DOUBLE) / 1e6) / count(*), 4) AS nll
          |FROM tok JOIN lp USING (token)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Vocabulary encoding — tokenize-to-ids, the step that turns a text
    // corpus into the integer sequences a trainer consumes (see
    // [[encodeIds]] for the relation and its scale shape).
    ("text_encode_ids",
      (s: SparkSession, d: String) =>
        encodeIds(documents(s, d))
          .select(col("doc_id"),
            size(col("ids")).cast("long").as("n_tokens"),
            // the driver's hash compare can't digest array cells, so the
            // sequence identity travels as md5 over the ','-joined ids —
            // any id or POSITION flip changes it (the spec checks the
            // open array relation end to end)
            md5(array_join(col("ids"), ",")).as("ids_md5"))
          .orderBy("doc_id"),
      Some(
        """WITH w AS (
          |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
          |), tok AS (
          |  SELECT doc_id, i - 1 AS pos, ws[i] AS token
          |  FROM w, UNNEST(range(1, len(ws) + 1)) AS t(i)
          |), v AS (
          |  SELECT token, count(*) AS cnt FROM tok GROUP BY token
          |), ids AS (
          |  SELECT token,
          |         CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1
          |              AS INTEGER) AS tid
          |  FROM v
          |)
          |SELECT doc_id,
          |       CAST(count(*) AS BIGINT) AS n_tokens,
          |       md5(array_to_string(list(tid ORDER BY pos), ',')) AS ids_md5
          |FROM tok JOIN ids USING (token)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Bigram PMI — corpus collocation statistics (the classic phrase-mining
    // signal): pmi(w1,w2) = ln(c12·N1² / (N2·c1·c2)), top 20. Both unigram
    // and bigram count relations are aggregate-compressed, so the two
    // unigram attachments are broadcast joins; nothing document-sized
    // shuffles after the two counting aggregates. PMI is quantized to a
    // scaled BIGINT and the ranking runs on (pmi6, bigram) — a total order
    // both engines compute identically from identical integers.
    ("text_pmi_bigrams",
      (s: SparkSession, d: String) => pmiBigrams(documents(s, d)).limit(20),
      Some(
        """WITH w AS (
          |  SELECT string_split(text, ' ') AS ws FROM documents
          |  WHERE len(string_split(text, ' ')) >= 2
          |), uni AS (
          |  SELECT unnest(ws) AS w FROM w
          |), uc AS (
          |  SELECT w, count(*) AS cu FROM uni GROUP BY w
          |), n1 AS (SELECT sum(cu) AS n1 FROM uc
          |), bg AS (
          |  SELECT ws[i] || ' ' || ws[i+1] AS bg
          |  FROM w, UNNEST(range(1, len(ws))) AS t(i)
          |), bc AS (
          |  SELECT bg, count(*) AS c12 FROM bg GROUP BY bg
          |), n2 AS (SELECT sum(c12) AS n2 FROM bc)
          |SELECT bg AS bigram, CAST(c12 AS BIGINT) AS c12,
          |       CAST(round((ln(c12) - ln(u1.cu) - ln(u2.cu)
          |                   + 2.0 * ln(n1) - ln(n2)) * 1e6, 0) AS BIGINT) AS pmi6
          |FROM bc, n1, n2, uc u1, uc u2
          |WHERE u1.w = string_split(bg, ' ')[1]
          |  AND u2.w = string_split(bg, ' ')[2]
          |ORDER BY pmi6 DESC, bigram LIMIT 20""".stripMargin)),

    // Cross-document repeated spans — the exact-substring-dedup signal
    // (Lee et al., "Deduplicating Training Data Makes Language Models
    // Better"): for each document, what fraction of its distinct 8-token
    // spans also occurs in some OTHER document. The span relation is
    // doc-distinct before the document-frequency aggregate, and the
    // flag-back is an equi-join on the span — bucketed all the way, never
    // all-pairs, the same shape that scales the n-gram dedup family.
    ("text_dup_spans",
      (s: SparkSession, d: String) => dupSpans(documents(s, d)).orderBy("doc_id"),
      Some(
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |g AS (
          |  SELECT DISTINCT doc_id,
          |         CASE WHEN len(ws) >= 8
          |              THEN ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '
          |                   ||ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7]
          |              ELSE array_to_string(ws, ' ') END AS g
          |  FROM w, UNNEST(range(1, greatest(len(ws) - 6, 2))) AS t(i)
          |), dfreq AS (
          |  SELECT g, count(*) AS df FROM g GROUP BY g
          |)
          |SELECT doc_id,
          |       CAST(count(*) AS BIGINT) AS n_spans,
          |       CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
          |       round(CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
          |             / count(*), 4) AS dup_ratio,
          |       (CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
          |             / count(*)) > 0.5 AS is_dup_heavy
          |FROM g JOIN dfreq USING (g)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // BPE-style merge training (see [[bpeMerges]]) — the tokenizer-
    // training loop: 8 rounds of top-pair learning, each a distributed
    // pair-count aggregate with only the winning pair collected, the
    // merge applied corpus-wide as a scan-local rewrite over the PREVIOUS
    // round's cached text (linear in rounds; 3 rounds hid the quadratic
    // re-replace this round count would expose). The oracle replays all 8
    // rounds in SQL (count → top-1 → merge via the same double-space
    // replace scheme, one CTE chain per round, generated by
    // [[bpeOracleSql]]), so the differential checks the full iterative
    // trajectory, not just round 1.
    ("text_bpe_merges",
      (s: SparkSession, d: String) =>
        bpeMerges(documents(s, d), 8).orderBy("round"),
      Some(bpeOracleSql(8))),

    // BPE APPLY (see [[bpeApply]]) — train-then-tokenize, the complete
    // tokenizer loop: the 8 learned merges applied corpus-wide, checked
    // per document by post-merge token count AND the md5 of the merged
    // text (any divergence in any merge round on any document flips its
    // digest). Shares the per-round cache with text_bpe_merges — the
    // second of the pair replays against warm materializations.
    ("text_bpe_apply",
      (s: SparkSession, d: String) =>
        bpeApply(documents(s, d), 8).orderBy("doc_id"),
      Some(bpeOracleSql(8, apply = true))),

    // DSIR-style importance weights (Xie et al., "Data Selection for
    // Language Models via Importance Resampling"): score every document by
    // Σ_g log(p_target(g)/p_source(g)) over its bigram features, where the
    // target distribution is the high-resource slice (lang='en') and the
    // source is the whole corpus; add-0.5 smoothing keeps absent features
    // finite. Both feature-count relations are aggregate-compressed
    // (bigrams, not documents) → broadcast joins; per-feature log-ratios
    // quantize to scaled BIGINTs before the per-doc integer sum (the
    // text_unigram_logprob determinism shape). Production note: at 100 TB
    // the feature space is hashed to a fixed bucket count (the paper's
    // hashed n-grams) — here features stay raw strings so the oracle
    // differential is engine-exact; the hash is one extra scan-local
    // column either way.
    ("documents_importance_weights",
      (s: SparkSession, d: String) => {
        val tk = documents(s, d)
          .filter(size(toks) >= 2)
          .select(col("doc_id"), col("lang"), toks.as("tk"))
        // cached: the gram relation feeds the counting aggregate AND the
        // final scoring join — without the cache the scan+explode pass
        // runs once per consumer (the prefix-join precedent: row shape is
        // small, and at corpus scale MEMORY_AND_DISK degrades gracefully
        // to spill/recompute)
        val grams = tk.select(col("doc_id"), col("lang"),
          explode(shingles(col("tk"), 2)).as("g"))
          .cache()
        // ONE counting aggregate carries both distributions (total count +
        // conditional target count per feature) — the target side is a
        // filtered sum, not a second explode pass over the corpus; cached
        // because it feeds both the totals row and the ratio projection
        val cnts = grams.groupBy("g").agg(
          count(lit(1)).as("cs"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
          .cache()
        // managed like the dedup family's caches (LRU per session) — the
        // gram relation is corpus-sized, exactly what must not leak
        CacheRegistry.register(grams, Seq(grams, cnts))
        val totals = cnts.agg(sum("cs").as("ns"), sum("ct").as("nt"))
        val ratios = cnts
          .crossJoin(broadcast(totals))
          .select(col("g"),
            round((log(col("ct").cast("double") + 0.5) -
              log(col("nt").cast("double") + 0.5) -
              log(col("cs").cast("double") + 0.5) +
              log(col("ns").cast("double") + 0.5)) * 1e6, 0)
              .cast("long").as("lr6"))
        grams.join(broadcastIfSmall(ratios), "g")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_feats"), sum("lr6").as("sum_lr6"))
          .orderBy("doc_id")
      },
      Some(
        """WITH w AS (
          |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
          |  WHERE len(string_split(text, ' ')) >= 2
          |), g AS (
          |  SELECT doc_id, lang, ws[i] || ' ' || ws[i+1] AS g
          |  FROM w, UNNEST(range(1, len(ws))) AS t(i)
          |), c AS (
          |  SELECT g, count(*) AS cs,
          |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
          |  FROM g GROUP BY g
          |), tot AS (
          |  SELECT sum(cs) AS ns, sum(ct) AS nt FROM c
          |), r AS (
          |  SELECT c.g,
          |         CAST(round((ln(CAST(ct AS DOUBLE) + 0.5)
          |                     - ln(CAST(nt AS DOUBLE) + 0.5)
          |                     - ln(CAST(cs AS DOUBLE) + 0.5)
          |                     + ln(CAST(ns AS DOUBLE) + 0.5)) * 1e6, 0)
          |              AS BIGINT) AS lr6
          |  FROM c, tot
          |)
          |SELECT doc_id,
          |       CAST(count(*) AS BIGINT) AS n_feats,
          |       CAST(sum(lr6) AS BIGINT) AS sum_lr6
          |FROM g JOIN r USING (g)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // BM25 keyword search — the retrieval scorer a data pipeline uses to
    // mine/rank documents for a term set (k1=1.2, b=0.75, the classic
    // parameters). Per-doc term frequencies are scan-local lambda counts;
    // the corpus statistics (N, avgdl, per-term document frequencies) are
    // ONE aggregate row cross-joined back as a broadcast — the corpus
    // never shuffles, and the top-k is a TakeOrdered. All inputs to the
    // score are exactly-representable integers (tf, dl, df counts as
    // doubles — integer sums in double are exact), so both engines
    // compute bit-identical scores; the ranking runs on the ×1e6
    // quantized BIGINT.
    ("text_bm25_search",
      (s: SparkSession, d: String) =>
        bm25Top20(documents(s, d), Seq("spark", "table", "query")),
      Some(
        """WITH base AS (
          |  SELECT doc_id,
          |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
          |         CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS DOUBLE) AS tf0,
          |         CAST(len(list_filter(string_split(text, ' '), x -> x = 'table')) AS DOUBLE) AS tf1,
          |         CAST(len(list_filter(string_split(text, ' '), x -> x = 'query')) AS DOUBLE) AS tf2
          |  FROM documents
          |), stats AS (
          |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
          |         sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
          |         sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
          |         sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2
          |  FROM base
          |)
          |SELECT doc_id, score6 FROM (
          |  SELECT doc_id,
          |         CAST(round((
          |             ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * 2.2)
          |               / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
          |           + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2)
          |               / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
          |           + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2)
          |               / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
          |         ) * 1e6, 0) AS BIGINT) AS score6
          |  FROM base, stats
          |) WHERE score6 > 0
          |ORDER BY score6 DESC, doc_id LIMIT 20""".stripMargin)),

    // Source-mixture weights — the data-mixing step before training: given
    // a target mixture (uniform share per source here), compute each
    // source's sampling rate (×1e6, capped at 1.0) and repeat factor
    // (epochs) to hit its target token share. The relation is aggregate-
    // compressed to one row per source, so at 100 TB this is one partial-agg
    // shuffle over the corpus plus a broadcast of a source-count-sized
    // relation. Rate/epoch arithmetic runs in IEEE doubles on exactly-
    // representable integer inputs (token sums ≪ 2^53) with a single
    // correctly-rounded division before floor/ceil — bit-identical in any
    // IEEE engine, no accumulation anywhere.
    ("documents_mixture_weights",
      (s: SparkSession, d: String) => {
        val per = documents(s, d).groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(toks).cast("long")).as("src_tokens"))
        val tot = per.agg(sum("src_tokens").as("total_tokens"),
          count(lit(1)).as("n_sources"))
        per.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("src_tokens"),
            least(lit(1000000L),
              floor(lit(1000000.0) * col("total_tokens") /
                (col("n_sources") * col("src_tokens"))).cast("long")).as("rate6"),
            ceil(col("total_tokens").cast("double") /
              (col("n_sources") * col("src_tokens"))).cast("long").as("epochs"))
          .orderBy("source")
      },
      Some(
        """WITH per AS (
          |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
          |  FROM documents GROUP BY source
          |), tot AS (
          |  SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
          |         CAST(count(*) AS BIGINT) AS n_sources
          |  FROM per
          |)
          |SELECT source, n_docs, src_tokens,
          |       least(1000000, CAST(floor(1000000.0 * total_tokens
          |         / (n_sources * src_tokens)) AS BIGINT)) AS rate6,
          |       CAST(ceil(CAST(total_tokens AS DOUBLE)
          |         / (n_sources * src_tokens)) AS BIGINT) AS epochs
          |FROM per, tot ORDER BY source""".stripMargin)),

    // Deterministic global training-order shuffle (see [[shuffleOrder]]):
    // the oracle replays the total order as a no-partition row_number —
    // fine in a single-process engine, single-task in Spark, which is why
    // the Spark plan is the range-sort + zipWithIndex instead (ExplainSpec
    // pins the absence of a single-partition exchange).
    ("documents_shuffle_order",
      (s: SparkSession, d: String) =>
        shuffleOrder(documents(s, d)).orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |       CAST(row_number() OVER (
          |         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // CCNet-style perplexity terciles per language (see [[pplBuckets]]):
    // the oracle uses its engine's native ntile; the Spark side computes
    // ntile's closed form over within-language ranks (range sort +
    // scan-local indexes + broadcast offsets) so no language serializes
    // through one task.
    ("documents_ppl_buckets",
      (s: SparkSession, d: String) =>
        pplBuckets(documents(s, d))
          .select(col("lang"), col("bucket"), col("n_docs"),
            col("sum_tokens").cast("long").as("sum_tokens"),
            col("min_nll"), col("max_nll")),
      Some(
        """WITH tok AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
          |), v AS (
          |  SELECT token, count(*) AS cnt FROM tok GROUP BY token
          |), t AS (
          |  SELECT sum(cnt) AS total FROM v
          |), lp AS (
          |  SELECT token,
          |         CAST(round((ln(cnt) - ln(total)) * 1e6, 0) AS BIGINT) AS lp6
          |  FROM v, t
          |), doc AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |         round(-(CAST(sum(lp6) AS DOUBLE) / 1e6) / count(*), 4) AS nll
          |  FROM tok JOIN lp USING (token) GROUP BY doc_id
          |), j AS (
          |  SELECT d.lang, doc.doc_id, doc.n_tokens, doc.nll
          |  FROM doc JOIN documents d USING (doc_id)
          |), b AS (
          |  SELECT lang, n_tokens, nll,
          |         CAST(ntile(3) OVER (
          |           PARTITION BY lang ORDER BY nll, doc_id) AS BIGINT) AS bucket
          |  FROM j
          |)
          |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
          |       min(nll) AS min_nll, max(nll) AS max_nll
          |FROM b GROUP BY lang, bucket
          |ORDER BY lang, bucket""".stripMargin)),

    // PII scrubbing — the redaction pass every public-corpus pipeline runs
    // before training. The corpus is synthetic (no real PII), so the query
    // PLANTS deterministic id-derived emails and phone numbers first, then
    // scrubs them — making the scrub observable and the differential
    // meaningful (a wrong regex or a missed global-replace flips the md5).
    // Patterns stay in the Java-regex ∩ RE2 common subset (character
    // classes, bounded repeats, no backrefs) so both engines match the
    // same spans; Spark's regexp_replace is global by default, DuckDB
    // needs the explicit 'g' option. Scan-local, no shuffle — at 100 TB
    // the scrub is free parallelism like every per-row text op.
    ("text_scrub_pii",
      (s: SparkSession, d: String) => {
        val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val phonePat = "555-[0-9]{4}"
        val planted = documents(s, d).select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"),
            when(col("doc_id") % 2 === 0,
              concat(lit(" or admin"), col("doc_id").cast("string"),
                lit("@mail.example.org"))).otherwise(lit("")),
            lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("t"))
        planted.select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(emailPat), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("t"), lit(phonePat), lit(0)))
            .cast("long").as("n_phones"),
          md5(regexp_replace(regexp_replace(col("t"), emailPat, "<EMAIL>"),
            phonePat, "<PHONE>")).as("scrubbed_md5"))
          .orderBy("doc_id")
      },
      Some(
        """WITH planted AS (
          |  SELECT doc_id,
          |         text || ' contact user' || CAST(doc_id AS VARCHAR)
          |           || '@example.com'
          |           || CASE WHEN doc_id % 2 = 0
          |                   THEN ' or admin' || CAST(doc_id AS VARCHAR)
          |                     || '@mail.example.org'
          |                   ELSE '' END
          |           || ' call 555-'
          |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
          |  FROM documents
          |)
          |SELECT doc_id,
          |       CAST(len(regexp_extract_all(t,
          |         '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
          |       CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
          |       md5(regexp_replace(regexp_replace(t,
          |         '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
          |         '555-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_md5
          |FROM planted ORDER BY doc_id""".stripMargin)),

    // Count-min-sketch heavy hitters — the mergeable-sketch pattern for
    // streaming/distributed frequency estimation (Cormode & Muthukrishnan
    // 2005). d=4 rows × w=4096 buckets; row hashes are the first 3 hex
    // chars of md5(token '#' row) so both engines address identical cells
    // with pure string ops (no engine-specific hash). The grid builds from
    // the vocabulary-compressed token counts in ONE partial-aggregated
    // shuffle — at 100 TB the sketch is a 16k-cell relation that
    // map-side-combines perfectly and merges across shards by cell-wise
    // addition (the reason CMS exists). Estimates for the top-20 true
    // tokens probe the 4 cells each and take the min; the gate pins the
    // exact estimates AND the CMS overestimate guarantee (est ≥ true,
    // self-verifying boolean).
    ("text_heavy_hitters_cms",
      (s: SparkSession, d: String) => {
        // cached: the vocabulary-compressed count relation feeds BOTH the
        // grid build and the top-20 probe — uncached, each consumer
        // re-ran the corpus explode + token aggregate (the file's
        // multi-consumer convention: pmiBigrams/unigramLogprob)
        val cnt = documents(s, d)
          .select(explode(toks).as("token"))
          .groupBy("token").agg(count(lit(1)).as("cnt"))
          .cache()
        CacheRegistry.register(cnt, Seq(cnt))
        val cells = cnt.select(col("cnt"),
          posexplode(transform(sequence(lit(0), lit(3)),
            i => substring(md5(concat(col("token"), lit("#"), i.cast("string"))), 1, 3)))
            .as(Seq("rw", "bucket")))
        val grid = cells.groupBy("rw", "bucket").agg(sum("cnt").as("cell"))
        val top = cnt
          .orderBy(col("cnt").desc, col("token")).limit(20)
          .select(col("token"), col("cnt").as("true_cnt"),
            posexplode(transform(sequence(lit(0), lit(3)),
              i => substring(md5(concat(col("token"), lit("#"), i.cast("string"))), 1, 3)))
              .as(Seq("rw", "bucket")))
        top.join(grid, Seq("rw", "bucket"))
          .groupBy("token", "true_cnt")
          .agg(min("cell").as("est_cnt"))
          .select(col("token"), col("true_cnt"), col("est_cnt"),
            (col("est_cnt") >= col("true_cnt")).as("never_underestimates"))
          .orderBy(col("true_cnt").desc, col("token"))
      },
      Some(
        """WITH cnt AS (
          |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
          |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
          |  GROUP BY token
          |), cells AS (
          |  SELECT r.i AS rw,
          |         substr(md5(token || '#' || CAST(r.i AS VARCHAR)), 1, 3) AS bucket,
          |         cnt
          |  FROM cnt, UNNEST(range(0, 4)) AS r(i)
          |), grid AS (
          |  SELECT rw, bucket, CAST(sum(cnt) AS BIGINT) AS cell
          |  FROM cells GROUP BY rw, bucket
          |), tp AS (
          |  SELECT token, cnt AS true_cnt FROM cnt
          |  ORDER BY cnt DESC, token LIMIT 20
          |), probes AS (
          |  SELECT token, true_cnt, r.i AS rw,
          |         substr(md5(token || '#' || CAST(r.i AS VARCHAR)), 1, 3) AS bucket
          |  FROM tp, UNNEST(range(0, 4)) AS r(i)
          |)
          |SELECT p.token, p.true_cnt, min(g.cell) AS est_cnt,
          |       min(g.cell) >= p.true_cnt AS never_underestimates
          |FROM probes p JOIN grid g ON p.rw = g.rw AND p.bucket = g.bucket
          |GROUP BY p.token, p.true_cnt
          |ORDER BY p.true_cnt DESC, p.token""".stripMargin)),

    // Hybrid retrieval via reciprocal-rank fusion (Cormack et al., SIGIR'09)
    // — the two-tower search stack's merge step: the SAME fixed query runs
    // lexically (the text_bm25_search scoring, top-20) and semantically
    // (cosine against doc 0's embedding over the aligned embeddings table,
    // top-20), and the lists fuse by RRF(k=60): score = Σ 1/(60+rank).
    // Ranks come from row_number over the ALREADY-CAPPED 20-row lists —
    // a window over a constant-k relation is scale-free (the corpus-wide
    // work is the two TakeOrdered top-k passes, both distributed); the RRF
    // sum runs in integers (floor(1e6/(60+rank)) per list) so fusion is
    // exact in both engines. Cosine ranks on the ×1e6-quantized similarity
    // with doc_id tie-break — no raw-double ordering crosses the hash.
    ("text_hybrid_rrf",
      (s: SparkSession, d: String) => {
        // lexical leg = the SAME bm25Top20 scorer as text_bm25_search
        // (shared helper — the two legs can't drift apart)
        val lexTop = bm25Top20(documents(s, d), Seq("spark", "table", "query"))
        val emb = embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val qv = emb.filter(col("vec_id") === 0L).select(col("v").as("qv"))
        // the semantic leg's top-20 is output-capped but its lineage is
        // the full-corpus cosine scan — cached (20 rows) so repeat
        // invocations pay only the fusion over the two capped lists (the
        // lexical leg's corpus pass already persists inside bm25Top20)
        val semTop = emb.crossJoin(broadcast(qv))
          .select(col("vec_id").as("doc_id"),
            round(cosine_sim(col("v"), col("qv")) * 1e6, 0).cast("long").as("sim6"))
          .orderBy(col("sim6").desc, col("doc_id")).limit(20)
          .cache()
        CacheRegistry.register(semTop, Seq(semTop))
        // fusion in ONE pass over the union of the two capped lists: a
        // single leg-partitioned window ranks both legs (each ≤ 20 rows),
        // and a doc_id aggregate replaces the full_outer join — two
        // single-partition window exchanges + a join collapse into one
        // 2-key window + one aggregate, halving this query's stage count
        // (its inputs are cached 20-row lists; stage floors WERE the cost)
        val fused = lexTop
          .select(col("doc_id"), col("score6").as("sc"), lit("l").as("leg"))
          .unionAll(semTop
            .select(col("doc_id"), col("sim6").as("sc"), lit("s").as("leg")))
          .withColumn("rank", row_number().over(
            Window.partitionBy("leg").orderBy(col("sc").desc, col("doc_id")))
            .cast("long"))
        fused.groupBy("doc_id")
          .agg(sum(expr("1000000 div (60 + rank)")).as("rrf6"),
            coalesce(max(when(col("leg") === "l", col("rank"))), lit(0L))
              .as("lrank"),
            coalesce(max(when(col("leg") === "s", col("rank"))), lit(0L))
              .as("srank"))
          .orderBy(col("rrf6").desc, col("doc_id")).limit(10)
      },
      Some(
        """WITH base AS (
          |  SELECT doc_id,
          |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
          |         CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS DOUBLE) AS tf0,
          |         CAST(len(list_filter(string_split(text, ' '), x -> x = 'table')) AS DOUBLE) AS tf1,
          |         CAST(len(list_filter(string_split(text, ' '), x -> x = 'query')) AS DOUBLE) AS tf2
          |  FROM documents
          |), stats AS (
          |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
          |         sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
          |         sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
          |         sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2
          |  FROM base
          |), lex_top AS (
          |  SELECT doc_id, score6 FROM (
          |    SELECT doc_id,
          |           CAST(round((
          |               ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * 2.2)
          |                 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
          |             + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2)
          |                 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
          |             + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2)
          |                 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
          |           ) * 1e6, 0) AS BIGINT) AS score6
          |    FROM base, stats
          |  ) WHERE score6 > 0
          |  ORDER BY score6 DESC, doc_id LIMIT 20
          |), lex AS (
          |  SELECT doc_id,
          |         CAST(row_number() OVER (ORDER BY score6 DESC, doc_id) AS BIGINT) AS lrank
          |  FROM lex_top
          |), sem_top AS (
          |  SELECT e.vec_id AS doc_id,
          |         CAST(round(list_cosine_similarity(
          |           CAST(e.embedding AS DOUBLE[]),
          |           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)
          |         ) * 1e6, 0) AS BIGINT) AS sim6
          |  FROM embeddings e
          |  ORDER BY sim6 DESC, doc_id LIMIT 20
          |), sem AS (
          |  SELECT doc_id,
          |         CAST(row_number() OVER (ORDER BY sim6 DESC, doc_id) AS BIGINT) AS srank
          |  FROM sem_top
          |)
          |SELECT doc_id,
          |       coalesce(1000000 // (60 + lrank), 0) + coalesce(1000000 // (60 + srank), 0) AS rrf6,
          |       coalesce(lrank, 0) AS lrank, coalesce(srank, 0) AS srank
          |FROM lex FULL OUTER JOIN sem USING (doc_id)
          |ORDER BY rrf6 DESC, doc_id LIMIT 10""".stripMargin)),

    // Per-document keyword extraction — top-3 TF-IDF terms per doc, the
    // tagging/indexing step search and clustering pipelines run corpus-wide.
    // tf is SCAN-LOCAL: every token of a document lives in its row, so the
    // native term_counts expression builds the per-doc frequency map in one
    // pass and explode yields (doc_id, term, tf) with NO (doc, term)
    // exchange — the groupBy form shuffles the whole token stream for
    // counts the row already contains. idf quantizes to an integer (×1e6)
    // BEFORE scoring so tf·idf6 is pure integer arithmetic; the per-doc
    // top-3 runs through TopKPerKeyExec's bounded heaps (keys = doc_ids —
    // millions of keys at 100 TB is exactly the operator's partial/final
    // split case), NOT a per-doc window sort — and with tf scan-local the
    // partial heaps already see every term of a doc, so the final exchange
    // moves ≤3 rows per document. The df relation is vocabulary-compressed
    // and size-gated-broadcast like the rest of the corpus-statistics
    // family.
    ("text_keyword_tfidf",
      (s: SparkSession, d: String) =>
        graft.plans.GraftPlans.topKPerKey(tfidfScored(documents(s, d)),
            Seq("doc_id"), Seq("tfidf6" -> false, "term" -> true), 3)
          .orderBy(col("doc_id"), col("tfidf6").desc, col("term")),
      Some(
        """WITH tf AS (
          |  SELECT doc_id, token AS term, CAST(count(*) AS BIGINT) AS tf
          |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
          |  GROUP BY doc_id, token
          |), df AS (
          |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
          |), idf AS (
          |  SELECT term,
          |         CAST(round(ln(((SELECT count(*) FROM documents) + 1.0)
          |           / (df + 1.0)) * 1e6, 0) AS BIGINT) AS idf6
          |  FROM df
          |), scored AS (
          |  SELECT tf.doc_id, tf.term, tf.tf * idf.idf6 AS tfidf6,
          |         row_number() OVER (PARTITION BY tf.doc_id
          |           ORDER BY tf.tf * idf.idf6 DESC, tf.term) AS rn
          |  FROM tf JOIN idf USING (term)
          |)
          |SELECT doc_id, term, tfidf6 FROM scored WHERE rn <= 3
          |ORDER BY doc_id, tfidf6 DESC, term""".stripMargin)),

    // Per-document n-gram novelty — the redundancy census curation runs
    // before mixing a new source into training data: for each document,
    // the fraction of its DISTINCT word trigrams whose global first
    // occurrence (lowest doc_id) is this document. No per-gram join-back:
    // the gram relation partial-aggregates to its first-seen doc (one
    // exchange on the gram, map-side combined), then collapses to tiny
    // per-doc winner counts — the corpus text never shuffles. Trigram
    // construction matches the dedup family's shingle idiom (short docs
    // contribute their whole text as one gram).
    ("documents_ngram_novelty",
      (s: SparkSession, d: String) => {
        // token array materialized into a named column first — shingles()
        // re-evaluates its argument per gram (see its docstring)
        val sh = documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
          .select(col("doc_id"), array_distinct(shingles(col("tk"), 3)).as("sh"))
        val counts = sh.select(col("doc_id"),
          size(col("sh")).cast("long").as("n_grams"))
        val novel = sh.select(col("doc_id"), explode(col("sh")).as("g"))
          .groupBy("g").agg(min("doc_id").as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
        counts.join(novel, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"),
            round(coalesce(col("n_novel"), lit(0L)) / col("n_grams"), 4)
              .as("novelty"))
          .orderBy("doc_id")
      },
      Some(
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |sh AS (
          |  SELECT DISTINCT doc_id,
          |         CASE WHEN len(ws) >= 3 THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
          |              ELSE array_to_string(ws, ' ') END AS g
          |  FROM w, UNNEST(range(1, greatest(len(ws) - 1, 2))) AS t(i)
          |), c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
          |         FROM sh GROUP BY 1),
          |f AS (SELECT g, min(doc_id) AS doc_id FROM sh GROUP BY 1),
          |nv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
          |       FROM f GROUP BY 1)
          |SELECT c.doc_id, c.n_grams,
          |       coalesce(nv.n_novel, 0) AS n_novel,
          |       round(coalesce(nv.n_novel, 0) * 1.0 / c.n_grams, 4) AS novelty
          |FROM c LEFT JOIN nv USING (doc_id)
          |ORDER BY doc_id""".stripMargin)),

    // INTRA-document chunk dedup — the within-doc half of the C4 recipe
    // (dedup_chunk_exact removes chunks repeated ACROSS the corpus; this
    // removes a chunk repeated WITHIN its own document, keeping the first
    // occurrence). Entirely scan-local: the 10-token chunking, the
    // keep-first filter (positional lambda vs array_position first-index)
    // and the md5 of the reassembled text are per-row columnar
    // expressions — ZERO shuffles beyond the output sort, the cheapest
    // shape any corpus-scale operator can have. The corpus has no organic
    // intra-doc chunk repeats, so — the observable-redaction construction
    // text_scrub_pii uses — every 5th document gets its first chunk
    // PREPENDED (grid-aligned: chunk 1 becomes an exact dup of chunk 0),
    // making the removal path, not just the identity path, part of the
    // differential.
    ("text_intradoc_dedup",
      (s: SparkSession, d: String) =>
        intradocDedup(
          documents(s, d)
            .select(col("doc_id"), split(col("text"), " ").as("tk0"))
            .withColumn("tk",
              when(pmod(col("doc_id"), lit(5)) === 0,
                concat(slice(col("tk0"), 1, 10), col("tk0")))
                .otherwise(col("tk0")))
            .select(col("doc_id"), col("tk")))
          .orderBy("doc_id"),
      Some(
        """WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS ws0 FROM documents),
          |w AS (
          |  SELECT doc_id,
          |         CASE WHEN doc_id % 5 = 0
          |              THEN list_concat(ws0[1:10], ws0) ELSE ws0 END AS ws
          |  FROM w0
          |), ch AS (
          |  SELECT doc_id, i,
          |         array_to_string(ws[(i * 10 + 1):(i * 10 + 10)], ' ') AS chunk
          |  FROM w, UNNEST(range(0, (len(ws) + 9) // 10)) t(i)
          |), k AS (
          |  SELECT doc_id, i, chunk,
          |         min(i) OVER (PARTITION BY doc_id, chunk) AS fi
          |  FROM ch
          |), agg AS (
          |  SELECT doc_id,
          |         CAST(count(*) AS BIGINT) AS n_chunks,
          |         CAST(count(*) FILTER (i = fi) AS BIGINT) AS n_kept,
          |         md5(string_agg(chunk, ' ' ORDER BY i) FILTER (i = fi))
          |           AS dedup_md5
          |  FROM k GROUP BY doc_id
          |)
          |SELECT doc_id, n_chunks, n_kept, dedup_md5 FROM agg
          |ORDER BY doc_id""".stripMargin)),

    // Budget-constrained selection (see [[tokenBudgetSelect]]): 600
    // tokens per source (binds at every SF), greedy by the quality score. The oracle replays
    // the greedy order as the window cumulative sum the Spark plan must
    // NOT contain; per-source kept/total counts and token sums pin both
    // the order (a one-doc swap changes tokens_kept) and the boundary
    // (inclusive ≤ budget).
    ("documents_token_budget",
      (s: SparkSession, d: String) =>
        tokenBudgetSelect(documents(s, d), 600L).orderBy("source"),
      Some(
        """WITH q AS (
          |  SELECT doc_id, source,
          |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
          |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_distinct,
          |         CAST(length(text) AS DOUBLE) AS n_chars
          |  FROM documents
          |), s AS (
          |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
          |         CAST(round((ln(n_tokens) * 0.3 + (n_distinct / n_tokens) * 0.5 +
          |           ((n_chars - n_tokens + 1.0) / n_tokens) * 0.02) * 1e6, 0) AS BIGINT) AS sq
          |  FROM q
          |), r AS (
          |  SELECT source, n_tokens,
          |         sum(n_tokens) OVER (PARTITION BY source
          |                             ORDER BY sq DESC, doc_id
          |                             ROWS UNBOUNDED PRECEDING) AS ct
          |  FROM s
          |)
          |SELECT source,
          |       CAST(count(*) FILTER (ct <= 600) AS BIGINT) AS n_kept,
          |       CAST(coalesce(sum(n_tokens) FILTER (ct <= 600), 0) AS BIGINT)
          |         AS tokens_kept,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_tokens) AS BIGINT) AS tokens_total
          |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    // Maximal duplicated spans (see [[dupSpanMerge]]): per document, the
    // cross-document duplicated 8-gram positions merged into maximal
    // token spans — span count, covered tokens, longest span. The oracle
    // replays the same pipeline on the gram STRINGS (the fingerprints
    // stand for them), so island bounds, coverage, and the ≥8-token
    // participation rule are all differentially checked.
    ("text_dup_span_merge",
      (s: SparkSession, d: String) =>
        dupSpanMerge(documents(s, d)).orderBy("doc_id"),
      Some(
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |g AS (
          |  SELECT doc_id, i - 1 AS pos,
          |         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '
          |         ||ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7] AS g
          |  FROM w, UNNEST(range(1, len(ws) - 6)) AS t(i)
          |  WHERE len(ws) >= 8
          |), d AS (
          |  SELECT doc_id, pos,
          |         min(doc_id) OVER (PARTITION BY g)
          |           <> max(doc_id) OVER (PARTITION BY g) AS xdoc
          |  FROM g
          |), lagged AS (
          |  SELECT doc_id, pos,
          |         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          |  FROM d WHERE xdoc
          |), isl AS (
          |  SELECT doc_id, pos,
          |         sum(CASE WHEN pos - prev > 8 THEN 1 ELSE 0 END)
          |           OVER (PARTITION BY doc_id ORDER BY pos
          |                 ROWS UNBOUNDED PRECEDING) AS island
          |  FROM lagged
          |), sp AS (
          |  SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e
          |  FROM isl GROUP BY doc_id, island
          |)
          |SELECT doc_id,
          |       CAST(count(*) AS BIGINT) AS n_spans,
          |       CAST(sum(e - s + 1) AS BIGINT) AS covered_tokens,
          |       CAST(max(e - s + 1) AS BIGINT) AS max_span_len
          |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Latest-wins upsert merge (see [[upsertLatest]]): snapshot + a
    // deterministic change feed (rev-2 rewrites for doc_id%7, delete
    // tombstones for doc_id%13, net-new docs for doc_id%11) reduced to
    // the surviving corpus — key count, final version, and the final
    // text's length per key differentially checked against DuckDB's
    // arg_max replay of the same feed.
    ("corpus_upsert_latest",
      (s: SparkSession, d: String) => {
        val docs = documents(s, d)
        val snapshot = docs.select(col("doc_id"),
          lit(1L).as("version"), lit("U").as("op"), col("text"))
        val updates = docs.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), lit(2L).as("version"), lit("U").as("op"),
            concat(lit("rev2 "), col("text")).as("text"))
        val deletes = docs.filter(col("doc_id") % 13 === 0)
          .select(col("doc_id"), lit(3L).as("version"), lit("D").as("op"),
            lit("").as("text"))
        val inserts = docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            lit(1L).as("version"), lit("U").as("op"), col("text"))
        val feed = snapshot.unionAll(updates).unionAll(deletes)
          .unionAll(inserts)
          // project the payload down to what the query keeps BEFORE the
          // merge: max_by(struct(*)) carries every column through the
          // shuffle and both sort-agg passes, so shipping the full text
          // where only its length survives paid ~50× the bytes (the
          // operator is payload-generic; pruning is the caller's lever)
          .select(col("doc_id"), col("version"), col("op"),
            length(col("text")).cast("long").as("text_len"))
        upsertLatest(feed, "doc_id", "version", "op")
          .select(col("doc_id"), col("version").as("final_version"),
            col("text_len").as("final_len"))
          .orderBy("doc_id")
      },
      Some(
        """WITH feed AS (
          |  SELECT doc_id, 1 AS version, 'U' AS op, text FROM documents
          |  UNION ALL
          |  SELECT doc_id, 2, 'U', 'rev2 ' || text
          |  FROM documents WHERE doc_id % 7 = 0
          |  UNION ALL
          |  SELECT doc_id, 3, 'D', '' FROM documents WHERE doc_id % 13 = 0
          |  UNION ALL
          |  SELECT doc_id + 1000000, 1, 'U', text
          |  FROM documents WHERE doc_id % 11 = 0
          |), latest AS (
          |  SELECT doc_id,
          |         CAST(max(version) AS BIGINT) AS final_version,
          |         arg_max(op, version) AS fop,
          |         CAST(arg_max(length(text), version) AS BIGINT) AS final_len
          |  FROM feed GROUP BY doc_id
          |)
          |SELECT doc_id, final_version, final_len
          |FROM latest WHERE fop = 'U' ORDER BY doc_id""".stripMargin))
  )
}
