package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.GraftFunctions._

/** Deduplication operators over the `documents` / `embeddings` tables —
  * the training-data-pipeline surface (BASELINE.json north star).
  *
  * Scale design (100 TB):
  *   - exact dedup is a single hash-aggregate on the dedup key;
  *   - MinHash-LSH generates candidates via an equi-join on (band, bucket) —
  *     a shuffle proportional to docs × bands, never all-pairs — and only
  *     verified candidates pay the exact-Jaccard cost;
  *   - SimHash uses the 4-chunk pigeonhole: hamming ≤ 3 ⟹ one of four
  *     16-bit chunks is identical, so the chunk equi-join is lossless;
  *   - the brute-force O(n²) variants exist as the correctness oracle and
  *     are the only ones that would NOT survive a 100× scale-up (stated in
  *     their docstrings; the LSH paths are the production shape).
  */
object DedupOps {

  type Q = (SparkSession, String) => DataFrame

  /** Tokens → distinct 3-word shingles, built-ins only. The token array is
    * materialized into a column BEFORE shingling: shingles' lambda
    * re-evaluates its token expression per element (see its docstring), so
    * an inline split would cost O(|tokens|²) per document.
    */
  private def shingled(s: SparkSession, d: String): DataFrame =
    TextOps.spreadScan(documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), array_distinct(shingles(col("tk"), 3)).as("sh"))

  /** Exact Jaccard over distinct shingle arrays for a pair DataFrame with
    * columns (a_id, b_id), in two stages:
    *
    * 1. HASH PREFILTER — per-doc sorted xxhash64 shingle arrays,
    *    intersection by the codegen'd merge scan
    *    ([[graft.functions.GraftFunctions.sorted_intersect_count]]),
    *    jaccard from counts. Collisions only MERGE distinct shingles, so
    *    the hash estimate can only OVER-state jaccard (intersection ≥
    *    true, union ≤ true) — the ≥ τ filter keeps a superset of the true
    *    pairs, lossless. This removes the string
    *    `array_intersect`/`array_union` (per-pair set allocation + string
    *    hashing) from the candidate-volume hot path: measured 2.9 s →
    *    ~0.1 s over the 310k sf0.1 candidates, and it's the step whose
    *    cost scales with candidate count at 100 TB.
    * 2. EXACT string verification on the surviving handful, so the output
    *    relation stays bit-identical to the naive baseline and the DuckDB
    *    oracle — a collision-inflated borderline pair is discarded here.
    */
  /** Stage-1 hash prefilter shared by the jaccard and overlap verifiers:
    * attach per-doc sorted xxhash64 arrays to the candidate pairs and
    * keep those whose hashed `score(inter, |A|, |B|)` clears τ. The
    * losslessness argument is the score's monotonicity under hashing —
    * collisions only MERGE shingles (inter ≥ true, sizes ≤ true), so any
    * score non-decreasing in inter and non-increasing in the sizes can
    * only OVER-state (jaccard and overlap both qualify).
    */
  private def hashPrefilter(
      pairs: DataFrame, docs: DataFrame, tau: Double,
      score: (Column, Column, Column) => Column): DataFrame = {
    // cached (round 16): the per-doc sorted-hash profile feeds BOTH join
    // sides below, so uncached the k-hash transform + per-doc sort ran
    // twice per invocation — and once more per consuming gate row; the
    // cached rows are (id, longs) — shingle-count-sized, no strings
    val h = docs.select(col("doc_id"),
      sort_array(transform(col("sh"), x => xxhash64(x))).as("sh64"))
      .cache()
    CacheRegistry.register(h, Seq(h))
    val ha = h.select(col("doc_id").as("a_id"), col("sh64").as("ha"))
    val hb = h.select(col("doc_id").as("b_id"), col("sh64").as("hb"))
    val ih = graft.functions.GraftFunctions
      .sorted_intersect_count(col("ha"), col("hb")).cast("double")
    pairs
      .join(ha, "a_id").join(hb, "b_id")
      .filter(score(ih,
        size(col("ha")).cast("double"), size(col("hb")).cast("double")) >= tau)
      .select("a_id", "b_id")
  }

  private def verifyJaccard(pairs: DataFrame, docs: DataFrame, tau: Double): DataFrame = {
    val pre = hashPrefilter(pairs, docs, tau,
      (ih, na, nb) => ih / (na + nb - ih))
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("sh_b"))
    pre
      .join(a, "a_id").join(b, "b_id")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jac", col("inter") / col("uni"))
      .filter(col("jac") >= tau)
      .select(col("a_id"), col("b_id"), round(col("jac"), 4).as("jaccard"))
  }

  /** SimHash(64) near-dup pairs at hamming ≤ 3 over (doc_id, toks) rows,
    * via the 4×16-bit chunk pigeonhole join (lossless for ≤3 bit flips:
    * hamming ≤ 3 ⟹ at least one of four 16-bit chunks is identical, so the
    * chunk equi-join generates every qualifying pair — never all-pairs).
    */
  def simhashPairs(docs: DataFrame, ordered: Boolean = true): DataFrame = {
    // duplicate collapse, as in the jaccard paths: identical token arrays
    // ⇒ identical signatures, so reps carry the chunk join and copies
    // expand back (within-group pairs at hamming 0)
    val groups = groupedByArray(docs, "doc_id", "toks")
    val sigs = groups.select(col("rep").as("doc_id"),
      simhash64(col("arr")).as("sig"))
    val chunks = sigs.select(
      col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sig"), c * 16).bitwiseAND(lit(0xffffL))): _*)))
      .toDF("doc_id", "sig", "chunk_idx", "chunk")
      // cached ON the self-join key (chunk_idx, chunk): both sides read
      // co-partitioned cached rows, so the chunk join needs no exchange
      // (see prefixIndex's layout note); also skips recomputing the
      // per-token simhash64 signature per side
      .repartition(col("chunk_idx"), col("chunk"))
      .cache()
    val repPairs = chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
        col("a.chunk") === col("b.chunk") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
    CacheRegistry.register(groups, Seq(groups, chunks))
    // identical token arrays always hamming-0 qualify (an empty-toks pair
    // had identical signatures pre-collapse too)
    expandRepPairs(repPairs, groups, "hamming", lit(0), _ => lit(true),
      ordered = ordered)
  }

  /** Sign-random-projection LSH near-dup pairs at cosine ≥ tau over
    * (vec_id, v) rows: 64-bit SRP signature, 8×8-bit band equi-join for
    * candidates, exact cosine verification. Stateless hyperplanes
    * (splitmix64-seeded) — nothing to broadcast; scales.
    */
  def srpPairs(vecs: DataFrame, tau: Double, ordered: Boolean = true): DataFrame = {
    // duplicate collapse: identical vectors ⇒ identical SRP signatures;
    // within-group pairs expand at cos_sim 1.0 (identical vectors — also
    // sidesteps sqrt(x)·sqrt(x) ≠ x float noise in the self-cosine)
    val groups = groupedByArray(vecs, "vec_id", "v")
    val e = groups.select(col("rep").as("vec_id"), col("arr").as("v"))
      .withColumn("sig", srp_sig(col("v"), 64, 42L))
    val banded = e.select(
      col("vec_id"), col("v"),
      posexplode(array((0 until 8).map(c =>
        shiftright(col("sig"), c * 8).bitwiseAND(lit(0xffL))): _*)))
      .toDF("vec_id", "v", "band", "bucket")
      // cached ON the self-join key (band, bucket) — no exchange in the
      // band join (see prefixIndex's layout note); also skips
      // recomputing the 64-hyperplane SRP signature per side
      .repartition(col("band"), col("bucket"))
      .cache()
    val repPairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.v").as("va"), col("b.v").as("vb"))
      .distinct()
      .withColumn("cos", cosine_sim(col("va"), col("vb")))
      .filter(col("cos") >= tau)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos_sim"))
    CacheRegistry.register(groups, Seq(groups, banded))
    // zero vector ⇒ cosine_sim's 0.0 convention fails the τ filter, so the
    // group doesn't qualify; a NaN-containing vector paired with itself is
    // cos NaN pre-collapse, and Spark's NaN-is-greatest ordering PASSES
    // NaN ≥ τ — so the collapsed path reproduces that exactly (NaN value),
    // rather than inventing a 1.0
    expandRepPairs(repPairs, groups, "cos_sim",
      when(exists(col("arr"), x => isnan(x)), lit(Double.NaN)).otherwise(lit(1.0)),
      arr => exists(arr, x => x =!= 0.0), ordered = ordered)
  }

  /** EXACT Jaccard ≥ tau pairs via lossless PREFIX FILTERING
    * (AllPairs/SSJoin, Bayardo et al., WWW'07): order each document's
    * shingles by a global rare-first total order (document frequency, then
    * shingle); J(x,y) ≥ τ implies overlap ≥ ⌈τ·|x|⌉, so a qualifying pair
    * must share a shingle inside each side's first |x| − ⌈τ·|x|⌉ + 1
    * shingles. Joining only prefixes replaces the Σ df² blowup of the
    * naive shared-shingle join (stop-word shingles at corpus scale) with a
    * join dominated by RARE shingles, then exact verification on
    * candidates — same output relation, linear-ish candidate volume. This
    * is the gate/bench path (the 100 TB shape); DedupSpec asserts it is
    * identical to [[jaccardPairsNaive]].
    */
  /** Exact all-pairs cosine ≥ tau relation (a_id < b_id, cos) via the
    * blocked pair equi-join — O(n²) WORK is inherent to the exact
    * relation, but the plan distributes it as P(P+1)/2 balanced
    * block-pair tasks instead of a whole-relation broadcast (see the
    * `dedup_embedding` entry's rationale). Cached + registered: the
    * relation feeds both the pair gate row and the SemDeDup component
    * collapse in one pass, and re-deriving it was the single biggest
    * avoidable cold cost of the embedding family.
    */
  def embeddingPairsExact(e: DataFrame, tau: Double): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val P = 16
    val blockPairs =
      (for { i <- 0 until P; j <- i until P } yield (i, j)).toDF("bi", "bj")
    val blk = pmod(hash(col("vec_id")), lit(P))
    // per-row norm factor once per side; the O(n²) block-pair loop pays
    // the dot only (cosPre ≡ cosine_sim — SimilarityOps.snorm)
    val en = e.withColumn("sn", SimilarityOps.snorm(col("v")))
    val left = en
      .select(col("vec_id").as("a_id0"), col("v").as("av"),
        col("sn").as("sna"), blk.as("ablk"))
      .join(broadcast(blockPairs), col("ablk") === col("bi"))
    val right = en
      .select(col("vec_id").as("b_id0"), col("v").as("bv"),
        col("sn").as("snb"), blk.as("bblk"))
      .join(broadcast(blockPairs
        .select(col("bi").as("rbi"), col("bj").as("rbj"))),
        col("bblk") === col("rbj"))
    val pairs = left.join(right,
        col("bi") === col("rbi") && col("bj") === col("rbj"))
      .filter(col("ablk") < col("bblk") || col("a_id0") < col("b_id0"))
      .withColumn("cos", SimilarityOps.cosPre(
        graft.functions.GraftFunctions.dot_double(col("av"), col("bv")),
        col("sna"), col("snb")))
      .filter(col("cos") >= tau)
      .select(
        least(col("a_id0"), col("b_id0")).as("a_id"),
        greatest(col("a_id0"), col("b_id0")).as("b_id"),
        col("cos"))
      .cache()
    CacheRegistry.register(pairs, Seq(pairs))
    pairs
  }

  def jaccardPairsPrefix(docs: DataFrame, tau: Double): DataFrame = {
    val groups = groupedByArray(docs, "doc_id", "sh")
    val pairs = expandRepPairs(
      prefixJoinOnReps(
        groups.select(col("rep").as("doc_id"), col("arr").as("sh")), tau, groups),
      groups, "jaccard", lit(1.0),
      arr => size(arr) > 0) // empty shingle set: 0/0 jaccard undefined
      // cache the PAIR RELATION itself, not just the prefix/ex feeders:
      // five gate rows consume the τ=0.5 relation (clusters, keep_best,
      // ngram_jaccard, cluster-safe split, the pipeline row) and each
      // re-ran the candidate join + verify from the cached feeders; one
      // materialization per (corpus, τ) serves them all. Pair relations
      // are output-sized (thousands of rows), not candidate-sized.
      .cache()
    CacheRegistry.register(pairs, Seq(pairs))
    pairs
  }

  /** Collapse identical shingle-ARRAYS to one representative each: exact
    * duplicates are the dominant redundancy at corpus scale, and feeding
    * N copies of a doc into any pair join multiplies every frequency by
    * N — measured 70 s (prefix join) vs 4 s on a 4×-duplicated sf0.1
    * corpus before this step, flat ~7 s after it even at 16×. Identical
    * SETS in a different array order simply don't collapse (correct,
    * just unoptimized). Grouping is exact (see below) — no hash-collision
    * failure mode.
    */
  private def groupedByArray(docs: DataFrame, id: String, arr: String): DataFrame =
    // spread first: the pre-exchange leg (tokenize/shingle upstream plus
    // the array hash here) otherwise runs inside a small corpus's single
    // scan task; no-op when the input already has parallelism
    TextOps.spreadScan(docs)
      .select(col(id).as("doc_id"), col(arr).as("arr"),
        xxhash64(col(arr)).as("gk"))
      // group by (hash, array): the 8-byte hash prunes comparisons, the
      // array itself makes equality EXACT — a bare-hash grouping would
      // silently merge two colliding documents and fabricate
      // similarity-1.0 pairs with no verification downstream. The array
      // rides the shuffle anyway (the aggregate needs it), so the extra
      // key costs nothing.
      .groupBy(col("gk"), col("arr"))
      .agg(min(col("doc_id")).as("rep"),
        collect_list(col("doc_id")).as("members"))
      .cache()

  /** Expand a rep-level pair relation back to all members: between-group
    * rep pairs become the member cross product (identical arrays ⇒
    * identical similarity value), within-group member pairs carry
    * `identicalValue` (jaccard/cos 1.0, hamming 0) — but only for groups
    * satisfying `identicalQualifies` over the shared array: an identical
    * DEGENERATE pair is NOT similar, and the un-collapsed paths rejected
    * such pairs on their own — an empty shingle set generates no shingle
    * rows, so the prefix/band joins never produce a candidate, and
    * cosine_sim returns 0.0 (not NaN) for a zero vector by convention, so
    * 0.0 fails every ≥ τ filter. (NOT because "NaN fails ≥ τ": Spark
    * orders NaN above every double, so a NaN comparison would PASS the
    * filter — which is also why `identicalValue` may be an expression over
    * `arr`, letting srpPairs reproduce the un-collapsed NaN-pair output
    * for pathological NaN-containing vectors.)
    */
  private def expandRepPairs(
      repPairs: DataFrame, groups: DataFrame,
      valueCol: String, identicalValue: Column,
      identicalQualifies: Column => Column,
      // the delta path narrows the within-group expansion to groups its
      // batch actually touched — enumerating every group's member pairs
      // would reintroduce the duplicates-squared cost the batch was
      // supposed to avoid; between-group expansion always needs the full
      // member lists, so `groups` stays the join side
      withinGroups: Option[DataFrame] = None,
      // ordered=false skips the final (a_id, b_id) range sort — a whole
      // range exchange (sampling pass + shuffle + global sort) per
      // invocation that consumers which aggregate, cluster, or re-sort
      // the pairs pay for nothing (round 17; the census/CC/planted-gate
      // family all do). Default stays ordered: the direct-output gate
      // rows (ngram_jaccard, minhash_lsh, incremental, containment) ARE
      // the ordered relation.
      ordered: Boolean = true): DataFrame = {
    val ga = groups.select(col("rep").as("a_id"), col("members").as("ma"))
    val gb = groups.select(col("rep").as("b_id"), col("members").as("mb"))
    val between = repPairs
      .join(ga, "a_id").join(gb, "b_id")
      .select(explode(col("ma")).as("x"), col("mb"), col(valueCol))
      .select(col("x"), explode(col("mb")).as("y"), col(valueCol))
      .select(least(col("x"), col("y")).as("a_id"),
        greatest(col("x"), col("y")).as("b_id"), col(valueCol))
    val within = withinGroups.getOrElse(groups)
      .filter(size(col("members")) > 1 && identicalQualifies(col("arr")))
      // compute the value while `arr` is still in scope: identicalValue
      // may reference it (see srpPairs' NaN handling)
      .select(col("members"), identicalValue.as(valueCol))
      .select(explode(col("members")).as("x"), col("members"), col(valueCol))
      .select(col("x"), explode(col("members")).as("y"), col(valueCol))
      .filter(col("x") < col("y"))
      .select(col("x").as("a_id"), col("y").as("b_id"), col(valueCol))
    val u = between.unionAll(within)
    if (ordered) u.orderBy("a_id", "b_id") else u
  }

  /** The prefix-filter join proper, over one row per DISTINCT shingle
    * array (see [[jaccardPairsPrefix]] — `groups` rides along only for
    * the cache-eviction bookkeeping).
    */
  /** Exploded-and-hashed shingle relation + rare-first AllPairs prefix
    * for a rep-level (doc_id, sh) relation — ONE definition shared by
    * the full prefix path and the delta probe, whose warm-index
    * guarantee rests on plan-IDENTITY with the full path (Spark's
    * CacheManager keys on the canonicalized plan): structural sharing
    * instead of two copies that must stay byte-identical.
    *
    * 8-byte hashed shingle keys shuffle/compare faster than the strings;
    * a cross-shingle hash collision merges two tokens under one key, which
    * only ADDS candidates (identical shingles still collide), and the
    * exact verification downstream discards any false candidate — lossless.
    * NOTE: hash as a plain column AFTER the explode, not via a transform()
    * lambda — lambda variables get fresh expression ids per invocation,
    * which defeats plan canonicalization and with it the Exchange reuse
    * the self-join depends on.
    * `ex` cached: it feeds TWO consumers with DIFFERENT shuffle shapes —
    * the document-frequency aggregate and the dfreq join's probe side —
    * so Exchange reuse cannot unify them and the scan+explode+hash pass
    * ran twice (caching measured 5.5 s → 3.1 s on the sf0.1 pipeline);
    * the row shape is small (two longs + an int, no strings).
    * `prefix` cached: feeds BOTH sides of the candidate self-join (and
    * the delta probe across batches). An aggregate-based ranking
    * (collect_list + sort_array + slice) was measured against the window
    * form and LOST (6.4 s vs 5.9 s uncached) — the window stays. Same
    * LRU eviction policy as the other dedup caches.
    */
  private def prefixIndex(
      docs: DataFrame, tau: Double, groups: DataFrame): DataFrame = {
    val ex = docs.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("shs"))
      .select(col("doc_id"), col("n"), xxhash64(col("shs")).as("sh1"))
      // ex cached ON sh1 too: the dfreq aggregate and the ex⋈dfreq probe
      // join both key on it, so neither needs an exchange against this
      // layout (overlapJoinOnReps carries the same note)
      .repartition(col("sh1"))
      .cache()
    val dfreq = ex.groupBy("sh1").agg(count(lit(1)).as("df"))
    val wP = Window.partitionBy("doc_id").orderBy(col("df"), col("sh1"))
    // the cache is laid out ON THE CANDIDATE-JOIN KEY (round 16): both
    // sides of the self-join (and the delta probe) read
    // hash(sh1)-partitioned cached rows, so the join needs NO exchange at
    // all (guide §2.4 — the bucketed-table idea applied to a cached
    // relation); one repartition in the cache build replaces an exchange
    // per consumer. Width = the SESSION setting (round-17 A/B): the r16
    // hotPartitions widening of these layouts read 10-20% slower warm in
    // the driver's 32-core run and no better cold — the band/prefix
    // caches are read once per pass, so extra width is pure per-task
    // overhead (unlike a window/agg that reuses the exchange for real
    // CPU); the layout, not the width, is the win.
    val prefix = ex.join(dfreq, "sh1")
      .withColumn("rn", row_number().over(wP))
      .filter(col("rn") <= col("n") - ceil(col("n") * tau).cast("int") + 1)
      .select(col("doc_id"), col("n"), col("sh1"))
      .repartition(col("sh1"))
      .cache()
    CacheRegistry.register(groups, Seq(groups, prefix, ex))
    prefix
  }

  private def prefixJoinOnReps(
      docs: DataFrame, tau: Double, groups: DataFrame): DataFrame = {
    val prefix = prefixIndex(docs, tau, groups)
    // length filter (AllPairs): J ≥ τ ⇒ min(|x|,|y|) ≥ |x∩y| ≥ τ·max(|x|,|y|),
    // so size-incompatible pairs are pruned inside the join
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.sh1") === col("b.sh1") && col("a.doc_id") < col("b.doc_id") &&
        col("a.n") >= col("b.n") * tau && col("b.n") >= col("a.n") * tau)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    verifyJaccard(cand, docs, tau)
  }

  /** EXACT Jaccard ≥ tau pairs via the naive shared-shingle self-join —
    * the count-based baseline. Cost is Σ_sh df(sh)² pair rows: fine on a
    * small corpus, a blowup on stop-word shingles at 100 TB scale, which is
    * why the GATE runs [[jaccardPairsPrefix]] and this stays a spec-only
    * cross-check (DedupSpec asserts the two relations are identical).
    * The join key is xxhash64(shingle) — see the collision note above;
    * here a collision could inflate an intersection count (probability
    * ~|shingles|²/2⁶⁵ ≈ 1e-11), and the spec equality vs the verified
    * prefix path re-checks exactness on the actual corpus every run.
    */
  def jaccardPairsNaive(docs: DataFrame, tau: Double): DataFrame = {
    val ex = docs.select(col("doc_id"), explode(col("sh")).as("shs"))
      .select(col("doc_id"), xxhash64(col("shs")).as("sh1"))
    val sizes = docs.select(col("doc_id"), size(col("sh")).as("n"))
    val inter = ex.as("a")
      .join(ex.as("b"),
        col("a.sh1") === col("b.sh1") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).cast("double").as("i"))
    inter
      .join(broadcast(sizes.select(col("doc_id").as("a_id"), col("n").as("na"))), "a_id")
      .join(broadcast(sizes.select(col("doc_id").as("b_id"), col("n").as("nb"))), "b_id")
      .withColumn("jac", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jac") >= tau)
      .select(col("a_id"), col("b_id"), round(col("jac"), 4).as("jaccard"))
  }

  /** Connected components over an undirected pair relation (a_id, b_id):
    * returns (doc_id, rep) where rep is the minimum id reachable from
    * doc_id — the canonical cluster representative a dedup pipeline keeps.
    * Iterative min-label propagation: each round every node takes the min
    * of its own and its neighbors' labels, converging in O(diameter)
    * rounds. Near-dup graphs are clique-like (diameter 2-3), so the loop
    * runs 2-4 rounds in practice; the driver only ever sees the one
    * convergence scalar per round — all data stays distributed. At
    * extreme diameters the large-star/small-star formulation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) converges in O(log²) rounds with the same per-round shape;
    * label propagation is the right default for dedup graphs.
    */
  // the previous invocation's retained caches (input edges + final
  // iterate), evicted when the next invocation begins — see below
  // bounded LRU of live CC invocations: (input cache, maxIters, result
  // memo — None while the iterate is in flight). A slot's input cache
  // stays persisted and its result rows checkpoint-pinned while the slot
  // lives; eviction unpersists the input (results are reclaimed by the
  // ContextCleaner once unreferenced). Four slots cover the gate's CC
  // consumers (the shingle pair graph shared by dedup_clusters and
  // dedup_keep_best, the semantic cosine graph, property-test inputs)
  // without the round-7 one-slot policy's A→B→A thrash across bench
  // passes; inputs and results are pairs/components relations — small —
  // so the memory bound is a few node-count-sized cached relations.
  // slot key carries the leaf-source CONTENT fingerprint alongside the
  // plan: an in-place corpus regeneration leaves the plan
  // sameResult-identical, and plan identity alone would serve the OLD
  // graph's components (see CacheRegistry.sourceFingerprint)
  private var ccSlots: List[(DataFrame, Int, String, Option[DataFrame])] = Nil
  private val ccSlotCap = 4

  /** Drop `session`'s CC memo slots (unpersisting their cached inputs) —
    * the bench's cold-pass reset; see [[CacheRegistry.clearSession]].
    */
  def clearCcSlots(session: org.apache.spark.sql.SparkSession): Unit =
    synchronized {
      val (mine, others) = ccSlots.partition(_._1.sparkSession eq session)
      mine.foreach(s => CacheRegistry.dropOrUnpersist(s._1))
      ccSlots = others
    }

  // The live-cache LRU moved to graft.operators.CacheRegistry (round 8):
  // it backs RelOps/TextOps/SimilarityOps too, not just dedup.

  /** Contrastive negative sampling over pre-built anchors + clusters
    * (the `documents_contrastive_negatives` gate body, extracted so
    * DedupSpec can drive both branches): each
    * anchor draws 5 deterministic pseudo-random candidates (cross-engine
    * md5-prefix hash), keeps the first 3 surviving keep-first dedup and
    * the near-dup leakage guard (a candidate sharing the anchor's
    * cluster is label noise).
    *
    * Round-16 scale shape (r15 advice): the cluster→rep side input is
    * SIZE-GATED. Under `graft.broadcast.maxBytes` (membership count ×
    * 32 B — the CC result is eagerly materialized, so the count is a
    * cheap read where the plan-stats estimate is the unknowable
    * checkpoint default) it folds into ONE single-row broadcast map
    * literal and the query runs zero shuffles; past the gate — one row
    * materializing the whole membership plus element_at's LINEAR
    * MapType probe per candidate is the wrong structure at 100× — it
    * degrades to the row-distributed, hash-probed join pipeline
    * (keep-first dedup via min(pos), keep-3 via the bounded-heap top-k
    * plan). Draw dedup keeps the EARLIEST position and distinct draws
    * have distinct positions, so both branches realize the same
    * (pos, neg_id) ranking.
    */
  def contrastiveNegatives(docs: DataFrame, comps: DataFrame): DataFrame = {
    val s = docs.sparkSession
    def draws(n: Column): Column = array((1 to 5).map { j =>
      (col("doc_id") + lit(1L) +
        pmod(conv(substring(
          md5(concat(col("doc_id").cast("string"), lit(s":$j"))),
          1, 8), 16, 10).cast("long"),
          greatest(n - 1, lit(1L)))) % n
    }: _*)
    val maxBytes = s.conf.getOption("graft.broadcast.maxBytes")
      .map(_.toLong).getOrElse(64L << 20)
    // TWO bounds gate the map-literal branch: bytes (broadcast safety)
    // AND membership count — element_at on a MapType value is a LINEAR
    // scan, so the branch's CPU is anchors × 5 × |map|; measured at the
    // ×16 copy-clique documents corpus (80k members, well under the byte
    // cap) the probe cost alone was ~65 s where the join branch is
    // hash-probed. 4096 members × 5 probes keeps the scan cost below
    // the join's exchange setup at any anchor count. Overridable so the
    // two-branch smoke can force either branch at any scale.
    val maxEntries = s.conf.getOption("graft.contrastive.maxMapEntries")
      .map(_.toLong).getOrElse(4096L)
    val membership = comps.count()
    if (membership * 32 <= maxBytes && membership <= maxEntries) {
      // ONE single-row side relation carrying both scalars the
      // per-anchor arithmetic needs (id-space size + the cluster→rep
      // map): one broadcast exchange, and cached so the repeat pass
      // skips the two feeder aggregations entirely
      val side = docs.agg((max("doc_id") + 1).as("n")).crossJoin(
        comps.agg(map_from_entries(
          collect_list(struct(col("doc_id"), col("rep")))).as("m")))
        .cache()
      CacheRegistry.register(side, Seq(side))
      // spread the anchor scan: the 5-draw md5 arithmetic + map probes
      // otherwise run in the one-file scan's single task (0.58 s serial
      // at bench scale); no-op at real scan parallelism
      TextOps.spreadScan(docs.select(col("doc_id")))
        .crossJoin(broadcast(side))
        // draws materialize before the lambdas below reference them
        // (lambda bodies re-evaluate per element — the shingles trap)
        .select(col("doc_id"), col("m"), draws(col("n")).as("cand"))
        // keep-first dedup: x survives iff absent from its own prefix
        .select(col("doc_id"), col("m"), filter(col("cand"),
          (x, i) => !array_contains(slice(col("cand"), lit(1), i), x))
          .as("cand"))
        // leakage guard: a candidate in the anchor's near-dup cluster
        // is label noise — compare reps via the broadcast map
        .select(col("doc_id"), filter(col("cand"), x =>
          coalesce(element_at(col("m"), x), x) =!=
            coalesce(element_at(col("m"), col("doc_id")), col("doc_id")))
          .as("cand"))
        .select(col("doc_id"),
          posexplode(slice(col("cand"), 1, 3)).as(Seq("pos0", "neg_id")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("rank"),
          col("neg_id"))
        .orderBy("doc_id", "rank")
    } else {
      // large-membership fallback: candidates as rows, cluster reps
      // attached by join (hash-probed, row-distributed — comps stays
      // shuffle-joinable however big it grows; broadcastIfSmall
      // re-checks per side for AQE-visible hints)
      val cands = TextOps.spreadScan(docs.select(col("doc_id")))
        .crossJoin(broadcast(docs.agg((max("doc_id") + 1).as("n"))))
        .select(col("doc_id"), posexplode(draws(col("n"))))
        .toDF("doc_id", "pos", "neg_id")
        // a later draw can repeat an earlier candidate: keep each
        // distinct negative once, at its earliest position
        .groupBy("doc_id", "neg_id").agg(min("pos").as("pos"))
      val cl = TextOps.broadcastIfSmall(comps)
      cands
        .join(cl.select(col("doc_id").as("a"), col("rep").as("rep_a")),
          col("doc_id") === col("a"), "left")
        .join(cl.select(col("doc_id").as("b"), col("rep").as("rep_b")),
          col("neg_id") === col("b"), "left")
        .filter(coalesce(col("rep_a"), col("doc_id")) =!=
          coalesce(col("rep_b"), col("neg_id")))
        .withColumn("rank", row_number().over(
          Window.partitionBy("doc_id").orderBy("pos", "neg_id")))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast("long").as("rank"),
          col("neg_id"))
        .orderBy("doc_id", "rank")
    }
  }

  def connectedComponents(edges: DataFrame, maxIters: Int = 64): DataFrame = {
    // cache the INPUT, not the symmetrized union: the union's two branches
    // would otherwise each re-run the (expensive) pair pipeline feeding
    // this, and everything downstream is tiny relative to it. The input
    // and final-iterate caches must OUTLIVE this call (unpersisting
    // before the caller's action would recompute the whole iterative
    // lineage — exponential without the per-round caches), but retaining
    // them forever leaks across invocations with distinct inputs (a
    // property-test workload ran the heap out this way). Policy: each
    // invocation evicts the previous one's pair — one live instance at a
    // time, bounded memory, and the gate's repeated same-plan invocations
    // still reuse the live entry.
    val eRaw = edges.select(col("a_id"), col("b_id"))
    val srcFp = CacheRegistry.sourceFingerprint(eRaw)
    // evict any slot holding the SAME plan with a DIFFERENT content
    // fingerprint BEFORE caching: Spark's CacheManager serves equivalent
    // plans, so after an in-place corpus rewrite the .cache() below
    // would attach to the superseded generation's cached rows and CC
    // would compute on stale data — the slot fingerprint alone only
    // protects the memoized RESULT, not a stale Spark-cache hit on the
    // input (pinned by DedupSpec's rewrite-hygiene test).
    synchronized {
      val keyPlan0 = eRaw.queryExecution.analyzed
      val (stale, rest) = ccSlots.partition { case (in, _, f, _) =>
        (in.sparkSession eq eRaw.sparkSession) && f != srcFp &&
          in.queryExecution.analyzed.sameResult(keyPlan0)
      }
      stale.foreach(s => CacheRegistry.dropOrUnpersist(s._1))
      ccSlots = rest
    }
    val e = eRaw.cache()
    // plan-keyed slot lookup (round 8): the iterate's localCheckpoints
    // mint fresh RDDs every call, so unlike the pair pipelines feeding
    // this, repeated identical invocations could never cache-hit — yet
    // the computation is deterministic in the input relation. A hit on
    // (same input plan, same cap, completed result) returns the memoized
    // components outright — the second bench pass of each CC-based row
    // reads the memo instead of re-running 2-4 checkpointed rounds
    // (dedup_clusters measured 2.5 s → ~0.1 s warm). Miss: claim a slot
    // IMMEDIATELY (not after the convergence require — an exception
    // mid-loop must not orphan the cache outside the slot list), evicting
    // the oldest past the cap.
    synchronized {
      val keyPlan = e.queryExecution.analyzed
      ccSlots.find { case (in, cap, f, _) =>
        (in.sparkSession eq e.sparkSession) && cap == maxIters && f == srcFp &&
          in.queryExecution.analyzed.sameResult(keyPlan)
      } match {
        case Some((in, _, _, Some(res))) =>
          // refresh recency; the new e cache is redundant with the
          // slot's live input (same plan → same CacheManager entry)
          ccSlots = (in, maxIters, srcFp, Some(res)) ::
            ccSlots.filterNot(_._1 eq in)
          return res
        case Some((in, _, _, None)) =>
          // same input already in flight / failed mid-loop: recompute
          // into the existing slot
          ccSlots = (in, maxIters, srcFp, None) ::
            ccSlots.filterNot(_._1 eq in)
        case None =>
          val (keep, evict) =
            ((e, maxIters, srcFp, Option.empty[DataFrame]) :: ccSlots)
              .splitAt(ccSlotCap)
          // best-effort: a stopped session's caches are already gone, and
          // an eviction failure must not fail the unrelated new invocation
          evict.foreach(s => CacheRegistry.dropOrUnpersist(s._1))
          ccSlots = keep
      }
    }
    val sym = e.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(e.select(col("b_id").as("src"), col("a_id").as("dst")))
    // Size the per-round shuffles to the LABEL relation, not the session
    // default: every round is 2-3 shuffles over O(nodes) rows, and 32
    // empty-ish reduce tasks per exchange × ~10 rounds is pure scheduler
    // tax on a small graph (measured 5.4 s → ~1 s on the 920-edge cosine
    // graph). One partition per ~500k edges, capped at the session
    // setting — a 100 TB dedup graph keeps full parallelism, exactly the
    // drainToMemory state-partition precedent. The count() is against the
    // just-registered cache, which the first round pays anyway.
    // the set/restore of a SESSION-global conf is not reentrant: two
    // interleaved CC invocations on one session would restore each
    // other's saved values and leave the tiny round partitioning behind
    // permanently — serialize the conf window like StreamingOps'
    // drainLock (CC runs are bounded; a concurrent caller waits)
    val spark = e.sparkSession
    ccConfLock.synchronized {
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val roundParts = math.max(1L,
      math.min(prevShuffle.toLong, e.count() / 500000L + 1L)).toString
    spark.conf.set("spark.sql.shuffle.partitions", roundParts)
    try {
    // each iterate is localCheckpoint'ed (eager), NOT cached: the iterate's
    // plan contains the previous iterate TWICE (union + join), so without
    // lineage TRUNCATION the logical plan doubles every round — caching
    // stores data but keeps the full plan, and a diameter-10 graph already
    // OOMs the driver on 2^10-node trees during analysis. localCheckpoint
    // pins the round's rows and restarts the plan from them, keeping every
    // round's plan constant-size; superseded block state is released by the
    // ContextCleaner when the previous iterate becomes unreachable.
    // min-neighbor initialization (round 17, deferred from r16): seed
    // each node's label with min(id, min(neighbors)) instead of id —
    // exactly one neighbor-min half-round folded into the init aggregate
    // (same exchange the old distinct() paid), so most bounded-diameter
    // dedup graphs converge one full checkpointed round earlier.
    // Convergence-safe: the iterate is monotone non-increasing from ANY
    // pointwise upper bound of the fixed point, and id ≥ this init ≥
    // fixed point — same components, same representatives (the property
    // suite pins CC against a transitive-closure reference).
    var comp = sym.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"),
        least(col("src"), col("mn")).as("comp"))
      .localCheckpoint(true)
    // convergence via a label-multiset fingerprint (count + hash sum) read
    // off the freshly-materialized iterate — one cheap aggregate per round
    // instead of a join against the previous iterate
    def fingerprint(df: DataFrame): (Long, String) = {
      val r = multisetFp(df, "id", "comp").head()
      (r.getLong(0), String.valueOf(r.getDecimal(1)))
    }
    var fp = fingerprint(comp)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val nbr = sym.join(comp, sym("dst") === comp("id"))
        .select(sym("src").as("id"), col("comp"))
      // lazily persisted, NOT checkpointed: prop's plan references only
      // the previous round's CHECKPOINTED rows, so it is constant-size —
      // the lineage-doubling hazard needs the un-truncated iterate. The
      // pointer-jump join below consumes prop twice; the lazy persist
      // makes the second consumer read the first's cached rows inside
      // next's one materialization job, where prop's old eager
      // localCheckpoint cost a SECOND driver-scheduled job per round
      // (measured ~25% off the cold iterate wall; rounds are driver-bound
      // at gate scale).
      val prop = comp.unionAll(nbr)
        .groupBy("id").agg(min("comp").as("comp"))
        .persist()
      // pointer jumping: comp ← comp[comp] (every label IS a node id, so
      // the self-join matches every row). Neighbor-min alone needs
      // O(diameter) rounds — a 75-node near-threshold cosine component
      // measured ~20 rounds of it; with the shortcut each round halves
      // the remaining label-tree depth on top of the one-hop propagation,
      // so convergence is O(log diameter) rounds. The round ends in
      // exactly one new checkpointed iterate (the lineage truncation).
      val lookup = prop.select(col("id").as("rid"), col("comp").as("rcomp"))
      val next = prop.join(lookup, col("comp") === col("rid"))
        .select(col("id"), col("rcomp").as("comp"))
        .localCheckpoint(true)
      prop.unpersist() // next is checkpointed; prop's blocks are dead
      val nfp = fingerprint(next)
      comp = next
      converged = nfp == fp
      fp = nfp
      i += 1
    }
    // an unconverged exit is indistinguishable from success downstream —
    // wrong cluster representatives, silently. Refuse instead; a diameter
    // above maxIters means this corpus needs the large-star/small-star
    // formulation, not a bigger cap.
    require(converged,
      s"connectedComponents did not converge within $maxIters rounds " +
        "(graph diameter exceeds the cap)")
    val result = comp.select(col("id").as("doc_id"), col("comp").as("rep"))
    synchronized {
      val keyPlan = e.queryExecution.analyzed
      ccSlots = ccSlots.map {
        case (in, cap, f, _) if cap == maxIters && f == srcFp &&
          (in.sparkSession eq e.sparkSession) &&
          in.queryExecution.analyzed.sameResult(keyPlan) =>
          (in, cap, f, Some(result))
        case other => other
      }
    }
    result
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  private val ccConfLock = new Object

  /** Multiset fingerprint of a two-Long-column relation: row count + sum
    * of per-row hashes. Equal fingerprints ⟺ equal multisets, up to an
    * engineered hash-sum collision. The sum is decimal(38,0): hash values
    * are full-range Longs, and a plain Long sum overflows — fatally under
    * ANSI mode (the Spark 4 default).
    */
  private def multisetFp(df: DataFrame, c1: String, c2: String): DataFrame =
    df.agg(
      count(lit(1)).as("c"),
      coalesce(sum(xxhash64(col(c1), col(c2)).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("h"))

  /** MinHash(k) + LSH banding (k/rows bands × rows) + exact Jaccard
    * verification over (doc_id, sh) rows. Candidate generation is an
    * equi-join on (band, bucket); at tau = 0.5 with the 64×2 default the
    * miss probability per true pair is (1 − 0.5²)^64 ≈ 1e-8, so the
    * verified output equals the exact relation. Bucket = hash of the
    * band's signature values seeded by the band index — hashing scalar
    * elements directly (variadic hash, codegen'd) avoids a slice() array
    * allocation per band per row; identical band rows still collide, and
    * the exact verify makes the bucket function correctness-neutral.
    */
  def minhashLshPairs(
      docs: DataFrame, tau: Double, k: Int = 128, rows: Int = 2): DataFrame = {
    // identical shingle arrays ⇒ identical signatures, so the duplicate
    // collapse applies exactly as in the prefix path: band-join the
    // representatives, expand the pairs (measured 39 s → seconds on a
    // 16×-duplicated corpus)
    val groups = groupedByArray(docs, "doc_id", "sh")
    val reps = groups.select(col("rep").as("doc_id"), col("arr").as("sh"))
    val bands = k / rows
    val sigs = reps.select(col("doc_id"), minhash_sig(col("sh"), k).as("sig"))
    val banded = sigs.select(
      col("doc_id"),
      posexplode(array((0 until bands).map(b =>
        hash((0 until rows).map(r =>
          element_at(col("sig"), b * rows + r + 1)) :+ lit(b): _*)): _*)))
      .toDF("doc_id", "band", "bucket")
      // both sides of the self-join consume this plan: uncached, each
      // side recomputes the k-hash minhash signature over every shingle
      // of every rep — the most expensive expression in the query, paid
      // twice. The cached relation is narrow (doc_id, band, bucket),
      // laid out ON the band-join key so the self-join reads
      // co-partitioned cached rows with no exchange (see prefixIndex).
      .repartition(col("band"), col("bucket"))
      .cache()
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    CacheRegistry.register(groups, Seq(groups, banded))
    expandRepPairs(verifyJaccard(cand, reps, tau), groups, "jaccard", lit(1.0),
      arr => size(arr) > 0)
  }

  /** Fuzzy train/benchmark decontamination (see the
    * `text_decontaminate_fuzzy` entry) — the near-duplicate half of the
    * contamination check next to text_decontaminate's exact-6-gram
    * membership: flag every TRAIN document whose shingle-set Jaccard
    * with ANY benchmark document reaches `tau`, catching paraphrased or
    * lightly-edited eval leakage an exact n-gram test misses. Both
    * inputs are (doc_id, sh) distinct-shingle relations with disjoint
    * id spaces.
    *
    * Shape: the MinHash band join of [[minhashLshPairs]], made
    * two-sided — the benchmark side is small by definition, so its
    * banded signatures broadcast (size-gated with shuffle fallback) and
    * the train corpus never shuffles for candidate generation; exact
    * Jaccard verification (with the lossless hashed prefilter) runs on
    * candidates only. Per flagged train doc: hit count and best
    * Jaccard — the relation a pipeline joins back to drop or audit.
    */
  def decontaminateFuzzy(
      train: DataFrame, bench: DataFrame, tau: Double,
      k: Int = 128, rows: Int = 2): DataFrame = {
    val bands = k / rows
    def banded(df: DataFrame): DataFrame = df
      .select(col("doc_id"), minhash_sig(col("sh"), k).as("sig"))
      .select(col("doc_id"),
        posexplode(array((0 until bands).map(b =>
          hash((0 until rows).map(r =>
            element_at(col("sig"), b * rows + r + 1)) :+ lit(b): _*)): _*)))
      .toDF("doc_id", "band", "bucket")
    // the train side's banded signatures are the expensive leg (k minhash
    // lanes over every shingle) and the relation is narrow (doc_id, band,
    // bucket) — cache it so repeat consumers (and the verify join's plan
    // reuse) skip the signature pass
    val tb = banded(train).cache()
    val bb = banded(bench).cache()
    CacheRegistry.register(tb, Seq(tb, bb))
    val cand = tb.as("t")
      .join(TextOps.broadcastIfSmall(bb).as("b"),
        col("t.band") === col("b.band") && col("t.bucket") === col("b.bucket"))
      .select(col("t.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    verifyJaccard(cand, train.unionAll(bench), tau)
      .groupBy(col("a_id").as("doc_id"))
      .agg(count(lit(1)).as("n_bench_hits"),
        max("jaccard").as("max_jaccard"))
  }

  /** Oracle: all pairs with 3-shingle Jaccard ≥ 0.5, computed exactly. */
  /** Incremental near-dup matching — the continuously-ingesting pipeline
    * shape: find every Jaccard ≥ tau pair TOUCHING a delta batch without
    * recomputing the corpus' full pair relation. The index side is the
    * whole corpus' prefix relation (document frequencies must come from
    * the full corpus for the prefix bound to hold), the probe side is the
    * delta rows only, so the candidate join is |delta-prefix| × bucket
    * instead of the full self-join — at 100 TB the daily increment probes
    * a static index rather than re-pairing the corpus. Lossless by the
    * same AllPairs prefix argument as [[jaccardPairsPrefix]]: a
    * qualifying pair shares ≥1 prefix shingle under the global (df, sh1)
    * order regardless of which side is the probe; delta–delta pairs
    * surface because delta ⊆ index. Exact verification after, as always.
    *
    * `isDelta` is a predicate over a doc-id column (e.g. `_ % 5 === 3`
    * or an isin over the batch's ids) — it is applied post-hoc (to the
    * collapsed groups' members and to the expanded pair endpoints),
    * keeping the index plan delta-independent so the cache amortizes
    * across batches; docs needs (doc_id, sh).
    */
  def jaccardPairsDelta(docs: DataFrame, isDelta: Column => Column, tau: Double): DataFrame = {
    // identical-array collapse FIRST, exactly as in the full prefix path:
    // on a duplicate-heavy corpus every copy would otherwise re-enter the
    // index and the candidate join — the same blowup the collapse was
    // added to fix there (70 s vs 4 s at 4× duplication). The index
    // (exploded representative shingles + prefix ranks) is
    // DELTA-INDEPENDENT by construction — the delta predicate enters only
    // through the probe semi-join and the post-expansion endpoint filter —
    // so successive delta batches against the same corpus hit the same
    // CacheManager entry (plan-keyed) instead of rebuilding the index;
    // and because the rep-level index plan is the SAME plan the full
    // prefix path builds, a prior full-corpus run warms it: the first
    // probe pays the index build, the next delta probes the warm index
    // at a fraction of the full re-pairing.
    val groups = groupedByArray(docs, "doc_id", "sh")
    val reps = groups.select(col("rep").as("doc_id"), col("arr").as("sh"))
    // the SAME index construction as the full prefix path — structurally,
    // via the shared helper, so a prior full-corpus run's cached index
    // serves the delta probe (plan-keyed CacheManager entry)
    val prefix = prefixIndex(reps, tau, groups)
    // groups the batch touches: any member satisfies the delta predicate
    // (no distinct — both consumers are left-semi joins, which dedup on
    // their own without the extra exchange)
    val touched = groups
      .select(col("rep"), explode(col("members")).as("m"))
      .filter(isDelta(col("m")))
      .select(col("rep"))
    val probe = prefix.join(
      touched.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
    val cand = probe.as("a").join(prefix.as("b"),
        col("a.sh1") === col("b.sh1") && col("a.doc_id") =!= col("b.doc_id") &&
        col("a.n") >= col("b.n") * tau && col("b.n") >= col("a.n") * tau)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"))
      .distinct()
    val repPairs = verifyJaccard(cand, reps, tau)
    // expand back to member pairs (within-group pairs only for touched
    // groups), then keep exactly the pairs with a delta endpoint — a
    // touched group can also carry non-delta members whose pairs the
    // batch must not re-emit
    val touchedGroups = groups.join(touched, Seq("rep"), "left_semi")
    expandRepPairs(repPairs, groups, "jaccard", lit(1.0),
        arr => size(arr) > 0, withinGroups = Some(touchedGroups))
      .filter(isDelta(col("a_id")) || isDelta(col("b_id")))
  }

  private val jaccardOracle =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         CASE WHEN len(ws) >= 3 THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |              ELSE array_to_string(ws, ' ') END AS s
      |  FROM w, UNNEST(range(1, greatest(len(ws) - 1, 2))) AS t(i)
      |), c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |i AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT a_id, b_id, round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
      |FROM i JOIN c ca ON ca.doc_id = a_id JOIN c cb ON cb.doc_id = b_id
      |WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.5
      |ORDER BY a_id, b_id""".stripMargin

  /** EXACT overlap-coefficient (containment) pairs — ov(A,B) =
    * |A∩B| / min(|A|,|B|) ≥ tau over distinct-shingle sets. The
    * asymmetric near-dup measure: a short document embedded in a long
    * one scores ov ≈ 1 while its Jaccard is only |A|/|B| — subset
    * duplicates are invisible to the symmetric threshold.
    *
    * Lossless prefix filtering, containment-shaped: for the SMALLER set
    * x of a qualifying pair, |x∩y| ≥ ⌈tau·|x|⌉, so at least one of x's
    * rare-first prefix (its |x| − ⌈tau·|x|⌉ + 1 rarest shingles) lands
    * in y — the candidate join is prefix(x) × FULL(y) (no length-ratio
    * prune exists here: a tiny set can be contained in a huge one, which
    * is the point). Candidates verify exactly, so the relation equals
    * the naive all-shared-shingle computation — what the oracle
    * recomputes.
    */
  def overlapPairsPrefix(docs: DataFrame, tau: Double): DataFrame = {
    val groups = groupedByArray(docs, "doc_id", "sh")
    val pairs = expandRepPairs(
      overlapJoinOnReps(
        groups.select(col("rep").as("doc_id"), col("arr").as("sh")), tau, groups),
      groups, "overlap", lit(1.0),
      arr => size(arr) > 0)
      // output-cached like [[jaccardPairsPrefix]]: the pair relation is
      // output-sized, and uncached every repeat invocation re-ran the
      // candidate join + two-stage verify from the cached feeders
      // (measured 0.98 s warm for dedup_containment before this)
      .cache()
    CacheRegistry.register(pairs, Seq(pairs))
    pairs
  }

  private def overlapJoinOnReps(
      docs: DataFrame, tau: Double, groups: DataFrame): DataFrame = {
    // hashed-shingle candidate pipeline as in [[prefixJoinOnReps]] (same
    // collision-only-adds-candidates argument); the FULL side keeps every
    // shingle because containment has no size-compatibility prune
    // ex cached ON sh1 (round 16): the dfreq aggregate AND the ex⋈dfreq
    // probe join both key on sh1, so with the cache laid out on it
    // neither needs an exchange (partial aggregation degenerates to a
    // per-partition final — same rows, fewer stages); one repartition in
    // the cache build replaces one per consumer
    val ex = docs.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("shs"))
      .select(col("doc_id"), col("n"), xxhash64(col("shs")).as("sh1"))
      .repartition(col("sh1"))
      .cache()
    val dfreq = ex.groupBy("sh1").agg(count(lit(1)).as("df"))
    val wP = Window.partitionBy("doc_id").orderBy(col("df"), col("sh1"))
    val prefix = ex.join(dfreq, "sh1")
      .withColumn("rn", row_number().over(wP))
      .filter(col("rn") <= col("n") - ceil(col("n") * tau).cast("int") + 1)
      .select(col("doc_id"), col("sh1"))
      // prefix laid out on the candidate-join key as well, so the
      // prefix⋈ex join below reads two co-partitioned caches
      .repartition(col("sh1"))
      .cache()
    CacheRegistry.register(groups, Seq(groups, prefix, ex))
    val cand = prefix.as("a")
      .join(ex.as("b"),
        col("a.sh1") === col("b.sh1") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"))
      .distinct()
    // two-stage verification via the shared [[hashPrefilter]] (overlap's
    // score i/min(|A|,|B|) is monotone in the required direction), then
    // the exact string pass keeps the output identical to the naive
    // computation.
    val pre = hashPrefilter(cand, docs, tau,
      (ih, na, nb) => ih / least(na, nb))
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("sh_b"))
    pre
      .join(a, "a_id").join(b, "b_id")
      .withColumn("ov",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
      .filter(col("ov") >= tau)
      .select(col("a_id"), col("b_id"), round(col("ov"), 4).as("overlap"))
  }

  /** Bloom-prefiltered delta-vs-base exact chunk dedup (see
    * [[graft.functions.BloomSketch]]): "which 20-token chunks of the
    * incoming delta already exist in the base corpus" — the C4-style
    * incremental ingestion question at the scale where an exact
    * anti-join of delta against base would shuffle the BASE.
    *
    * The base chunk relation is folded ONCE into a broadcast Bloom
    * sketch (log-depth treeReduce, no shuffle); the delta probes it
    * scan-locally. Probe negatives are definitively new (no false
    * negatives); positives are EXACTLY verified: the candidate chunk
    * set (true dups + fpp) size-gated-broadcasts back onto the base
    * scan as a semi-join, so the base is read but never shuffled, and
    * the final per-position flags join candidate-sized relations. The
    * output is therefore exact — the sketch only prunes — which is
    * what the DuckDB oracle (a plain base semi-join) re-verifies.
    */
  /** 20-token chunk relation of a (doc_id, text) corpus — the C4-style
    * dedup unit shared by the bloom path and its spec.
    */
  private[graft] def chunks20(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), ((size(col("toks")) - 1) / lit(20)).cast("int")),
          i => array_join(slice(col("toks"), i * lit(20) + 1, lit(20)), " ")))
          .as(Seq("pos", "chunk")))

  def bloomDeltaChunkDedup(docs: DataFrame, deltaPred: Column,
                           fpp: Double = 0.001): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // cached: the tokenize+chunk pass is the dominant cost at corpus
    // scale and feeds base (sizing count + sketch build + verify) and
    // delta (probe + flags + per-doc totals) — uncached it re-executed
    // ~6 times (review finding)
    val chunked = chunks20(docs).cache()
    CacheRegistry.register(chunked, Seq(chunked))
    val base = chunked.filter(!deltaPred).select("chunk")
    val delta = chunked.filter(deltaPred)
    val bf = graft.functions.BloomSketch.build(
      base.as[String], base.count(), fpp)
    val bloom = spark.sparkContext.broadcast(bf)
    val cand = delta.filter(
      graft.functions.BloomSketch.mightContain(bloom, col("chunk")))
    val candChunks = cand.select("chunk").distinct()
    val present = base
      .join(TextOps.broadcastIfSmall(candChunks), Seq("chunk"), "left_semi")
      .distinct()
    val dup = cand.join(TextOps.broadcastIfSmall(present), Seq("chunk"), "left_semi")
    delta.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      .join(dup.groupBy("doc_id").agg(count(lit(1)).as("n_dup_chunks")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"))
      .orderBy("doc_id")
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(

    // Exact dedup: one hash-aggregate on the text key.
    ("dedup_exact",
      (s: SparkSession, d: String) =>
        documents(s, d)
          .groupBy("text")
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
          .select(col("keep_id"), col("n_dups"), md5(col("text")).as("text_md5"))
          .orderBy("keep_id"),
      Some(
        """SELECT min(doc_id) AS keep_id,
          |       CAST(count(*) AS BIGINT) AS n_dups,
          |       md5(text) AS text_md5
          |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)),

    // Exact n-gram (3-shingle) Jaccard ≥ 0.5 via lossless prefix
    // filtering — the 100 TB path (candidates restricted to rare-first
    // prefixes instead of the Σ df(sh)² shared-shingle blowup), verified
    // exactly, so the output relation is identical to the naive baseline
    // ([[jaccardPairsNaive]], spec-only cross-check in DedupSpec) and the
    // DuckDB oracle re-verifies exactness on the actual corpus every round.
    ("dedup_ngram_jaccard",
      (s: SparkSession, d: String) =>
        jaccardPairsPrefix(shingled(s, d).cache(), 0.5),
      Some(jaccardOracle)),

    // Threshold-tuning census: the jaccard histogram a curator reads
    // BEFORE picking a dedup threshold — every ≥0.3 pair bucketed into
    // 0.05-wide bins. Runs the lossless-prefix path in a regime the 0.5
    // rows never exercise (τ=0.3 → prefixes cover ~70% of each shingle
    // set, an order more candidates), so the oracle differential also
    // re-certifies the prefix bound at a loose threshold. bucket20 =
    // floor(jaccard×20): integer, identical across engines on the
    // shared round(·,4) jaccard values.
    ("dedup_threshold_census",
      (s: SparkSession, d: String) =>
        jaccardPairsPrefix(shingled(s, d).cache(), 0.3)
          .groupBy(floor(col("jaccard") * 20).cast("long").as("bucket20"))
          .agg(count(lit(1)).as("n_pairs"),
            round(min("jaccard"), 4).as("min_j"),
            round(max("jaccard"), 4).as("max_j"))
          .orderBy("bucket20"),
      Some(
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |sh AS (
          |  SELECT DISTINCT doc_id,
          |         CASE WHEN len(ws) >= 3 THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
          |              ELSE array_to_string(ws, ' ') END AS s
          |  FROM w, UNNEST(range(1, greatest(len(ws) - 1, 2))) AS t(i)
          |), c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          |i AS (
          |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
          |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2
          |), j AS (
          |  SELECT round(i * 1.0 / (ca.n + cb.n - i), 4) AS jac
          |  FROM i JOIN c ca ON ca.doc_id = a_id JOIN c cb ON cb.doc_id = b_id
          |  WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.3
          |)
          |SELECT CAST(floor(jac * 20) AS BIGINT) AS bucket20,
          |       CAST(count(*) AS BIGINT) AS n_pairs,
          |       round(min(jac), 4) AS min_j,
          |       round(max(jac), 4) AS max_j
          |FROM j GROUP BY bucket20 ORDER BY bucket20""".stripMargin)),

    // Incremental near-dup matching (see [[jaccardPairsDelta]]): the 20%
    // delta slice (doc_id % 5 = 3) probed against the full-corpus prefix
    // index — every qualifying pair touching the delta, none of the
    // corpus-internal re-pairing. The oracle is the full exact pair
    // relation restricted to pairs touching the delta.
    ("dedup_incremental",
      (s: SparkSession, d: String) =>
        // already (a_id, b_id)-ordered by the expansion; re-sorting here
        // would pay a second range exchange over the same relation
        jaccardPairsDelta(shingled(s, d).cache(), _ % 5 === 3, 0.5),
      Some(jaccardOracle.replace(
        "WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.5",
        "WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.5\n" +
          "  AND (a_id % 5 = 3 OR b_id % 5 = 3)"))),

    // Dedup clusters: connected components over the exact near-dup pair
    // relation — the keep-one-representative step a real training-data
    // dedup pipeline ends with (pairs alone don't dedup transitively:
    // A~B, B~C must collapse to ONE cluster even when A!~C). The oracle
    // recomputes the same components in DuckDB via a recursive-CTE
    // transitive closure.
    ("dedup_clusters",
      (s: SparkSession, d: String) =>
        connectedComponents(
          jaccardPairsPrefix(shingled(s, d).cache(), 0.5).select("a_id", "b_id"))
          .orderBy("doc_id"),
      Some(
        """WITH RECURSIVE p AS (
          |  SELECT a_id, b_id FROM (""".stripMargin + "\n" + jaccardOracle + "\n" +
        """  )
          |), e AS (
          |  SELECT a_id AS s, b_id AS d FROM p
          |  UNION SELECT b_id, a_id FROM p
          |), r(s, d) AS (
          |  SELECT s, d FROM e
          |  UNION SELECT r.s, e.d FROM r JOIN e ON r.d = e.s
          |)
          |SELECT s AS doc_id, least(s, min(d)) AS rep
          |FROM r GROUP BY s ORDER BY doc_id""".stripMargin)),

    // Cluster-safe train/val/test split — the leakage guard the plain
    // content-addressed split (documents_train_split) cannot give:
    // trainSplit keeps EXACT duplicates in one split (same text → same
    // md5), but a near-dup pair can still straddle the boundary and leak
    // test content into training. Here every document routes by its
    // near-dup CLUSTER representative's content hash (components from
    // the same jaccard-0.5 relation as dedup_clusters, memo-shared), so
    // a whole cluster lands in one split BY CONSTRUCTION — the oracle's
    // recursive-CTE replay certifies the clustering, the routing, and
    // the per-split census together. Singletons route by their own text,
    // degenerating to trainSplit's rule.
    ("documents_cluster_safe_split",
      (s: SparkSession, d: String) => {
        val docs = documents(s, d)
        val comps = connectedComponents(
          jaccardPairsPrefix(shingled(s, d).cache(), 0.5).select("a_id", "b_id"))
        val clustered = docs.select(col("doc_id"), col("n_chars"))
          .join(comps, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_chars"),
            coalesce(col("rep"), col("doc_id")).as("cluster"))
        val repNib = docs.select(col("doc_id").as("cluster"),
          substring(md5(col("text")), 1, 1).as("nib"))
        clustered.join(TextOps.broadcastIfSmall(repNib), "cluster")
          .withColumn("split",
            when(col("nib") <= "c", "train")
              .when(col("nib") <= "e", "val").otherwise("test"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct("cluster").as("n_clusters"),
            sum("n_chars").as("sum_chars"))
          .orderBy("split")
      },
      Some(
        """WITH RECURSIVE p AS (
          |  SELECT a_id, b_id FROM (""".stripMargin + "\n" + jaccardOracle + "\n" +
        """  )
          |), e AS (
          |  SELECT a_id AS s, b_id AS d FROM p
          |  UNION SELECT b_id, a_id FROM p
          |), r(s, d) AS (
          |  SELECT s, d FROM e
          |  UNION SELECT r.s, e.d FROM r JOIN e ON r.d = e.s
          |), comp AS (
          |  SELECT s AS doc_id, least(s, min(d)) AS rep FROM r GROUP BY s
          |), cl AS (
          |  SELECT d.doc_id, d.n_chars, coalesce(c.rep, d.doc_id) AS cluster
          |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
          |), sp AS (
          |  SELECT cl.n_chars, cl.cluster,
          |         CASE WHEN substr(md5(t.text), 1, 1) <= 'c' THEN 'train'
          |              WHEN substr(md5(t.text), 1, 1) <= 'e' THEN 'val'
          |              ELSE 'test' END AS split
          |  FROM cl JOIN documents t ON t.doc_id = cl.cluster
          |)
          |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
          |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM sp GROUP BY split ORDER BY split""".stripMargin)),

    // Contrastive negative sampling (round 14) — the hard-negative step
    // of contrastive embedding training: each anchor document draws 3
    // deterministic pseudo-random negatives, EXCLUDING its own near-dup
    // cluster (a near-duplicate sampled as a "negative" is label noise —
    // the leakage guard cluster_safe_split applies to splits, applied to
    // pairs). Offsets come from a cross-engine integer hash — the first
    // 8 hex chars of md5(doc_id:j) parsed base-16 (Spark conv ≡ DuckDB
    // '0x' cast) — so the draw is content-independent, reproducible, and
    // oracle-replayable; 5 candidates over-sample the 3 kept so cluster
    // exclusions and duplicate draws backfill deterministically. All
    // scan-local arithmetic (ids are contiguous, so (a + 1 + h mod (N−1))
    // mod N never lands on the anchor); the cluster relation is
    // pairs-sized and broadcasts; the per-anchor keep-3 rides
    // TopKPerKeyExec's bounded heaps, never a global sort.
    ("documents_contrastive_negatives",
      (s: SparkSession, d: String) => {
        val docs = documents(s, d)
        val comps = connectedComponents(
          jaccardPairsPrefix(shingled(s, d).cache(), 0.5).select("a_id", "b_id"))
        contrastiveNegatives(docs.select("doc_id"), comps)
      },
      Some(
        """WITH RECURSIVE p AS (
          |  SELECT a_id, b_id FROM (""".stripMargin + "\n" + jaccardOracle + "\n" +
        """  )
          |), e AS (
          |  SELECT a_id AS s, b_id AS d FROM p
          |  UNION SELECT b_id, a_id FROM p
          |), r(s, d) AS (
          |  SELECT s, d FROM e
          |  UNION SELECT r.s, e.d FROM r JOIN e ON r.d = e.s
          |), comp AS (
          |  SELECT s AS doc_id, least(s, min(d)) AS rep FROM r GROUP BY s
          |), nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
          |cand AS (
          |  SELECT d.doc_id, min(t.j) AS pos,
          |         (d.doc_id + 1 +
          |          CAST(('0x' || substr(md5(d.doc_id || ':' || t.j), 1, 8))
          |               AS BIGINT) % greatest(nn.n - 1, 1)) % nn.n AS neg_id
          |  FROM documents d, nn, UNNEST(range(1, 6)) t(j)
          |  GROUP BY d.doc_id,
          |           (d.doc_id + 1 +
          |            CAST(('0x' || substr(md5(d.doc_id || ':' || t.j), 1, 8))
          |                 AS BIGINT) % greatest(nn.n - 1, 1)) % nn.n
          |), q AS (
          |  SELECT c.doc_id, c.pos, c.neg_id,
          |         row_number() OVER (PARTITION BY c.doc_id
          |           ORDER BY c.pos, c.neg_id) AS rank
          |  FROM cand c
          |  LEFT JOIN comp ca ON ca.doc_id = c.doc_id
          |  LEFT JOIN comp cb ON cb.doc_id = c.neg_id
          |  WHERE coalesce(ca.rep, c.doc_id) != coalesce(cb.rep, c.neg_id)
          |)
          |SELECT doc_id, CAST(rank AS BIGINT) AS rank, neg_id
          |FROM q WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // Keep-BEST cluster dedup — production near-dup pipelines keep the
    // highest-quality member of each duplicate cluster, not the lowest
    // id (the min-id rep is an arbitrary survivor; the longest document
    // usually carries the most signal). Same components as
    // `dedup_clusters`; the survivor is argmax(n_chars, ties → lowest
    // doc_id) via ONE per-cluster max over a packed (n_chars, −doc_id)
    // struct — an ordinary partial-aggregated max, no per-cluster window
    // or sort. Output is one row per cluster: size + the kept doc.
    ("dedup_keep_best",
      (s: SparkSession, d: String) => {
        val comps = connectedComponents(
          jaccardPairsPrefix(shingled(s, d).cache(), 0.5).select("a_id", "b_id"))
        comps
          .join(documents(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
          .groupBy(col("rep").as("cluster"))
          .agg(
            count(lit(1)).as("n_members"),
            max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("best"))
          .select(col("cluster"), col("n_members"),
            (-col("best.neg_id")).as("keep_id"),
            col("best.n_chars").as("keep_chars"))
          .orderBy("cluster")
      },
      Some(
        """WITH RECURSIVE p AS (
          |  SELECT a_id, b_id FROM (""".stripMargin + "\n" + jaccardOracle + "\n" +
        """  )
          |), e AS (
          |  SELECT a_id AS s, b_id AS d FROM p
          |  UNION SELECT b_id, a_id FROM p
          |), r(s, d) AS (
          |  SELECT s, d FROM e
          |  UNION SELECT r.s, e.d FROM r JOIN e ON r.d = e.s
          |), comps AS (
          |  SELECT s AS doc_id, least(s, min(d)) AS rep FROM r GROUP BY s
          |), ranked AS (
          |  SELECT c.rep AS cluster, c.doc_id, dd.n_chars,
          |         row_number() OVER (PARTITION BY c.rep
          |           ORDER BY dd.n_chars DESC, c.doc_id) AS rn,
          |         count(*) OVER (PARTITION BY c.rep) AS n_members
          |  FROM comps c JOIN documents dd USING (doc_id)
          |)
          |SELECT cluster, CAST(n_members AS BIGINT) AS n_members,
          |       doc_id AS keep_id, n_chars AS keep_chars
          |FROM ranked WHERE rn = 1 ORDER BY cluster""".stripMargin)),

    // MinHash(128) + LSH banding (64 bands × 2 rows) + exact verification.
    // Candidate generation is an equi-join on (band, bucket); at the 0.5
    // Jaccard threshold the miss probability per true pair is
    // (1 - 0.5²)^64 ≈ 1e-8, so the verified output equals the exact query
    // above — which is exactly the oracle we declare.
    ("dedup_minhash_lsh",
      (s: SparkSession, d: String) =>
        minhashLshPairs(shingled(s, d).cache(), 0.5),
      Some(jaccardOracle)),

    // Fuzzy decontamination (see [[decontaminateFuzzy]]): the doc_id%5=0
    // slice is the benchmark (the text_decontaminate convention), the
    // rest is training data; the oracle computes the TRUE cross-side
    // Jaccard ≥ 0.5 relation exactly, so a band-join miss, a broken
    // verify, or a side leak (train×train or bench×bench pairs) all
    // surface as row mismatches.
    ("text_decontaminate_fuzzy",
      (s: SparkSession, d: String) => {
        val sh = shingled(s, d).cache()
        CacheRegistry.register(sh, Seq(sh))
        decontaminateFuzzy(
          sh.filter(col("doc_id") % 5 =!= 0),
          sh.filter(col("doc_id") % 5 === 0), 0.5)
          .orderBy("doc_id")
      },
      Some(
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |sh AS (
          |  SELECT DISTINCT doc_id,
          |         CASE WHEN len(ws) >= 3 THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
          |              ELSE array_to_string(ws, ' ') END AS s
          |  FROM w, UNNEST(range(1, greatest(len(ws) - 1, 2))) AS t(i)
          |), c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          |i AS (
          |  SELECT a.doc_id AS t_id, b.doc_id AS b_id, count(*) AS i
          |  FROM sh a JOIN sh b ON a.s = b.s
          |  WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
          |  GROUP BY 1, 2
          |), j AS (
          |  SELECT t_id, round(i * 1.0 / (ca.n + cb.n - i), 4) AS jac
          |  FROM i JOIN c ca ON ca.doc_id = t_id JOIN c cb ON cb.doc_id = b_id
          |  WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.5
          |)
          |SELECT t_id AS doc_id,
          |       CAST(count(*) AS BIGINT) AS n_bench_hits,
          |       max(jac) AS max_jaccard
          |FROM j GROUP BY t_id ORDER BY doc_id""".stripMargin)),

    // SimHash(64) near-dup pairs at hamming ≤ 3 via the 4×16-bit chunk
    // pigeonhole join (lossless for ≤3 bit flips). The signature is
    // engine-defined, so an external oracle can't score the open corpus —
    // instead the gate runs the full pipeline over the corpus UNIONed with
    // an id-shifted copy of a 100-doc slice and keeps the construction's
    // guaranteed subset: identical token arrays ⇒ identical signatures ⇒
    // the chunk join MUST surface every (id, id+100000) pair at hamming 0.
    // A broken explode/join/bit_count/dedup drops or corrupts rows → red.
    // (The slice bounds the join-size overhead at bench scale; the join
    // itself stays the honest all-pairs chunk join.) Open-corpus near-dup
    // discovery stays pinned by DedupSpec.
    ("dedup_simhash",
      (s: SparkSession, d: String) => {
        val base = documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
        val shifted = base.filter(col("doc_id") < 100)
          .select((col("doc_id") + 100000L).as("doc_id"), col("toks"))
        // ordered=false (round 17): both legs re-order or aggregate, so
        // the expansion's (a_id, b_id) range sort — a sampling pass + a
        // whole exchange per leg per pass — bought nothing here
        val planted = simhashPairs(base.unionAll(shifted), ordered = false)
          // guaranteed-subset gate (see above); ids < 100000 ⇒ only
          // original↔copy identity pairs satisfy this
          .filter(col("b_id") === col("a_id") + 100000L)
        // open-corpus invariant the oracle can pin: on the 100-doc slice,
        // the chunk pigeonhole join must find EXACTLY the hamming ≤ 3
        // pairs a brute-force signature comparison finds — so a broken
        // explode/join/bit_count/dedup cannot pass the gate on planted
        // identity pairs alone while the spec suite is skipped. The two
        // pair sets are compared by multiset fingerprint (count + sum of
        // pair hashes: one aggregate each instead of an exceptAll shuffle
        // fan-out — a cross-set hash-sum collision needs engineered input).
        val slice = base.filter(col("doc_id") < 100)
        val sigs = slice.select(col("doc_id"), simhash64(col("toks")).as("sig"))
        def fp(pairs: DataFrame) = multisetFp(pairs, "a_id", "b_id")
        val brute = fp(sigs.as("a")
          .join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
          .filter(bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= 3)
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id")))
          .select(col("c").as("bc"), col("h").as("bh"))
        val viaChunks = fp(simhashPairs(slice, ordered = false)
          .select("a_id", "b_id"))
        val miss = viaChunks.crossJoin(brute).select(
          when(col("c") === col("bc") && col("h") === col("bh"), 0L)
            .otherwise(1L).as("open_chunk_miss"))
        planted.crossJoin(miss).orderBy("a_id")
      },
      Some(
        """SELECT doc_id AS a_id, doc_id + 100000 AS b_id,
          |       CAST(0 AS INTEGER) AS hamming,
          |       CAST(0 AS BIGINT) AS open_chunk_miss
          |FROM documents WHERE doc_id < 100 ORDER BY a_id""".stripMargin)),

    // Embedding near-dup: all pairs with cosine ≥ 0.4 (exact baseline).
    ("dedup_embedding",
      (s: SparkSession, d: String) => {
        val e = embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        // Exact all-pairs cosine. O(n²) WORK is inherent to the exact
        // relation (the DuckDB oracle is quadratic too; the sub-quadratic
        // paths are the SRP/IVF siblings this row baselines) — but
        // through round 10 the PLAN paid it as a BroadcastNestedLoopJoin:
        // the whole relation broadcast to every task, a memory wall at
        // scale and the gate's one surviving BNLJ. embeddingPairsExact
        // keeps the exact result and distributes the same work as a
        // BLOCKED equi-join: rows hash into P blocks, the P(P+1)/2
        // unordered block pairs enumerate as a broadcast literal, each
        // side replicates to its pair rows, and the join on (bi, bj)
        // gives one balanced task per block pair — peak memory is two
        // n/P blocks (pick P so a block fits an executor), shuffle
        // volume is n·(P+1)/2 rows per side. Same-block pairs dedup by
        // id order; cross-block pairs appear exactly once because blocks
        // are disjoint. The cached relation is shared with the SemDeDup
        // component collapse (dedup_semantic_clusters).
        embeddingPairsExact(e, 0.4)
          .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos_sim"))
          .orderBy("a_id", "b_id")
      },
      Some(
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
          |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          |       round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
          |FROM e a JOIN e b ON a.vec_id < b.vec_id
          |WHERE list_cosine_similarity(a.v, b.v) >= 0.4
          |ORDER BY a_id, b_id""".stripMargin)),

    // Embedding near-dup, sign-random-projection LSH candidates + exact
    // verification — the 100 TB path (equi-join on 8-bit signature bands
    // instead of all pairs). Approximate recall on an open corpus, so the
    // gate uses the same guaranteed-subset construction as dedup_simhash:
    // the corpus UNIONed with an id-shifted copy of a 100-vector slice —
    // identical vectors ⇒ identical SRP signatures ⇒ every band collides ⇒
    // each (id, id+100000) pair MUST be a candidate and verify at cosine 1.
    // Open-corpus recall (candidates ⊆ exact output) stays pinned by
    // DedupSpec.
    ("dedup_embedding_srp",
      (s: SparkSession, d: String) => {
        val base = embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val shifted = base.filter(col("vec_id") < 100)
          .select((col("vec_id") + 100000L).as("vec_id"), col("v"))
        // ordered=false: both legs re-order or aggregate (simhash's note)
        val planted = srpPairs(base.unionAll(shifted), 0.4, ordered = false)
          // guaranteed-subset gate (see above)
          .filter(col("b_id") === col("a_id") + 100000L)
        // open-corpus soundness invariant the oracle can pin: on the
        // 100-vector slice, every SRP-surfaced pair must appear in the
        // exact cosine ≥ 0.4 relation (candidates are exact-verified, so
        // a spurious pair means a broken band join or cosine expression).
        // Recall is the approximate side, covered by the planted pairs.
        // Checked with one left-anti join count (cheapest shape: the
        // slice relations are ~100 rows).
        val slice = base.filter(col("vec_id") < 100)
        val brute = slice.as("a")
          .join(slice.as("b"), col("a.vec_id") < col("b.vec_id"))
          .filter(cosine_sim(col("a.v"), col("b.v")) >= 0.4)
          .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
        val spurious = srpPairs(slice, 0.4, ordered = false).select("a_id", "b_id")
          .join(brute, Seq("a_id", "b_id"), "left_anti")
          .agg(count(lit(1)).as("open_srp_spurious"))
        planted.crossJoin(spurious).orderBy("a_id")
      },
      Some(
        """SELECT vec_id AS a_id, vec_id + 100000 AS b_id,
          |       CAST(1.0 AS DOUBLE) AS cos_sim,
          |       CAST(0 AS BIGINT) AS open_srp_spurious
          |FROM embeddings WHERE vec_id < 100 ORDER BY a_id""".stripMargin)),

    // Edit-distance verification of near-dup candidates — the second
    // verification primitive real dedup pipelines use beside set-overlap
    // Jaccard (code-dedup stacks in particular verify candidates by edit
    // ratio, which catches small in-place edits that shingle sets smear).
    // Candidates come from the same blocking key the streaming near-dup
    // stage collapses on (the 5-token opening); each candidate pair pays
    // one O(|a|·|b|) levenshtein, never the corpus cross product — at
    // 100 TB the blocking join is the scale path (selective key, equi-
    // join, no all-pairs), and the verify cost is per-candidate, exactly
    // like verifyJaccard. All-integer output (+ the is_dup rule as a
    // boolean: lev ≤ 20% of the longer text), so the differential gate
    // is float-free.
    ("dedup_edit_verify",
      (s: SparkSession, d: String) => {
        val k = documents(s, d).select(
          col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("k5"),
          col("text"))
        k.as("a")
          .join(k.as("b"),
            col("a.k5") === col("b.k5") && col("a.doc_id") < col("b.doc_id"))
          .select(
            col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
            levenshtein(col("a.text"), col("b.text")).cast("long").as("lev"),
            greatest(length(col("a.text")), length(col("b.text")))
              .cast("long").as("max_len"))
          .withColumn("is_dup", col("lev") * 5 <= col("max_len"))
          .orderBy("a_id", "b_id")
      },
      Some(
        """WITH k AS (
          |  SELECT doc_id,
          |         array_to_string(string_split(text, ' ')[1:5], ' ') AS k5,
          |         text
          |  FROM documents
          |)
          |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
          |       CAST(greatest(len(a.text), len(b.text)) AS BIGINT) AS max_len,
          |       levenshtein(a.text, b.text) * 5
          |         <= greatest(len(a.text), len(b.text)) AS is_dup
          |FROM k a JOIN k b ON a.k5 = b.k5 AND a.doc_id < b.doc_id
          |ORDER BY a_id, b_id""".stripMargin)),

    // Semantic dedup clusters (the SemDeDup collapse, Abbas et al. 2023):
    // connected components over the embedding near-dup graph, so
    // transitively-linked semantic duplicates collapse to one
    // representative — the embedding-space twin of `dedup_clusters`.
    // The gate graph is the EXACT cosine ≥ 0.4 pair relation (the
    // `dedup_embedding` brute force — oracle-checkable in SQL, double
    // math both engines); at 100 TB the same `connectedComponents` runs
    // over `srpPairs`' banded LSH output instead, which is the identical
    // composition with the candidate generator swapped — both pieces'
    // scale stories are already pinned by their own gate rows. DuckDB
    // replays the closure as a recursive CTE (quadratic in component
    // size where label propagation is O(diameter) rounds — the same
    // asymmetry dedup_clusters measures).
    ("dedup_semantic_clusters",
      (s: SparkSession, d: String) => {
        val e = embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        // the SAME cached blocked-join pair relation the dedup_embedding
        // row materializes — one exact pair build per pass, two consumers
        connectedComponents(
          embeddingPairsExact(e, 0.4).select("a_id", "b_id"))
          .select(col("doc_id").as("vec_id"), col("rep"))
          .orderBy("vec_id")
      },
      Some(
        """WITH RECURSIVE em AS (
          |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          |), p AS (
          |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
          |  FROM em a JOIN em b ON a.vec_id < b.vec_id
          |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4
          |), e AS (
          |  SELECT a_id AS s, b_id AS d FROM p
          |  UNION SELECT b_id, a_id FROM p
          |), r(s, d) AS (
          |  SELECT s, d FROM e
          |  UNION SELECT r.s, e.d FROM r JOIN e ON r.d = e.s
          |)
          |SELECT s AS vec_id, least(s, min(d)) AS rep
          |FROM r GROUP BY s ORDER BY vec_id""".stripMargin)),

    // Sub-document exact dedup, C4-style: the corpus' repeated UNITS (C4
    // uses lines; this newline-free synthetic corpus uses fixed 20-token
    // chunks so both engines chunk identically) are removed globally,
    // keeping only the FIRST occurrence under the total (doc_id, pos)
    // order — the dedup granularity below documents that document-level
    // dedup can't reach (boilerplate repeated across distinct pages).
    // Spark shape at 100 TB: explode to (doc_id, pos, chunk), ONE hash
    // shuffle on the chunk to pick min(struct(doc_id, pos)) per distinct
    // chunk (partial-agg combines map-side), equi-join the winners back,
    // re-assemble per doc with an ordered fold — no window over the corpus,
    // no all-pairs anywhere. The shuffle key is the chunk text itself (it
    // IS the payload); a production variant keys the exchange on
    // xxhash64(chunk) and keeps the text as a verified tie-along column,
    // same plan shape. The oracle replays keep-first as the row_number
    // window Spark deliberately avoids.
    ("dedup_chunk_exact",
      (s: SparkSession, d: String) => {
        val docs = documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
        // the shared 20-token chunking unit (chunks20) — the same rule
        // the bloom path uses; one definition, no drift
        val chunks = chunks20(documents(s, d))
        val winners = chunks.groupBy("chunk")
          .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
        val kept = chunks.join(winners, "chunk")
          .filter(struct(col("doc_id"), col("pos")) === col("first"))
        val perDoc = kept.groupBy("doc_id").agg(
          count(lit(1)).as("n_kept"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
              x => x("chunk")), " ")).as("kept_md5"))
        docs
          .select(col("doc_id"),
            (((size(col("toks")) - 1) / lit(20)).cast("long") + 1L).as("n_chunks"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_chunks"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
          .orderBy("doc_id")
      },
      Some(
        """WITH tk AS (
          |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          |), ch AS (
          |  SELECT doc_id, CAST(r.i AS BIGINT) AS pos,
          |         array_to_string(toks[(r.i*20+1):(r.i*20+20)], ' ') AS chunk
          |  FROM tk, UNNEST(range(0, (len(toks)-1)//20 + 1)) AS r(i)
          |), keep AS (
          |  SELECT doc_id, pos, chunk,
          |         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
          |  FROM ch
          |), agg AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
          |         md5(string_agg(chunk, ' ' ORDER BY pos)) AS kept_md5
          |  FROM keep WHERE rn = 1 GROUP BY doc_id
          |)
          |SELECT t.doc_id,
          |       CAST((len(t.toks)-1)//20 + 1 AS BIGINT) AS n_chunks,
          |       coalesce(a.n_kept, 0) AS n_kept,
          |       coalesce(a.kept_md5, md5('')) AS kept_md5
          |FROM tk t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin)),

    // Containment (overlap-coefficient) near-dup pairs at ov ≥ 0.9 over
    // the prefix-planted corpus (see [[overlapPairsPrefix]]): every 7th
    // document contributes a derived doc (id + 100000) holding its first
    // ⌈n/3⌉ tokens — a subset duplicate whose ov is 1.0 but whose
    // Jaccard is ≈ 1/3, invisible to the symmetric gate (the planted-
    // construction precedent: simhash's duplicated slice, intradoc's
    // planted repeat). The oracle replays the construction and the naive
    // shared-shingle computation; DedupSpec separates the two measures.
    ("dedup_containment",
      (s: SparkSession, d: String) => {
        // base corpus shingles come from the SAME cached relation the
        // jaccard family builds ([[shingled]] — plan-keyed, so Spark's
        // CacheManager serves it to every consumer): round-11's cold
        // profile showed containment re-tokenizing + re-shingling the
        // whole corpus that dedup_clusters had already materialized.
        // Only the planted subset docs (1/7 of the corpus, first ⌈n/3⌉
        // tokens each) shingle from scratch — they exist in no other row.
        val base = shingled(s, d).cache()
        val planted = TextOps.spreadScan(documents(s, d))
          .filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
          .select((col("doc_id") + lit(100000L)).as("doc_id"),
            slice(col("tk"), lit(1),
              greatest(ceil(size(col("tk")) / lit(3.0)).cast("int"), lit(3)))
              .as("tk"))
          .select(col("doc_id"),
            array_distinct(shingles(col("tk"), 3)).as("sh"))
        overlapPairsPrefix(base.unionAll(planted), 0.9)
      },
      Some(
        """WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |w AS (
          |  SELECT doc_id, ws FROM w0
          |  UNION ALL
          |  SELECT doc_id + 100000,
          |         ws[1:greatest(CAST(ceil(len(ws)/3.0) AS INT), 3)]
          |  FROM w0 WHERE doc_id % 7 = 0
          |), sh AS (
          |  SELECT DISTINCT doc_id,
          |         CASE WHEN len(ws) >= 3 THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
          |              ELSE array_to_string(ws, ' ') END AS s
          |  FROM w, UNNEST(range(1, greatest(len(ws) - 1, 2))) AS t(i)
          |), c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          |i AS (
          |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
          |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2
          |)
          |SELECT a_id, b_id, round(i * 1.0 / least(ca.n, cb.n), 4) AS overlap
          |FROM i JOIN c ca ON ca.doc_id = a_id JOIN c cb ON cb.doc_id = b_id
          |WHERE i * 1.0 / least(ca.n, cb.n) >= 0.9
          |ORDER BY a_id, b_id""".stripMargin)),

    // Bloom-prefiltered incremental chunk dedup (see
    // [[bloomDeltaChunkDedup]]): the 20% delta slice probed against a
    // broadcast sketch of the base's chunks, positives exactly verified
    // — the sketch prunes, the oracle's plain semi-join re-proves
    // exactness on the real corpus every round.
    ("dedup_bloom_delta",
      (s: SparkSession, d: String) =>
        bloomDeltaChunkDedup(documents(s, d), col("doc_id") % 5 === 3),
      Some(
        """WITH tk AS (
          |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          |), ch AS (
          |  SELECT doc_id,
          |         array_to_string(toks[(r.i*20+1):(r.i*20+20)], ' ') AS chunk
          |  FROM tk, UNNEST(range(0, (len(toks)-1)//20 + 1)) AS r(i)
          |), base AS (
          |  SELECT DISTINCT chunk FROM ch WHERE doc_id % 5 != 3
          |), delta AS (
          |  SELECT doc_id, chunk FROM ch WHERE doc_id % 5 = 3
          |)
          |SELECT d.doc_id,
          |       CAST(count(*) AS BIGINT) AS n_chunks,
          |       CAST(sum(CASE WHEN b.chunk IS NOT NULL THEN 1 ELSE 0 END)
          |            AS BIGINT) AS n_dup_chunks
          |FROM delta d LEFT JOIN base b ON d.chunk = b.chunk
          |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin))
  )
}
