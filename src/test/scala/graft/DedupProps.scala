package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

import graft.functions.GraftFunctions
import graft.operators.DedupOps

/** Property: the prefix-filter jaccard join (the gate/bench/100 TB path)
  * produces EXACTLY the naive shared-shingle join's relation — pairs and
  * values — on random corpora and thresholds, not just on the fixed test
  * corpus DedupSpec pins. The generator draws from a small vocabulary so
  * near-dup pairs (and boundary-jaccard pairs) arise naturally.
  */
object DedupProps extends SeededProperties("DedupPrefixJoin") {

  // each case runs Spark jobs; a handful of random corpora is the budget
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    super.overrideParameters(p).withMinSuccessfulTests(6)

  // local[4,2] matches SparkTestBase: whichever suite wins the JVM-global
  // context race must leave task retries enabled (the connector's
  // at-least-once test needs maxFailures=2)
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4,2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val vocab: Seq[String] = ('a' to 'l').map(c => s"w$c")

  private val docGen: Gen[String] = for {
    n <- Gen.choose(3, 10)
    toks <- Gen.listOfN(n, Gen.oneOf(vocab))
  } yield toks.mkString(" ")

  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    m <- Gen.choose(8, 18)
    docs <- Gen.listOfN(m, docGen)
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def pairs(df: DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  property("prefix join == naive join on random corpora and thresholds") =
    Prop.forAllNoShrink(corpusGen, Gen.oneOf(0.3, 0.5, 0.7)) { (rows, tau) =>
      val s = spark
      import s.implicits._
      val docs = rows.toDF("doc_id", "text").select(
        col("doc_id"),
        array_distinct(GraftFunctions.shingles(split(col("text"), " "), 3)).as("sh"))
      val prefix = pairs(DedupOps.jaccardPairsPrefix(docs, tau))
      val naive = pairs(DedupOps.jaccardPairsNaive(docs, tau))
      Prop(prefix == naive) :| s"tau=$tau prefix=$prefix naive=$naive"
    }

  property("delta matching == naive join restricted to the delta, random corpora") =
    Prop.forAllNoShrink(corpusGen, Gen.choose(2, 5)) { (rows, mod) =>
      val s = spark
      import s.implicits._
      val docs = rows.toDF("doc_id", "text").select(
        col("doc_id"),
        array_distinct(GraftFunctions.shingles(split(col("text"), " "), 3)).as("sh"))
      val delta = pairs(DedupOps.jaccardPairsDelta(
        docs, _ % mod === 0, 0.5))
      val expected = pairs(DedupOps.jaccardPairsNaive(docs, 0.5))
        .filter { case ((a, b), _) => a % mod == 0 || b % mod == 0 }
      Prop(delta == expected) :| s"mod=$mod delta=$delta expected=$expected"
    }

  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 30)
    m <- Gen.choose(1, 40)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n.toLong - 1)
      b <- Gen.choose(0L, n.toLong - 1)
      if a != b
    } yield (math.min(a, b), math.max(a, b)))
  } yield edges.distinct

  /** Driver-side union-find, the independent oracle for the distributed
    * label propagation.
    */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(v => v -> find(v)).toMap
  }

  property("minhash-LSH recovers the exact jaccard relation on random corpora") =
    Prop.forAllNoShrink(corpusGen) { rows =>
      val s = spark
      import s.implicits._
      val docs = rows.toDF("doc_id", "text").select(
        col("doc_id"),
        array_distinct(GraftFunctions.shingles(split(col("text"), " "), 3)).as("sh"))
      // at tau=0.5/64x2 banding the per-pair miss probability is ~1e-8;
      // equality is the expected outcome, not a tail event
      val lsh = pairs(DedupOps.minhashLshPairs(docs, 0.5))
      val naive = pairs(DedupOps.jaccardPairsNaive(docs, 0.5))
      Prop(lsh == naive) :| s"lsh=$lsh naive=$naive"
    }

  private val vecGen: Gen[Seq[(Long, Seq[Double])]] = for {
    n <- Gen.choose(6, 16)
    vs <- Gen.listOfN(n, Gen.listOfN(8, Gen.choose(-1.0, 1.0)))
    nDups <- Gen.choose(0, 3)
    withZero <- Gen.oneOf(true, false)
  } yield {
    // duplicate a few vectors (exercises the collapse's within-group
    // expansion) and sometimes plant a zero-vector pair (cosine undefined
    // — identical zero vectors must NOT surface as a pair)
    val dups = vs.take(nDups)
    val zeros = if (withZero) Seq.fill(2)(Seq.fill(8)(0.0)) else Nil
    (vs ++ dups ++ zeros).zipWithIndex.map { case (v, i) => (i.toLong, v) }
  }

  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (na * nb)
  }

  property("SRP pairs are sound (subset of exact cosine pairs) on random vectors") =
    Prop.forAllNoShrink(vecGen, Gen.oneOf(0.2, 0.4, 0.6)) { (rows, tau) =>
      val s = spark
      import s.implicits._
      val vecs = rows.toDF("vec_id", "v")
      val srp = DedupOps.srpPairs(vecs, tau).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = (for {
        (a, va) <- rows; (b, vb) <- rows if a < b
        if cosine(va, vb) >= tau - 1e-9 // driver-side float slack
      } yield (a, b)).toSet
      Prop(srp.subsetOf(exact)) :| s"tau=$tau spurious=${srp -- exact}"
    }

  property("blocked exact pair join == driver all-pairs on random vectors") =
    Prop.forAllNoShrink(vecGen, Gen.oneOf(0.2, 0.4, 0.6)) { (rows, tau) =>
      val s = spark
      import s.implicits._
      val vecs = rows.toDF("vec_id", "v")
      // the blocked P(P+1)/2 equi-join (the dedup_embedding plan) must
      // produce EXACTLY the all-pairs cosine relation — no pair lost to
      // a block-boundary bug, none duplicated across same/cross-block
      // emission, values bit-equal to the driver replay
      val got = DedupOps.embeddingPairsExact(vecs, tau).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val want = (for {
        (a, va) <- rows; (b, vb) <- rows if a < b
        c = cosine(va, vb) if c >= tau
      } yield (a, b) -> c).toMap
      // cosine_sim and the driver replay accumulate in the same order
      // (sequential fold over the array), so values are bit-comparable
      Prop(got == want) :| s"tau=$tau got=${got.size} want=${want.size} " +
        s"miss=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}"
    }

  property("connected components == union-find on random graphs") =
    Prop.forAllNoShrink(graphGen) { edges =>
      val s = spark
      import s.implicits._
      (edges.nonEmpty: Prop) ==> {
        val got = DedupOps.connectedComponents(edges.toDF("a_id", "b_id"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = unionFind(edges)
        Prop(got == want) :| s"edges=$edges got=$got want=$want"
      }
    }
}
