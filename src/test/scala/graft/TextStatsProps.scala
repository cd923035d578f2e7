package graft

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test}

import graft.operators.TextOps

/** Properties: the corpus-statistics operators (unigram-LM scoring, PMI
  * bigrams, repeated spans) equal an exact in-memory recomputation on
  * RANDOM corpora, not just the fixed test corpus TextStatsSpec pins —
  * exercising short docs (whole-text span fallback), singleton vocab
  * entries, and boundary tie-ordering in the PMI ranking.
  */
object TextStatsProps extends SeededProperties("TextStats") {

  // each case runs Spark jobs; a handful of random corpora is the budget
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    super.overrideParameters(p).withMinSuccessfulTests(5)

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4,2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val vocab: Seq[String] = ('a' to 'h').map(c => s"w$c")

  private val docGen: Gen[String] = for {
    n <- Gen.choose(1, 12) // includes docs under the 8-token span width
    toks <- Gen.listOfN(n, Gen.oneOf(vocab))
  } yield toks.mkString(" ")

  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(2, 25)
    docs <- Gen.listOfN(n, docGen)
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def df(corpus: Seq[(Long, String)]) = {
    val s = spark; import s.implicits._
    corpus.toDF("doc_id", "text")
  }

  /** Spark's round(x, 0): BigDecimal HALF_UP. */
  private def q6(x: Double): Long =
    BigDecimal(x * 1e6).setScale(0, RoundingMode.HALF_UP).toLong

  property("unigramLogprob ≡ exact recomputation") =
    Prop.forAll(corpusGen) { corpus =>
      val toksBy = corpus.map { case (id, t) => id -> t.split(" ").toSeq }
      val counts = toksBy.flatMap(_._2).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val total = counts.values.sum
      val lp6 = counts.map { case (w, c) =>
        w -> q6(math.log(c.toDouble) - math.log(total.toDouble))
      }
      val expected = toksBy.map { case (id, ts) =>
        id -> (ts.size.toLong, ts.map(lp6).sum)
      }.toMap
      val got = TextOps.unigramLogprob(df(corpus)).collect()
      got.length == corpus.size && got.forall { r =>
        expected(r.getLong(0)) == ((r.getLong(1), r.getLong(2)))
      }
    }

  property("pmiBigrams ≡ exact recomputation (values and rank order)") =
    Prop.forAll(corpusGen) { corpus =>
      val toksBy = corpus.map(_._2.split(" ").toSeq).filter(_.size >= 2)
      val uni = toksBy.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n1 = uni.values.sum
      val bi = toksBy.flatMap(ts => ts.sliding(2).map(_.mkString(" ")))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n2 = bi.values.sum
      val expected = bi.keys.toSeq.map { bg =>
        val Array(w1, w2) = bg.split(" ")
        (bg, bi(bg), q6(math.log(bi(bg).toDouble) - math.log(uni(w1).toDouble) -
          math.log(uni(w2).toDouble) + 2.0 * math.log(n1.toDouble) -
          math.log(n2.toDouble)))
      }.sortBy { case (bg, _, p) => (-p, bg) }
      val got = TextOps.pmiBigrams(df(corpus)).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      got == expected
    }

  property("dupSpans ≡ exact recomputation incl. whole-text fallback") =
    Prop.forAll(corpusGen) { corpus =>
      def spans(ts: Seq[String]): Seq[String] =
        (if (ts.size >= 8) ts.sliding(8).map(_.mkString(" ")).toSeq
         else Seq(ts.mkString(" "))).distinct
      val byDoc = corpus.map { case (id, t) => id -> spans(t.split(" ").toSeq) }
      val dfreq = byDoc.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
      val expected = byDoc.map { case (id, sp) =>
        id -> (sp.size.toLong, sp.count(g => dfreq(g) > 1).toLong)
      }.toMap
      val got = TextOps.dupSpans(df(corpus)).collect()
      got.length == corpus.size && got.forall { r =>
        expected(r.getLong(0)) == ((r.getLong(1), r.getLong(2)))
      }
    }

  property("term_counts ≡ groupBy count, first-appearance key order") =
    Prop.forAll(corpusGen) { corpus =>
      import org.apache.spark.sql.functions.{col, map_keys, split}
      import graft.functions.GraftFunctions.term_counts
      // Row.getMap converts to a Scala Map (unordered past 4 entries), so
      // the map's array order — the expression's determinism contract —
      // is read via map_keys instead
      val got = df(corpus)
        .select(col("doc_id"),
          term_counts(split(col("text"), " ")).as("tc"))
        .select(col("doc_id"), col("tc"), map_keys(col("tc")).as("ks"))
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getMap[String, Long](1).toMap, r.getSeq[String](2))))
        .toMap
      corpus.forall { case (id, t) =>
        val ts = t.split(" ").toSeq
        val (m, ks) = got(id)
        m == ts.distinct.map(w => w -> ts.count(_ == w).toLong).toMap &&
          ks == ts.distinct
      }
    }
}
