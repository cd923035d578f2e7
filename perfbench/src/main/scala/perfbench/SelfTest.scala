package perfbench

import scala.util.Try

/** Checks the benchmark makes on itself before every run (pure Scala, no
  * Spark, well under a second):
  *  - the same seed yields an identical corpus and identical op lists, and
  *    another seed does not;
  *  - a planted wrong answer (one row dropped) is caught by the oracle
  *    comparison and counted in the failure ratio under its shape's name;
  *  - more client threads or task slots than cores are refused.
  * Returns the failures (empty when all pass).
  */
object SelfTest {
  def run(cores: Int): List[String] = {
    var errs = List.empty[String]
    def check(cond: Boolean, what: String): Unit = if (!cond) errs ::= what

    // determinism
    val a = Corpus.generate(7L, 20000)
    val b = Corpus.generate(7L, 20000)
    val c = Corpus.generate(8L, 20000)
    check(Corpus.digest(a) == Corpus.digest(b), "same seed gave different corpora")
    check(Corpus.digest(a) != Corpus.digest(c), "different seeds gave the same corpus")
    check(Corpus.streams(7L) == Corpus.streams(7L), "same seed gave different streams")
    check(Dashboard.pool(7L) == Dashboard.pool(7L), "same seed gave different dashboard pools")
    check(Dashboard.pool(7L) != Dashboard.pool(8L), "different seeds gave the same dashboard pool")
    check(BulkScan.windows(7L) == BulkScan.windows(7L), "same seed gave different bulk windows")
    check((0L until 50L).map(IngestTail.tailApp(7L, _)) == (0L until 50L).map(IngestTail.tailApp(7L, _)),
      "same seed gave different ingest ops")
    val burst = a.groupBy(e => (e.tsNs, e.labels)).count(_._2.length > 1)
    check(burst > 0, "corpus has no same-nanosecond bursts")

    // planted wrong answer: drop one row from an oracle answer
    val cand = a.filter(_.app == a.head.app).map(LogRows.triple).toSeq
    val top = cand.sortBy(-_._1).take(100)
    check(Check.topN(top, cand, 100).isEmpty, "the oracle rejected a right answer")
    val planted = top.drop(1)
    val verdict = Check.topN(planted, cand, 100)
    val st = new PhaseStats
    st.record("browser", Outcome(verdict.isEmpty, verdict.getOrElse(""), 1000000L), 0L)
    check(verdict.nonEmpty, "a dropped row was not detected")
    check(st.failedRatio == 1.0 && st.failedShapes.contains("browser"),
      "a detected wrong answer was not counted under its shape")
    check(Check.sameMultiset(cand.drop(1), cand).nonEmpty, "a dropped row passed the multiset check")

    // resource limits
    check(Try(Config.validate(cores + 1, 1, cores)).isFailure, "more clients than cores were accepted")
    check(Try(Config.validate(1, cores + 1, cores)).isFailure, "more task slots than cores were accepted")
    check(Try(Config.validate(1, cores, cores)).isSuccess, "a valid config was refused")
    errs.reverse
  }
}
