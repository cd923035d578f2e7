package graft.operators

import org.apache.spark.sql.DataFrame

/** Live cache registry for multi-consumer cached relations, keyed by the
  * primary cached relation (for the dedup pair family, the collapsed
  * groups relation). Began life inside DedupOps; by round 5 it also backed
  * [[TextOps]] / [[RelOps]] / [[SimilarityOps]] caches, so it lives here
  * under a neutral name (round-7 verdict item 7).
  *
  * Holds up to [[maxLiveCorpora]] corpora LRU-style PER SparkSession: gate
  * queries interleave SEVERAL corpora in one pass (the shingle corpus, the
  * simhash union-with-copies corpus, its 100-doc slice, the SRP corpora),
  * and a one-corpus policy evicted the expensive union caches mid-query
  * while a no-bound policy ran property-test sessions out of heap.
  * Plan-level comparison, NOT object identity — same-plan DataFrames share
  * one CacheManager entry, so unpersisting an "old" object with the same
  * plan would evict the new invocation's entry too. Sessions never share
  * an entry (plans from two sessions over the same files can compare
  * sameResult, and evicting across sessions would drop the other session's
  * live cache).
  *
  * Hazard (documented, accepted): registration happens at DataFrame
  * CONSTRUCTION time, not action time — composing more than
  * [[maxLiveCorpora]] distinct-corpus plans before executing any of them
  * evicts the oldest plans' caches before they ever materialize
  * (correctness unaffected; those plans recompute). Entries whose session
  * has been stopped are dropped without touching the (already torn down)
  * cache, and unpersist is best-effort.
  *
  * The cap (`graft.cache.maxLiveCorpora`, default 12) is a
  * per-session memory knob: the full gate interleaves ~10 distinct
  * registered corpora (shingle groups, embedding groups, simhash union +
  * slice, BPE rounds, PMI/dup-spans gram relations, the incremental
  * index), so the default covers that working set — an 8-corpus cap
  * measurably evicted the BPE round caches between bench passes, forcing a
  * full 8-round retrain on re-invocation. Sessions on small heaps (the
  * property-test suites) set it lower; a production session sizes it to
  * executor storage memory like any cache budget.
  */
object CacheRegistry {

  private def maxLiveCorpora(session: org.apache.spark.sql.SparkSession): Int =
    session.conf.getOption("graft.cache.maxLiveCorpora")
      .map(_.toInt).getOrElse(12)

  private var live: Seq[(DataFrame, Seq[DataFrame])] = Nil

  private[operators] def dropOrUnpersist(df: DataFrame): Unit =
    if (!df.sparkSession.sparkContext.isStopped) {
      scala.util.Try(df.unpersist())
      ()
    }

  /** Plan-keyed result memo for ITERATIVE operators (k-core, BFS — the
    * pagerank/CC precedent): their driver-looped localCheckpoints mint
    * fresh RDDs every invocation, so unlike any declarative plan they can
    * never hit Spark's own CacheManager on a repeat run — this memo
    * restores exactly that reuse and nothing more (single-plan operators
    * stay un-memoized; persist() already serves them). Keyed on the input
    * DataFrame's analyzed plan + an operator parameter, bounded LRU of 8
    * (results are small — component/level/core relations — and reclaimed
    * by the ContextCleaner once evicted). Stopped sessions' entries are
    * dropped on the next call.
    */
  private var resultSlots:
    List[((DataFrame, Any, String), DataFrame)] = Nil

  /** Content fingerprint of a plan's leaf file sources (path + length +
    * mtime of up to 64 files, plus the file count): an IN-PLACE corpus
    * regeneration leaves the analyzed plan sameResult-identical (same
    * paths), so plan identity alone would serve a stale memoized result
    * for the new data — the same invalidation event RelOps.layoutTag
    * fingerprints for the pay-once layouts. Statuses come fresh from the
    * filesystem at memo-lookup time (the plan's own listing may itself
    * be cached); beyond 64 files the count still shifts on any
    * add/remove, and a same-count in-place rewrite of file 65+ only is
    * accepted as a miss-risk trade against unbounded status calls.
    */
  private[operators] def sourceFingerprint(df: DataFrame): String = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val files = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.toSeq
          case _ => Seq.empty[String]
        }
    }.flatten.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    files.take(64).foreach { f =>
      val id = try {
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        s"$f|${st.getLen}|${st.getModificationTime}"
      } catch { case _: Exception => f }
      md.update(id.getBytes("UTF-8"))
    }
    md.update(files.size.toString.getBytes("UTF-8"))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  def memoizeResult(input: DataFrame, param: Any)(
      compute: => DataFrame): DataFrame = {
    val fp = sourceFingerprint(input)
    val hit = synchronized {
      resultSlots = resultSlots.filter(
        !_._1._1.sparkSession.sparkContext.isStopped)
      val keyPlan = input.queryExecution.analyzed
      resultSlots.find { case ((in, p, f), _) =>
        p == param && f == fp && (in.sparkSession eq input.sparkSession) &&
          in.queryExecution.analyzed.sameResult(keyPlan)
      }
    }
    hit match {
      case Some(entry @ (_, res)) =>
        synchronized {
          resultSlots = entry :: resultSlots.filterNot(_ eq entry)
        }
        res
      case None =>
        val res = compute // outside the lock: the iterate runs jobs
        synchronized {
          resultSlots = (((input, param, fp), res) :: resultSlots).take(8)
        }
        res
    }
  }

  /** Drop every cache and result memo this registry holds for `session`.
    * The bench calls it (plus [[DedupOps.clearCcSlots]] and Spark's own
    * `clearCache()`) between its untimed warm-up and the first timed pass,
    * so pass-1 times measure operator work with a JIT-warm JVM but cold
    * caches — the "cold" column the bench artifact discloses — while
    * pass 2 measures the memo/cache-warm repeat-consumer path.
    */
  def clearSession(session: org.apache.spark.sql.SparkSession): Unit = {
    synchronized {
      val (mine, others) = live.partition(_._1.sparkSession eq session)
      mine.foreach(_._2.foreach(dropOrUnpersist))
      live = others
      resultSlots = resultSlots.filterNot(_._1._1.sparkSession eq session)
    }
    // session-scoped memos owned by other modules ride the same reset
    graft.streaming.StreamingOps.clearSchemaCache(session)
    graft.streaming.StreamingOps.clearDrainMemo(session)
  }

  def register(key: DataFrame, caches: Seq[DataFrame]): Unit =
    synchronized {
      // entries from stopped sessions: nothing to unpersist, just forget
      live = live.filter(!_._1.sparkSession.sparkContext.isStopped)
      val keyPlan = key.queryExecution.analyzed
      val (same, others) = live.partition(e =>
        (e._1.sparkSession eq key.sparkSession) &&
          e._1.queryExecution.analyzed.sameResult(keyPlan))
      val merged = same.headOption match {
        case Some((k, cs)) =>
          val fresh = caches.filterNot(c => cs.exists(
            _.queryExecution.analyzed.sameResult(c.queryExecution.analyzed)))
          (k, cs ++ fresh)
        case None => (key, caches)
      }
      // most-recent first; evict beyond the cap — but never another
      // session's entries on THIS session's behalf (each session gets its
      // own LRU window)
      val (sameSession, otherSessions) = others.partition(
        _._1.sparkSession eq key.sparkSession)
      val (keep, evict) =
        (merged +: sameSession).splitAt(maxLiveCorpora(key.sparkSession))
      evict.foreach(_._2.foreach(dropOrUnpersist))
      live = keep ++ otherSessions
    }
}
