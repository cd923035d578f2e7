package perfbench

import java.util.SplittableRandom

/** One generated log entry. `labels` is the label set as Loki stores it
  * (with the ingest-injected `detected_level` / `service_name`); `status`
  * is the HTTP status field the line carries, kept so the oracle never
  * has to re-parse the line it generated.
  */
final case class Entry(tsNs: Long, labels: Map[String, String], line: String, status: Int) {
  def tsUs: Long = Math.floorDiv(tsNs, 1000L)
  def app: String = labels("app")
}

/** A Loki stream: one label set. */
final case class LogStream(app: String, pod: String, level: String, env: String) {
  /** Labels as a client pushes them. */
  val pushed: Map[String, String] =
    Map("app" -> app, "pod" -> pod, "level" -> level, "env" -> env)
  /** Labels as Loki stores them after ingest. */
  val stored: Map[String, String] = Loki.injectLabels(pushed, "")
  def json: Boolean = Corpus.isJson(app)
}

/** Loki's ingest-time label discovery, restated in plain Scala for the
  * oracle: `service_name` from the first present label of Loki's
  * `discover_service_name` list (an explicit one is kept), `detected_level`
  * from an explicit level-ish label or a token scan of the line.
  */
object Loki {
  private val serviceLabels = Seq("service", "app", "application", "name",
    "app_kubernetes_io_name", "container", "container_name", "component",
    "workload", "job")
  private val levelRe = java.util.regex.Pattern.compile(
    "(?i)\\b(trace|debug|info|warn(?:ing)?|err(?:or)?|critical|fatal)\\b")
  private def norm(v: String): String = v.toLowerCase match {
    case "warning" => "warn"
    case "err" => "error"
    case x => x
  }

  def injectLabels(labels: Map[String, String], line: String): Map[String, String] = {
    val svc = labels.getOrElse("service_name",
      serviceLabels.collectFirst { case l if labels.contains(l) => labels(l) }
        .getOrElse("unknown"))
    val lvl = labels.getOrElse("detected_level",
      labels.collectFirst {
        case (k, v) if Set("level", "severity", "lvl")(k.toLowerCase) => norm(v)
      }.getOrElse {
        val m = levelRe.matcher(line)
        if (m.find()) norm(m.group(1)) else "unknown"
      })
    labels ++ Map("detected_level" -> lvl, "service_name" -> svc)
  }
}

/** Seeded log corpus: ~1,000 streams (app × pod × level × env) with Zipf
  * stream sizes, uniform timestamps over a fixed span, ~1% of entries in
  * same-nanosecond bursts, and logfmt or JSON lines (by app) carrying
  * level/method/path/status/duration fields. The same seed always gives
  * the same entries in the same order.
  */
object Corpus {
  val HourNs: Long = 3600L * 1000000000L
  val DayNs: Long = 24 * HourNs
  /** 2026-01-01T00:00:00Z: the corpus start; every window is hour-aligned to it. */
  val T0Ns: Long = 1767225600L * 1000000000L
  val Days = 7
  val SpanNs: Long = Days * DayNs

  val Apps: Vector[String] = Vector("api", "auth", "billing", "cart", "catalog",
    "checkout", "search", "gateway", "ledger", "mailer", "notify", "orders",
    "payments", "profile", "reco", "reports", "session", "shipping", "stock",
    "users")
  val Levels: Vector[String] = Vector("debug", "info", "warn", "error")
  val Envs: Vector[String] = Vector("prod", "staging", "dev")
  val PodsPerApp = 4
  /** Odd-indexed apps log JSON, even-indexed apps logfmt. */
  def isJson(app: String): Boolean = Apps.indexOf(app) % 2 == 1

  /** Message texts; `Tokens` are the words the line-filter queries look for. */
  val Messages: Vector[String] = Vector("request served", "cache miss on read",
    "upstream timeout after retry", "retry scheduled", "connection reset by peer",
    "user login ok", "token refreshed", "slow query detected",
    "payload rejected", "rate limited", "job finished", "health check ok",
    "queue backlog growing", "lock wait timeout", "disk pressure warning")
  val Tokens: Vector[String] = Vector("timeout", "retry", "reset", "login",
    "slow", "rejected", "limited", "miss", "backlog", "pressure")
  private val Methods = Vector("GET", "GET", "GET", "POST", "PUT", "DELETE")
  private val Resources = Vector("users", "orders", "items", "carts", "invoices",
    "sessions", "search", "health")

  val StatusesByLevel: Map[String, Vector[Int]] = Map(
    "debug" -> Vector(200, 200, 200, 204),
    "info" -> Vector(200, 200, 200, 201, 204, 301, 404),
    "warn" -> Vector(400, 404, 404, 429, 200, 503),
    "error" -> Vector(500, 500, 502, 503, 504, 404))

  /** App names by volume slot: slot 0 is the app whose streams hold the
    * most entries. The seed decides which name sits in which slot, among
    * names of the same line format, so each slot's format (and line size)
    * is the same for every seed.
    */
  def appSlots(seed: Long): Vector[String] = {
    val rnd = new SplittableRandom(seed ^ 0xA995L)
    val (odd, even) = Apps.partition(isJson)
    val e = shuffle(rnd, even)
    val o = shuffle(rnd, odd)
    Vector.tabulate(Apps.size)(i => if (i % 2 == 0) e(i / 2) else o(i / 2))
  }

  /** Streams in Zipf rank order (rank 0 is the largest). The volume
    * structure is the same for every seed: which (app slot, pod, level)
    * combination holds which rank comes from a fixed permutation, and
    * environments go by rank (prod, staging, dev, prod, …), so each app
    * slot's and each environment's share of the volume never changes. The
    * seed decides the names in the slots and the pod ids.
    */
  def streams(seed: Long): Vector[LogStream] = {
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val apps = appSlots(seed)
    val pods = apps.map { a =>
      a -> (0 until PodsPerApp).map(_ => f"$a-${rnd.nextInt(1 << 20)}%05x").toVector
    }.toMap
    val combos = shuffle(new SplittableRandom(StructureSeed), for {
      a <- apps.indices.toVector; p <- 0 until PodsPerApp; l <- Levels.indices
    } yield (a, p, l))
    Vector.tabulate(combos.size * Envs.size) { r =>
      val (a, p, l) = combos(r / Envs.size)
      LogStream(apps(a), pods(apps(a))(p), Levels(l), Envs(r % Envs.size))
    }
  }

  /** Fixed seed of the volume structure (not a run input). */
  private val StructureSeed = 20260101L

  def shuffle[A](rnd: SplittableRandom, xs: Vector[A]): Vector[A] = {
    val arr = xs.toArray[Any]
    var i = arr.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
      i -= 1
    }
    arr.toVector.asInstanceOf[Vector[A]]
  }

  /** Cumulative Zipf(s=1) weights over `n` ranks, normalised to 1. */
  def zipfCdf(n: Int, s: Double = 1.0): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def sample(cdf: Array[Double], u: Double): Int = {
    var lo = 0
    var hi = cdf.length - 1
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (cdf(m) < u) lo = m + 1 else hi = m
    }
    lo
  }

  /** `n` entries with timestamps in [startNs, startNs + spanNs). The
    * `salt` separates independent draws (base corpus vs. insert batches)
    * from the same seed, and is folded into every request id so entries
    * from different draws never collide.
    */
  def generate(seed: Long, n: Int, startNs: Long = T0Ns, spanNs: Long = SpanNs,
      salt: Long = 0L, stored: Boolean = true): Array[Entry] = {
    val ss = streams(seed)
    val cdf = zipfCdf(ss.size)
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)
    val out = new Array[Entry](n)
    var i = 0
    while (i < n) {
      val s = ss(sample(cdf, rnd.nextDouble()))
      val ts = startNs + (rnd.nextDouble() * spanNs).toLong
      // ~1% of entries arrive in same-nanosecond bursts of 2-5 lines
      val burst = if (rnd.nextInt(1000) < 3) 2 + rnd.nextInt(4) else 1
      var k = 0
      while (k < burst && i < n) {
        out(i) = entry(rnd, s, ts, salt, i, stored)
        i += 1; k += 1
      }
    }
    out
  }

  private def entry(rnd: SplittableRandom, s: LogStream, ts: Long, salt: Long,
      i: Int, stored: Boolean): Entry = {
    val sts = StatusesByLevel(s.level)
    val status = sts(rnd.nextInt(sts.size))
    val method = Methods(rnd.nextInt(Methods.size))
    val path = "/api/" + Resources(rnd.nextInt(Resources.size))
    val durMs = (math.exp(rnd.nextDouble() * 7.0)).toInt
    val msg = Messages(rnd.nextInt(Messages.size))
    val rid = java.lang.Long.toHexString((salt << 32) | i.toLong)
    val line =
      if (s.json)
        s"""{"level":"${s.level}","method":"$method","path":"$path","status":$status,""" +
          s""""duration_ms":$durMs,"rid":"$rid","msg":"$msg"}"""
      else
        s"""level=${s.level} method=$method path=$path status=$status """ +
          s"""duration=${durMs}ms rid=$rid msg="$msg""""
    Entry(ts, if (stored) s.stored else s.pushed, line, status)
  }

  /** Order-sensitive digest of a corpus, for the determinism self-test. */
  def digest(es: Array[Entry]): Long = {
    var h = 1125899906842597L
    es.foreach { e =>
      h = 31 * h + e.tsNs
      h = 31 * h + e.labels.toSeq.sorted.hashCode
      h = 31 * h + e.line.hashCode
    }
    h
  }
}
