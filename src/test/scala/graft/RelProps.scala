package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

import graft.operators.RelOps

/** Properties: the distributed relational/graph shapes added in round 7
  * (skyline prefix-max, k-core peeling, frontier BFS, ABC sum-prefix
  * offsets) equal their first-principles replays on RANDOM inputs, not
  * just the fixed corpus the specs pin. Generators are small — every
  * case runs Spark jobs — but adversarial where it matters: duplicated
  * points on the skyline frontier, duplicated baskets (so thresholded
  * edges arise), disconnected graph components.
  */
object RelProps extends SeededProperties("RelOpsShapes") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    super.overrideParameters(p).withMinSuccessfulTests(5)

  // full SparkTestBase config block: getOrCreate is JVM-global and test
  // order is arbitrary — if this suite wins the session race with fewer
  // configs, every later suite silently loses them (warehouse dir,
  // corpus parquet contract)
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4,2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft_warehouse_${sys.props.getOrElse("user.name", "u")}")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // -- skyline -------------------------------------------------------------

  private val pointsGen: Gen[Seq[(Long, Double, Int)]] = for {
    n <- Gen.choose(5, 25)
    pts <- Gen.listOfN(n, for {
      price <- Gen.choose(1, 8).map(_.toDouble) // few distinct prices → ties
      size <- Gen.choose(1, 6)
    } yield (price, size))
  } yield pts.zipWithIndex.map { case ((p, sz), i) => (i.toLong, p, sz) }

  property("skyline2d == naive dominance filter on random point sets") =
    Prop.forAllNoShrink(pointsGen) { pts =>
      val s = spark
      import s.implicits._
      val df = pts.toDF("k", "price", "size")
      val got = RelOps.skyline2d(df, "k", "price", "size").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      val expect = pts.filter { case (_, p, sz) =>
        !pts.exists { case (_, q, qz) =>
          q <= p && qz >= sz && (q < p || qz > sz)
        }
      }.map { case (k, p, sz) => (k, p, sz.toLong) }.toSet
      Prop(got == expect) :| s"got=$got expect=$expect pts=$pts"
    }

  // -- graph shapes over random baskets ------------------------------------

  /** Random basket relation: orders of 2–4 parts from a tiny universe,
    * with a duplicated suffix so some pairs reach the n_orders ≥ 2
    * threshold (otherwise the thresholded graph is empty almost always).
    */
  private val basketsGen: Gen[Seq[(Long, Long)]] = for {
    m <- Gen.choose(5, 10)
    baskets <- Gen.listOfN(m, for {
      sz <- Gen.choose(2, 4)
      parts <- Gen.listOfN(sz, Gen.choose(1L, 8L))
    } yield parts.distinct)
    dup <- Gen.choose(1, m)
  } yield (baskets ++ baskets.take(dup)).zipWithIndex.flatMap {
    case (parts, o) => parts.map(p => (o.toLong, p))
  }

  private def thresholdedAdj(rows: Seq[(Long, Long)]): Map[Long, Set[Long]] = {
    val byOrder = rows.groupBy(_._1).values.map(_.map(_._2).distinct.sorted)
    val pairCnt = byOrder.toSeq
      .flatMap(ps => for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j)))
      .groupBy(identity).view.mapValues(_.size).toMap
    // iterator first: collect on a Map would rebuild a MAP keyed by the
    // edge SOURCE, silently collapsing every node's edge list to one
    val edges = pairCnt.iterator.collect { case ((a, b), c) if c >= 2 => (a, b) }.toSeq
    edges.foldLeft(Map.empty[Long, Set[Long]]) { case (m, (a, b)) =>
      m + (a -> (m.getOrElse(a, Set.empty) + b)) +
        (b -> (m.getOrElse(b, Set.empty) + a))
    }
  }

  property("kcore == peel replay on random basket graphs") =
    Prop.forAllNoShrink(basketsGen, Gen.choose(2, 3)) { (rows, k) =>
      val s = spark
      import s.implicits._
      val li = rows.toDF("l_orderkey", "l_partkey")
      val got = RelOps.kcore(li, k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val adj = thresholdedAdj(rows)
      var live = adj.keySet
      var changed = true
      while (changed) {
        val drop = live.filter(n => adj(n).count(live) < k)
        changed = drop.nonEmpty
        live = live -- drop
      }
      val expect = live.map(n => n -> adj(n).count(live).toLong).toMap
      Prop(got == expect) :| s"k=$k got=$got expect=$expect"
    }

  property("bfsLevels == frontier replay on random basket graphs") =
    Prop.forAllNoShrink(basketsGen) { rows =>
      val s = spark
      import s.implicits._
      val li = rows.toDF("l_orderkey", "l_partkey")
      val got = RelOps.bfsLevels(li).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val adj = thresholdedAdj(rows)
      val expect = if (adj.isEmpty) Map.empty[Long, Long] else {
        val src = adj.keys.min
        val dist = scala.collection.mutable.Map(src -> 0L)
        var f = Set(src); var lvl = 0L
        while (f.nonEmpty) {
          lvl += 1
          f = f.flatMap(adj(_)).filterNot(dist.contains)
          f.foreach(n => dist(n) = lvl)
        }
        dist.toMap
      }
      Prop(got == expect) :| s"got=$got expect=$expect"
    }

  // -- ABC sum-prefix offsets ----------------------------------------------

  private val revGen: Gen[Seq[(Long, Double)]] = for {
    n <- Gen.choose(6, 30)
    rows <- Gen.listOfN(n, for {
      part <- Gen.choose(1L, 12L) // few parts → multi-row revenues
      price <- Gen.choose(1, 999).map(_ / 10.0)
    } yield (part, price))
  } yield rows

  property("abcClasses == naive cumulative-share replay on random revenues") =
    Prop.forAllNoShrink(revGen) { rows =>
      val s = spark
      import s.implicits._
      val li = rows.toDF("l_partkey", "l_extendedprice")
      val got = RelOps.abcClasses(li).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
        .toMap
      val rev = rows.groupBy(_._1).view
        .mapValues(_.map(v => math.floor(v._2 * 100 + 0.5).toLong).sum).toMap
      val total = rev.values.sum
      var cum = 0L
      val expect = rev.toSeq.sortBy { case (p, r) => (-r, p) }.map {
        case (p, r) =>
          cum += r
          val cls = if (cum * 100 <= total * 70) "A"
                    else if (cum * 100 <= total * 90) "B" else "C"
          p -> (r, cum, cls)
      }.toMap
      Prop(got == expect) :| s"got=$got expect=$expect"
    }
}
