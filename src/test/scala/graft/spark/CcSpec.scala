package graft.spark

import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The connected-components core against a plain-Scala union-find, on
  * one post-shuffle partition (where the per-partition contraction is
  * the whole answer) and on eight (where the star rounds finish it), and
  * the job counts of the one-partition path.
  */
class CcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Each vertex's smallest component member, by a plain union-find. */
  def minLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  def components(edges: Seq[(Long, Long)], parts: Int): Seq[(Long, Long)] = {
    import spark.implicits._
    Cc.components(spark.sparkContext.parallelize(edges, parts).toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  /** Runs `body` with AQE's partition coalescing off, so the pairs stay
    * in the session's eight shuffle partitions.
    */
  def uncoalesced[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  val graphs: Seq[(String, Seq[(Long, Long)])] = {
    val rand = new scala.util.Random(7)
    val stars = (0 until 6).flatMap { _ =>
      val hub = rand.nextInt(1000).toLong - 500
      (1 to 1 + rand.nextInt(9)).map(i => (hub, hub * 31 + i))
    }
    val path = rand.shuffle((1L to 12L).toList).sliding(2)
      .map { case Seq(a, b) => (a, b) }.toSeq
    val hub = (1L to 500L).map(i => (if (i % 2 == 0) (0L, -i) else (-i, 0L))) ++
      (1L to 40L).map(i => (-i, -i - 100))
    val selfLoops = Seq((5L, 5L), (9L, 9L), (5L, 6L), (7L, 7L), (7L, 8L), (8L, 8L))
    val random = (1 to 6).map { g =>
      val r = new scala.util.Random(g)
      val ids = Seq.fill(40 + r.nextInt(80))(r.nextLong())
      s"random $g" -> Seq.fill(ids.size)(
        (ids(r.nextInt(ids.size)), ids(r.nextInt(ids.size))))
    }
    Seq("stars" -> stars, "12-node path" -> path, "hot hub" -> hub,
      "self-loop-only vertices" -> selfLoops,
      "empty edge set" -> Seq.empty[(Long, Long)]) ++ random
  }

  test("components equal a union-find's min-id labels at 1, 3 and 7 input partitions") {
    for ((shape, run) <- Seq[(String, (=> Seq[(Long, Long)]) => Seq[(Long, Long)])](
        "coalesced" -> (b => b), "eight partitions" -> (b => uncoalesced(b)));
      (name, edges) <- graphs; parts <- Seq(1, 3, 7)) {
      val got = run(components(edges, parts))
      assert(got.map(_._1).distinct.size == got.size, s"$shape $name: duplicate ids")
      assert(got.toMap == minLabels(edges), s"$shape $name at $parts partitions")
    }
  }

  test("a one-partition star graph costs the pairs' shuffle and checkpoint jobs only") {
    import spark.implicits._
    val star = spark.sparkContext.parallelize((1L to 20L).map(i => (0L, i)), 1)
      .toDF("a", "b")
    var cc = spark.emptyDataFrame
    assert(TestSpark.jobsIn { cc = Cc.components(star) } == 2)
    assert(cc.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
      (0L to 20L).map(_ -> 0L).toMap)
  }

  test("an empty edge set costs no job") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    var cc = spark.emptyDataFrame
    assert(TestSpark.jobsIn { cc = Cc.components(none) } == 0)
    assert(cc.isEmpty)
  }
}
