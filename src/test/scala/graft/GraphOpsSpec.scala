package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.GraphOps

class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("non-numeric node ids are rejected loudly") {
    val edges = Seq(("x", "y"), ("y", "z")).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      GraphOps.connectedComponents(spark, edges)
    }
    assert(e.getMessage.contains("numeric node ids"))
  }

  test("a non-ANSI DECIMAL(38,0) label-sum overflow fails loudly, not as convergence") {
    // four chained ids near 10^38: their sum overflows DECIMAL(38,0), which
    // ANSI-off Spark turns into null. Null once read as "empty graph,
    // converged" after round 1, returning the chain split into pieces.
    val id = (i: Int) => "9" + "0" * 36 + i
    val edges = Seq((id(0), id(1)), (id(1), id(2)), (id(2), id(3))).toDF("a", "b")
      .select(col("a").cast("decimal(38,0)").as("a"),
        col("b").cast("decimal(38,0)").as("b"))
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val e = intercept[IllegalArgumentException] {
        GraphOps.connectedComponents(spark, edges).collect()
      }
      assert(e.getMessage.contains("overflowed"))
    } finally spark.conf.set(key, prev)
  }

  test("chain, clique, and separate components get min-id labels") {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("a", "b")
    val got = GraphOps.connectedComponents(spark, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("long chain converges (diameter > 3 checkpoint interval)") {
    val n = 30
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val got = GraphOps.connectedComponents(spark, edges, maxIters = 40)
      .as[(Long, Long)].collect().toMap
    assert(got.size == n && got.values.forall(_ == 1L))
  }

  test("per-round checkpoint blocks are freed, not accumulated") {
    // a 30-round chain leaks ~30 checkpointed RDDs if rounds are never
    // freed; after the run only O(1) persistent RDDs may remain (the
    // result + async-unpersist stragglers)
    val before = spark.sparkContext.getPersistentRDDs.size
    val n = 30
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    GraphOps.connectedComponents(spark, edges, maxIters = 40).count()
    val afterCc = spark.sparkContext.getPersistentRDDs.size
    assert(afterCc - before <= 4,
      s"connectedComponents leaked checkpoint RDDs: $before -> $afterCc")
    GraphOps.connectedComponentsStar(spark, edges).count()
    val afterStar = spark.sparkContext.getPersistentRDDs.size
    assert(afterStar - afterCc <= 4,
      s"connectedComponentsStar leaked checkpoint RDDs: $afterCc -> $afterStar")
  }

  test("matches brute-force union-find on a random graph") {
    val rng = new scala.util.Random(3)
    val edges = (1 to 60).map(_ => (rng.nextInt(40).toLong, rng.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val got = GraphOps.connectedComponents(spark, edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    // union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
    // normalize: component representative = min member both sides
    def canon(m: Map[Long, Long]) =
      m.groupBy(_._2).values.flatMap { grp =>
        val members = grp.keys.toSet + grp.head._2
        val mn = members.min
        members.map(_ -> mn)
      }.toMap
    assert(canon(got) == canon(want))
  }

  test("star algorithm: chain, clique, separate components, self-loop") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L), (30L, 30L)).toDF("a", "b")
    val got = GraphOps.connectedComponentsStar(spark, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L,
      30L -> 30L))
  }

  test("star algorithm: 200-node chain converges in O(log d) rounds") {
    val n = 200 // diameter 199 — far beyond the 30-iteration bound;
                // only a doubling algorithm converges here
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val got = GraphOps.connectedComponentsStar(spark, edges)
      .as[(Long, Long)].collect().toMap
    assert(got.size == n && got.values.forall(_ == 1L))
  }

  test("star algorithm matches min-label propagation on random graphs") {
    val rng = new scala.util.Random(7)
    val edges = (1 to 80).map(_ => (rng.nextInt(50).toLong, rng.nextInt(50).toLong))
      .filter { case (a, b) => a != b }.toDF("a", "b")
    val viaStar = GraphOps.connectedComponentsStar(spark, edges)
      .as[(Long, Long)].collect().toMap
    val viaProp = GraphOps.connectedComponents(spark, edges)
      .as[(Long, Long)].collect().toMap
    assert(viaStar == viaProp)
  }

  test("star algorithm handles mixed-sign ids (xxhash64-hashed usage)") {
    // the scaladoc tells callers to xxhash64 non-numeric ids, which are
    // negative half the time. The convergence metric must not false-fire
    // when a resolved interior node with a negative label drops out of the
    // edge set between rounds (a bare label-min-sum comparison would see
    // the sum INCREASE); deep chains + negative minima exercise exactly
    // that. Reference = min-label propagation on the same edges.
    def h(i: Int): Long = if (i % 2 == 0) -37L * i - 5 else 41L * i
    val rng = new scala.util.Random(13)
    val chain = (1 until 24).map(i => (h(i), h(i + 1)))
    val rand = (1 to 60).map(_ => (h(rng.nextInt(40)), h(rng.nextInt(40))))
    val edges = (chain ++ rand).filter { case (a, b) => a != b }.toDF("a", "b")
    val viaStar = GraphOps.connectedComponentsStar(spark, edges, maxIters = 40)
      .as[(Long, Long)].collect().toMap
    val viaProp = GraphOps.connectedComponents(spark, edges, maxIters = 60)
      .as[(Long, Long)].collect().toMap
    assert(viaStar == viaProp)
    assert(viaStar.keys.exists(_ < 0) && viaStar.values.exists(_ < 0))
  }

  test("star algorithm rejects non-numeric ids") {
    val edges = Seq(("x", "y")).toDF("a", "b")
    intercept[IllegalArgumentException] {
      GraphOps.connectedComponentsStar(spark, edges)
    }
  }

  /** Reference k-core: peel to fixpoint with plain Scala maps. */
  private def kCoreRef(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var e = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.distinct
    var changed = true
    while (changed) {
      val deg = e.groupBy(_._1).map { case (n, es) => n -> es.size }
      val keep = deg.filter(_._2 >= k).keySet
      val next = e.filter { case (a, b) => keep(a) && keep(b) }
      changed = next.size != e.size
      e = next
    }
    e.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
  }

  test("kCore matches brute-force peeling on a random graph") {
    val rng = new scala.util.Random(11)
    val edges = (1 to 120)
      .map(_ => (rng.nextInt(45).toLong, rng.nextInt(45).toLong))
      .filter { case (a, b) => a != b }
    // 45 nodes: rounds=45 is a safe fixpoint bound (each productive
    // round removes ≥1 node; extra rounds are no-ops)
    val got = GraphOps.kCore(spark, edges.toDF("a", "b"), k = 3, rounds = 45)
      .as[(Long, Long)].collect().toMap
    assert(got == kCoreRef(edges, 3))
  }

  test("kCore: triangle chained to a tail — tail peels, triangle survives") {
    // triangle {1,2,3} + tail 3-4-5: at k=2 the tail peels node by
    // node (5 first, then 4), needing MULTIPLE rounds — pinning that
    // one round is not a fixpoint
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val got = GraphOps.kCore(spark, edges.toDF("a", "b"), k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // and with too few rounds the tail is only PARTIALLY peeled —
    // the fixed-round contract, matching the unrolled oracle
    val partial = GraphOps.kCore(spark, edges.toDF("a", "b"), k = 2,
      rounds = 1).as[(Long, Long)].collect().toMap
    assert(partial == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
  }

  test("kCore frees per-round checkpoint blocks") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val rng = new scala.util.Random(13)
    val edges = (1 to 100)
      .map(_ => (rng.nextInt(40).toLong, rng.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.toDF("a", "b")
    GraphOps.kCore(spark, edges, k = 3, rounds = 12).count()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 4,
      s"kCore leaked checkpoint RDDs: $before -> $after")
  }

  test("labelPropagation separates two triangles over a bridge") {
    // triangles {1,2,3} and {10,11,12} joined by bridge 3-10: inside a
    // triangle each node sees 2 same-community neighbors, across the
    // bridge only 1 — LPA settles each triangle on its min label
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("a", "b")
    val got = GraphOps.labelPropagation(spark, edges, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 6)
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L, s"left: $got")
    assert(got(10L) == got(11L) && got(11L) == got(12L), s"right: $got")
    assert(got(10L) != got(1L), s"communities merged: $got")
  }

  test("labelPropagation one round is the exact synchronous update") {
    // star center 0 with leaves 1,2,3: after ONE sync round the center
    // adopts min leaf label 1; every leaf adopts the center's OLD label
    // 0 (synchronous = all updates read round-(r-1) labels)
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val got = GraphOps.labelPropagation(spark, edges, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  test("hits: two exact rounds on a hand-computed fan graph") {
    // 1→3, 2→3, 3→4, 1→4.  h0 = 1 everywhere.
    // a1 = indeg: a1(3)=2, a1(4)=2.  h1(1)=a1(3)+a1(4)=4, h1(2)=2, h1(3)=2.
    // a2(3)=h1(1)+h1(2)=6, a2(4)=h1(3)+h1(1)=6.
    // h2(1)=a2(3)+a2(4)=12, h2(2)=6, h2(3)=6, h2(4)=0.
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L), (1L, 4L))
      .toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("node")
    val got = GraphOps.hits(spark, edges, nodes, rounds = 2)
      .selectExpr("node", "CAST(auth AS LONG)", "CAST(hub AS LONG)")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(1L -> (0L, 12L), 2L -> (0L, 6L),
      3L -> (6L, 6L), 4L -> (6L, 0L)))
  }

  test("hits frees per-round checkpoint blocks") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val rng = new scala.util.Random(11)
    val edges = (1 to 150)
      .map(_ => (rng.nextInt(40).toLong, rng.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val nodes = (0L until 40L).toDF("node")
    GraphOps.hits(spark, edges, nodes, rounds = 4).count()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 4,
      s"hits leaked checkpoint RDDs: $before -> $after")
  }

  test("labelPropagation frees per-round checkpoint blocks") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val rng = new scala.util.Random(7)
    val edges = (1 to 120)
      .map(_ => (rng.nextInt(50).toLong, rng.nextInt(50).toLong))
      .filter { case (a, b) => a != b }.toDF("a", "b")
    GraphOps.labelPropagation(spark, edges, rounds = 10).count()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 4,
      s"labelPropagation leaked checkpoint RDDs: $before -> $after")
  }
}
